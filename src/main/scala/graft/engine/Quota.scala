package graft.engine

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

/** Admission refusal: the query asked for more of a resource than its
  * budget admits. Carries the same information as the reference's
  * resource-exhausted error (used amount; reference:
  * search/limits.go:30-42) plus which resource and how much was asked.
  */
final case class ResourceExhausted(resource: String, limit: Long, requested: Long, used: Long)
    extends RuntimeException(
      s"resource exhausted: $resource budget $limit cannot admit $requested (already used $used)")

/** A concurrent-safe reservation budget for one resource — the analog of
  * the reference's mutex'd `Quota.Reserve` (reference:
  * search/limits.go:45-74). `limit <= 0` means unlimited, mirroring the
  * reference's `UnlimitedQuota`.
  *
  * One Quota instance is shared by every query admitted against the same
  * budget (a tenant, a pipeline stage); reservations are CAS-atomic so
  * concurrent admissions never oversubscribe.
  */
final class Quota(val limit: Long) extends Serializable {
  private val usedCtr = new java.util.concurrent.atomic.AtomicLong(0L)

  def used: Long = usedCtr.get()

  /** Reserve `n` units or throw [[ResourceExhausted]] — the budget is
    * only debited when the whole reservation fits (failed admissions
    * leave the budget untouched for other queries, as in the reference).
    */
  def reserve(resource: String, n: Long): Unit = {
    require(n >= 0, s"negative reservation: $n")
    if (limit <= 0) return
    var admitted = false
    while (!admitted) {
      val u = usedCtr.get()
      // overflow-proof form of u + n > limit: u <= limit always holds,
      // so limit - u never underflows, while u + n can wrap negative
      // for a Long.MaxValue-grade request and falsely admit it
      if (n > limit - u) throw ResourceExhausted(resource, limit, n, u)
      admitted = usedCtr.compareAndSet(u, u + n)
    }
  }

  /** Return a reservation to the budget — used to roll back the earlier
    * legs of a multi-quota admission when a later leg is refused, so a
    * refused query leaves EVERY budget untouched (see
    * [[Admission.decodeAdmittedWithCost]]).
    */
  def release(n: Long): Unit = {
    require(n >= 0, s"negative release: $n")
    if (limit <= 0) return
    usedCtr.addAndGet(-n)
  }
}

object Quota {
  def apply(limit: Long): Quota = new Quota(limit)
  def unlimited: Quota = new Quota(0L)
}

/** Admission-controlled decode: the Spark-first re-expression of the
  * reference's quota checks, which reserve row-count and page-byte
  * budgets from footer metadata BEFORE materializing any page
  * (reference: search/materialize.go:939-957, checked at 153 and 875).
  *
  * Shape here: ONE metadata-only aggregate over the chunks scan — the
  * payload columns are pruned by Catalyst and never leave parquet — then
  * either the decode plan is returned or the query is refused with
  * [[ResourceExhausted]]. At 100 TB this is the difference between a
  * refused query costing one footer-grade metadata job and costing a
  * full-cluster decode that is killed halfway.
  */
object Admission {

  final case class Budgets(
      rows: Quota = Quota.unlimited,
      tokens: Quota = Quota.unlimited,
      /** encoded payload bytes that decode would have to read — the
        * analog of the reference's chunk-bytes quota over offset-index
        * page sizes (reference: search/materialize.go:946-957).
        */
      encodedBytes: Quota = Quota.unlimited
  )

  /** The pre-flight cost aggregate: (row_count, token_count,
    * encoded_bytes) of decoding `chunks`. Exposed so plan tests can pin
    * the property the whole design rests on: over an at-rest chunks
    * table this plan's parquet scan reads ONLY the three small metadata
    * columns — the payload never leaves parquet for a refused query.
    */
  def preflightStats(chunks: Dataset[EncodedChunk]): org.apache.spark.sql.DataFrame =
    chunks.toDF()
      .agg(
        coalesce(sum("n_rows"), lit(0L)).cast("long").as("row_count"),
        coalesce(sum("n_tokens"), lit(0L)).cast("long").as("token_count"),
        coalesce(sum("encoded_bytes"), lit(0L)).cast("long").as("encoded_bytes"))

  /** The cost a successful admission reserved — returned to callers so
    * reporting it never re-runs the pre-flight aggregate.
    */
  final case class AdmittedCost(rows: Long, tokens: Long, encodedBytes: Long)

  /** Pre-flight the cost of decoding `chunks` against `budgets`; returns
    * the decode Dataset, with the cost it reserved, only when every
    * budget admits the reservation. The pre-flight aggregate reads ONLY
    * small metadata columns (n_rows, n_tokens, encoded_bytes) — a
    * refused query never touches, let alone decodes, the payload.
    */
  def decodeAdmittedWithCost(
      chunks: Dataset[EncodedChunk],
      budgets: Budgets
  ): (Dataset[TokenRow], AdmittedCost) = {
    val stats = preflightStats(chunks).first()
    // all-or-nothing across the three budgets: a refusal on a later leg
    // rolls back the earlier legs, so a refused query leaves every
    // shared budget exactly as it found it (the per-Quota promise —
    // failed admissions don't debit — must hold for the composite too)
    budgets.rows.reserve("row_count", stats.getLong(0))
    try {
      budgets.tokens.reserve("token_count", stats.getLong(1))
      try budgets.encodedBytes.reserve("encoded_bytes", stats.getLong(2))
      catch {
        case e: ResourceExhausted =>
          budgets.tokens.release(stats.getLong(1)); throw e
      }
    } catch {
      case e: ResourceExhausted if e.resource != "row_count" =>
        budgets.rows.release(stats.getLong(0)); throw e
    }
    (Decoder.decode(chunks),
      AdmittedCost(stats.getLong(0), stats.getLong(1), stats.getLong(2)))
  }
}
