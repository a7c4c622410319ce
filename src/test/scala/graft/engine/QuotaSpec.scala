package graft.engine

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.Files

/** Admission control (SURVEY §2.6 O6): concurrent-safe quota reserve
  * (reference: search/limits.go:45-74, incl. its concurrent-reserve
  * test search/limits_test.go:10-148) and metadata-only pre-flight
  * refusal of overweight decodes (reference: search/materialize.go:939-957).
  */
class QuotaSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-quota-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
  locally { spark.sparkContext.setLogLevel("WARN") }

  override def afterAll(): Unit = spark.stop()

  test("quota: sequential reserve exhausts exactly at the limit") {
    val q = Quota(100)
    q.reserve("rows", 60)
    q.reserve("rows", 40)
    val e = intercept[ResourceExhausted] { q.reserve("rows", 1) }
    assert(e.resource == "rows" && e.limit == 100 && e.requested == 1 && e.used == 100)
    assert(q.used == 100, "failed reservation must not debit the budget")
  }

  test("quota: a failed reservation leaves the budget for smaller asks") {
    val q = Quota(100)
    q.reserve("bytes", 90)
    intercept[ResourceExhausted] { q.reserve("bytes", 20) }
    q.reserve("bytes", 10) // still admissible after the refusal
    assert(q.used == 100)
  }

  test("quota: a Long.MaxValue-grade request cannot overflow past the limit") {
    val q = Quota(100)
    q.reserve("rows", 50)
    // u + n wraps negative here; the overflow-proof check must refuse
    val e = intercept[ResourceExhausted] { q.reserve("rows", Long.MaxValue) }
    assert(e.used == 50 && q.used == 50)
    intercept[IllegalArgumentException] { q.reserve("rows", -1) }
  }

  test("quota: unlimited never refuses") {
    val q = Quota.unlimited
    q.reserve("rows", Long.MaxValue / 2)
    q.reserve("rows", Long.MaxValue / 2)
    assert(q.used == 0, "unlimited quota tracks nothing, like the reference's q=0")
  }

  test("quota: concurrent reserves never oversubscribe") {
    // 16 threads x 200 unit reserves against a budget of 1000: exactly
    // 1000 must be admitted regardless of interleaving
    val q = Quota(1000)
    val admitted = new java.util.concurrent.atomic.AtomicLong(0)
    val threads = Array.tabulate(16)(_ => new Thread(() => {
      var i = 0
      while (i < 200) {
        try { q.reserve("rows", 1); admitted.incrementAndGet() }
        catch { case _: ResourceExhausted => }
        i += 1
      }
    }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(admitted.get() == 1000 && q.used == 1000)
  }

  test("admission: overweight decode is refused from metadata alone") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-quota").toString
    val ds = Fixtures.tokenTable(spark, 300, seed = 7, medianLen = 64, maxLen = 512, partitions = 2)
    Pipeline.run(spark, ds, out, tokensPerChunk = 16 * 1024, waves = 1)

    // CORRUPT every payload on disk: if admission DECODED the payload,
    // the checksum kernel would throw ChecksumMismatch instead of the
    // quota refusal we assert — proof the refusal never runs the decode
    // kernel. (The stronger I/O claim — the pre-flight's at-rest scan
    // reads no payload COLUMNS — is pinned by PlanSpec's ReadSchema
    // test; this Dataset is in-memory-mapped, so column pruning does
    // not apply here.)
    val corrupted = Pipeline.readChunks(spark, out)
      .map(c => c.copy(tokens_enc = Array[Byte](1, 2, 3)))
    val tight = Admission.Budgets(tokens = Quota(10)) // corpus is way bigger
    val e = intercept[ResourceExhausted] {
      Admission.decodeAdmittedWithCost(corrupted, tight)._1.count()
    }
    assert(e.resource == "token_count" && e.limit == 10)
  }

  test("admission: a refusal on one leg rolls back the other budgets") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-quota").toString
    val ds = Fixtures.tokenTable(spark, 100, seed = 12, medianLen = 64, maxLen = 512, partitions = 2)
    Pipeline.run(spark, ds, out, tokensPerChunk = 1 << 20, waves = 1)

    // rows budget admits, tokens budget refuses: the refused query must
    // leave BOTH budgets untouched, or retries drain the rows budget and
    // wrongly starve later queries sharing it
    val budgets = Admission.Budgets(rows = Quota(1000), tokens = Quota(10))
    intercept[ResourceExhausted] {
      Pipeline.readTokensAdmittedWithCost(spark, out, budgets)._1.count()
    }
    assert(budgets.rows.used == 0, s"rows budget leaked: ${budgets.rows.used}")
    assert(budgets.tokens.used == 0)
    // the shared rows budget still admits a query that fits
    val ok = Admission.Budgets(rows = budgets.rows)
    assert(Pipeline.readTokensAdmittedWithCost(spark, out, ok)._1.count() == 100)
  }

  test("admission: a roomy budget decodes identically to the unguarded path") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-quota").toString
    val ds = Fixtures.tokenTable(spark, 200, seed = 8, medianLen = 64, maxLen = 512, partitions = 2)
    Pipeline.run(spark, ds, out, tokensPerChunk = 16 * 1024, waves = 1)

    val budgets = Admission.Budgets(
      rows = Quota(1000000), tokens = Quota(1L << 40), encodedBytes = Quota(1L << 40))
    val guarded = Pipeline.readTokensAdmittedWithCost(spark, out, budgets)._1
      .map(r => (r.doc_id, r.tokens.toSeq)).collect().toMap
    val plain = Pipeline.readTokens(spark, out)
      .map(r => (r.doc_id, r.tokens.toSeq)).collect().toMap
    assert(guarded == plain)
    // and the budgets were actually debited by the pre-flight aggregate
    assert(budgets.rows.used == 200)
    assert(budgets.tokens.used > 0 && budgets.encodedBytes.used > 0)
  }

  test("admission: shared budget across queries — second decode is refused") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-quota").toString
    val ds = Fixtures.tokenTable(spark, 100, seed = 9, medianLen = 64, maxLen = 512, partitions = 2)
    Pipeline.run(spark, ds, out, tokensPerChunk = 1 << 20, waves = 1)

    // budget admits one full decode but not two (tenant-style sharing)
    val budgets = Admission.Budgets(rows = Quota(150))
    assert(Pipeline.readTokensAdmittedWithCost(spark, out, budgets)._1.count() == 100)
    intercept[ResourceExhausted] {
      Pipeline.readTokensAdmittedWithCost(spark, out, budgets)._1.count()
    }
  }
}
