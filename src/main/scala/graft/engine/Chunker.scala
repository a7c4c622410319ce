package graft.engine

import scala.collection.mutable
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Deterministic, skew-aware, source-clustered chunk assignment.
  *
  * chunk ids are derived from the data (xxhash64 of source/doc_id),
  * never from time or randomness, so re-runs reproduce identical chunks
  * — the property that makes resume from the chunks table sound (the reference
  * gets the same reproducibility from its global sort + rowsPerShard
  * ceiling math, reference: convert/convert.go:765, 777-784).
  *
  * Chunks are **single-source**: buckets are allocated per source in
  * proportion to its token mass. That is the analog of the reference's
  * sorted-by-label layout (convert/convert.go:547-554) re-expressed for
  * a hash world: it is what lets the decode path prune whole chunks by
  * `part_source` (Hive partition pruning / parquet row-group stats)
  * instead of reading everything, makes the source column a constant
  * (free RLE), and keeps per-source token distributions together where
  * dictionaries/FoR frames fit tighter.
  *
  * Skew handling is token-weighted, not row-weighted, at two levels:
  * source-level (a 70%-mass source gets 70% of the buckets) and
  * bucket-level (a base bucket whose `sum(n_tok)` exceeds the budget is
  * split into ceil(sum/budget) sub-buckets by a second hash) — the
  * analog of the reference's greedy shard cuts on row/column overflow
  * (convert/convert.go:799-844). Both pre-passes are column-only scans
  * that read three small columns, never the payload, and each is ONE
  * Spark job ([[sourceBuckets]]: per-task sums folded on the driver;
  * [[bucketSplits]]: one map-side-combined shuffle). At 100 TB pre-pass
  * 1 ships |sources| sums per task, pre-pass 2 shuffles one partial sum
  * per (task, bucket), and no per-doc state reaches the driver.
  */
object Chunker {
  /** Max split factor per base bucket (second-level skew salting). */
  final val MaxSplit = 1 << 16

  /** Default token budget per chunk: ~4M tokens = 16 MB of int32 —
    * small enough to encode comfortably in one task, large enough that
    * codec headers amortize and dictionaries stabilize.
    */
  final val DefaultTokensPerChunk = 4L << 20

  /** Plan result: the input with `chunk_id` attached. Deterministic:
    * chunk_id = xxhash64(planTag, source, base-bucket-in-source, salt),
    * where base = xxhash64(doc_id) mod (buckets of this source) and
    * salt splits overweight buckets.
    *
    * `planTag` scopes chunk identity to one input split: the plan
    * (bucket counts) is a function of the split's token mass, so two
    * DIFFERENT splits (e.g. two streaming micro-batches) would otherwise
    * collide on chunk ids, which key every chunk of the table (lookups,
    * the doc index). Same split + same data → same ids
    * (resume/replay idempotence); different split → disjoint ids.
    */
  /** @param meta optional lightweight plan-statistics source: a
    *        DataFrame with (source, doc_id, n_tok) columns ROW-
    *        EQUIVALENT to df's projection onto those columns. The two
    *        pre-passes (per-source token mass, per-bucket split
    *        factors) read `meta` instead of re-evaluating `df` —
    *        decisive when df is an expensive opaque plan (compaction's
    *        decode+dedup) that column pruning cannot reach: the
    *        payload plan then evaluates exactly ONCE (the final
    *        chunk-id attach) instead of three times. Guide §2.3/§8:
    *        decide with small rows, move the heavy rows once. chunk
    *        ids stay a pure function of the input either way (both
    *        pre-passes remain deterministic functions of the same
    *        rows), so resume/replay idempotence is unchanged.
    */
  def assignChunks(
      df: DataFrame,
      tokensPerChunk: Long = DefaultTokensPerChunk,
      planTag: String = "",
      meta: Option[DataFrame] = None
  ): DataFrame = {
    // a chunk's token stream is one Int-indexed array in the encode
    // kernel (and the point-decode paths compute Int slice offsets
    // into it), so the target size must leave headroom for the
    // last-doc overshoot; reject absurd CLI values up front instead
    // of failing deep inside a 100 TB encode
    require(tokensPerChunk >= 1 && tokensPerChunk <= (1L << 30),
      s"tokensPerChunk must be in [1, 2^30], got $tokensPerChunk " +
        "(a chunk's tokens are one Int-indexed array; 2^30 leaves 2x headroom " +
        "for the final doc's overshoot)")
    // plan-statistics source: the (source, doc_id, n_tok) projection —
    // df itself (column-prunable for columnar inputs), or the caller's
    // cheaper row-equivalent metadata plan
    val statsIn = meta.getOrElse(df).select(col("source"), col("doc_id"), col("n_tok"))

    // Both pre-passes yield small maps (|sources| entries; the
    // overweight buckets), each looked up per row from an ordinary
    // broadcast, not joined: a broadcast join's hash relation takes a
    // whole Tungsten page (16 MB at the default page size) however few
    // its rows, and the driver keeps it until the ContextCleaner drops
    // the broadcast.
    val sc = df.sparkSession.sparkContext
    val numBaseMap = sourceBuckets(statsIn, tokensPerChunk)
    // each source names a `part_source=` directory of the chunks table.
    // A JVM whose file-name charset cannot encode a source (`café` under
    // an ASCII locale) would fail that write mid-encode, after earlier
    // waves committed; such a source is refused here, before any wave
    // writes
    val fileNames = java.nio.charset.Charset.forName(System.getProperty("sun.jnu.encoding"))
    numBaseMap.keys.find(!fileNames.newEncoder().canEncode(_)).foreach { s =>
      throw new IllegalArgumentException(
        s"source \"$s\" cannot be a directory name: this JVM's file-name charset " +
          s"(sun.jnu.encoding) is $fileNames; run under a UTF-8 locale or rename the source")
    }
    val numBase = sc.broadcast(numBaseMap)
    // pre-pass 2 reads statsIn (same rows, same base_id formula) so an
    // expensive df is not evaluated a third time
    val splits = sc.broadcast(bucketSplits(withBase(statsIn, numBase), tokensPerChunk))
    val splitOf = udf((s: String, base: Long) => splits.value.getOrElse((s, base), 1))

    withBase(df, numBase)
      .withColumn(
        "chunk_id",
        xxhash64(
          lit(planTag),
          col("source"),
          col("base_id"),
          pmod(xxhash64(col("doc_id"), lit("salt")), splitOf(col("source"), col("base_id")).cast("long"))))
      .drop("base_id")
  }

  /** Pre-pass 1: each source's base bucket count, max(1, ceil(token
    * mass / tokensPerChunk)), from the (source, n_tok) columns of
    * `stats`. One Spark job, no shuffle: each task folds its rows into per-source
    * sums keyed by the source's UTF-8 bytes (as a SQL group-by keys
    * them), and the driver adds the tasks' |sources|-entry partials. A
    * null source drops out; a null n_tok adds nothing.
    */
  private[engine] def sourceBuckets(stats: DataFrame, tokensPerChunk: Long): Map[String, Long] = {
    val rows = stats.select(col("source"), col("n_tok").cast("long")).queryExecution.toRdd
    val mass = rows.aggregate(mutable.HashMap.empty[UTF8String, Long])(
      (m, r) => {
        if (!r.isNullAt(0)) {
          val n = if (r.isNullAt(1)) 0L else r.getLong(1)
          val s = r.getUTF8String(0) // a view into the reused row
          m.get(s) match {
            case Some(sum) => m.update(s, sum + n)
            case None => m.update(s.copy(), n)
          }
        }
        m
      },
      (a, b) => { b.foreach { case (s, n) => a.update(s, a.getOrElse(s, 0L) + n) }; a })
    mass.iterator.map { case (s, n) =>
      s.toString -> math.max(1L, math.ceil(n.toDouble / tokensPerChunk).toLong)
    }.toMap
  }

  /** `rows` with `base_id`, the doc's base bucket within its source:
    * pmod(xxhash64(doc_id), the source's bucket count). Rows whose
    * source has no bucket count drop out, as in an inner join.
    */
  private[engine] def withBase(rows: DataFrame, numBase: Broadcast[Map[String, Long]]): DataFrame = {
    val numBaseOf = udf((s: String) => numBase.value.get(s).map(Long.box).orNull)
    rows
      .withColumn("num_base", numBaseOf(col("source")))
      .where(col("num_base").isNotNull)
      .withColumn("base_id", pmod(xxhash64(col("doc_id")), col("num_base")))
      .drop("num_base")
  }

  /** Pre-pass 2: the split factor of each overweight base bucket,
    * min(MaxSplit, ceil(bucket mass / tokensPerChunk)), for the buckets
    * where it is above 1, from the (source, base_id, n_tok) columns of
    * `based`. One Spark job with one shuffle: a `reduceByKey` with
    * map-side combine, as wide as the scan but never wider than
    * `spark.sql.shuffle.partitions`. A bucket whose every n_tok is null
    * has no mass and takes MaxSplit, as the SQL aggregate gave it (its
    * sum is null, and `least` skips a null).
    */
  private[engine] def bucketSplits(based: DataFrame, tokensPerChunk: Long): Map[(String, Long), Int] = {
    val rows = based.select(col("source"), col("base_id"), col("n_tok").cast("long")).queryExecution.toRdd
    val width = math.max(1,
      math.min(rows.getNumPartitions, based.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt))
    val noMass: java.lang.Long = null
    rows
      .map(r => (r.getUTF8String(0).copy(), r.getLong(1)) -> (if (r.isNullAt(2)) noMass else Long.box(r.getLong(2))))
      .reduceByKey((a, b) => if (a == null) b else if (b == null) a else Long.box(a + b), width)
      .flatMap { case ((s, base), mass) =>
        val split =
          if (mass == null) MaxSplit
          else math.max(1L, math.min(MaxSplit.toLong, math.ceil(mass.toDouble / tokensPerChunk).toLong)).toInt
        if (split > 1) Some((s.toString, base) -> split) else None
      }
      .collect().toMap
  }

  /** Typed variant producing ChunkedRow. */
  def chunked(
      ds: Dataset[TokenRow],
      tokensPerChunk: Long = DefaultTokensPerChunk,
      planTag: String = "",
      meta: Option[DataFrame] = None
  ): Dataset[ChunkedRow] = {
    val spark = ds.sparkSession
    import spark.implicits._
    assignChunks(ds.toDF(), tokensPerChunk, planTag, meta)
      .select("chunk_id", "doc_id", "tokens", "n_tok", "source")
      .as[ChunkedRow]
  }
}
