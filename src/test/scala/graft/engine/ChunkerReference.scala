package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Chunker's two sizing pre-passes as DataFrame aggregates
  * (`groupBy` + `collect`), and the chunk assignment built on them: the
  * reference [[Chunker]]'s one-job pre-passes must reproduce exactly.
  * Under AQE each aggregate costs two Spark jobs (its exchange's map
  * stage, then the collect), which is why `src/main` no longer runs them.
  */
object ChunkerReference {

  /** Pre-pass 1: token mass per source -> base bucket count per source. */
  def sourceBuckets(stats: DataFrame, tokensPerChunk: Long): Map[String, Long] =
    stats
      .groupBy(col("source"))
      .agg(sum(col("n_tok")).as("src_tokens"))
      .where(col("source").isNotNull)
      .select(
        col("source"),
        greatest(
          lit(1L),
          ceil(col("src_tokens").cast("double") / tokensPerChunk).cast("long")
        ))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Pre-pass 2: per-bucket token mass -> split factors above 1. */
  def bucketSplits(based: DataFrame, tokensPerChunk: Long): Map[(String, Long), Int] =
    based
      .groupBy(col("source"), col("base_id"))
      .agg(sum(col("n_tok")).as("bucket_tokens"))
      .select(
        col("source"),
        col("base_id"),
        greatest(
          lit(1),
          least(
            lit(Chunker.MaxSplit),
            ceil(col("bucket_tokens").cast("double") / tokensPerChunk)
          )
        ).cast("int").as("split")
      )
      .where(col("split") > 1)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap

  /** [[Chunker.assignChunks]] over the aggregates above. */
  def assignChunks(
      df: DataFrame,
      tokensPerChunk: Long,
      planTag: String = "",
      meta: Option[DataFrame] = None
  ): DataFrame = {
    val statsIn = meta.getOrElse(df).select(col("source"), col("doc_id"), col("n_tok"))
    val sc = df.sparkSession.sparkContext
    val numBaseMap = sourceBuckets(statsIn, tokensPerChunk)
    val fileNames = java.nio.charset.Charset.forName(System.getProperty("sun.jnu.encoding"))
    numBaseMap.keys.find(!fileNames.newEncoder().canEncode(_)).foreach { s =>
      throw new IllegalArgumentException(s"source \"$s\" cannot be a directory name")
    }
    val numBase = sc.broadcast(numBaseMap)
    val numBaseOf = udf((s: String) => numBase.value.get(s).map(Long.box).orNull)
    def withBase(rows: DataFrame) = rows
      .withColumn("num_base", numBaseOf(col("source")))
      .where(col("num_base").isNotNull)
      .withColumn("base_id", pmod(xxhash64(col("doc_id")), col("num_base")))
      .drop("num_base")
    val splits = sc.broadcast(bucketSplits(withBase(statsIn), tokensPerChunk))
    val splitOf = udf((s: String, base: Long) => splits.value.getOrElse((s, base), 1))
    withBase(df)
      .withColumn(
        "chunk_id",
        xxhash64(
          lit(planTag),
          col("source"),
          col("base_id"),
          pmod(xxhash64(col("doc_id"), lit("salt")), splitOf(col("source"), col("base_id")).cast("long"))))
      .drop("base_id")
  }
}
