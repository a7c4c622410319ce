package graft.perfbench

import graft.engine.{Pipeline, TokenRow, Verifier}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Order-free content digest of a token table: rows, tokens, and the
  * XOR of a per-row hash over (doc_id, tokens, source). Two tables with
  * equal digests hold the same rows with overwhelming probability.
  */
final case class Digest(rows: Long, tokens: Long, hash: Long)

/** The generated input of one run, persisted as parquet+zstd the way a
  * user's token table sits on disk. Written by stock Spark, that copy
  * is also the reference `size_vs_stock` compares against.
  */
final case class Input(ds: Dataset[TokenRow], digest: Digest, stockBytes: Long)

object Table {
  /** 14k rows, about 12 M tokens; a quarter of the rows are the
    * dict-friendly regime. Sized so one encode pass takes about two
    * seconds on 4 cores and a whole run stays under a minute.
    */
  def corpus(seed: Long): Corpus = Corpus(seed, zipfRows = 10500, dictRows = 3500)

  /** Chunk budget scaled down with the corpus (the engine default is
    * 4 M tokens): about fifty chunks, several per encode task, as in a
    * production-sized table.
    */
  final val TokensPerChunk = 1L << 18
  /** [[Pipeline.run]]'s own default. */
  final val Waves = 1

  private def digestColumns = Seq(count(lit(1)), coalesce(sum("n_tok"), lit(0L)),
    coalesce(bit_xor(xxhash64(col("doc_id"), col("tokens"), col("source"))), lit(0L)))

  /** Persist the generated table; its digest rides the write. */
  def prepare(spark: SparkSession, corpus: Corpus, work: String): Input = {
    import spark.implicits._
    val path = s"$work/input"
    val obs = org.apache.spark.sql.Observation("input-digest")
    val cols = digestColumns
    corpus.dataset(spark, 2 * Main.Cores).toDF()
      .observe(obs, cols.head.as("rows"), cols(1).as("tokens"), cols(2).as("hash"))
      .write.mode("overwrite").option("compression", "zstd").parquet(path)
    val d = obs.get
    Input(spark.read.parquet(path).as[TokenRow],
      Digest(d("rows").asInstanceOf[Long], d("tokens").asInstanceOf[Long], d("hash").asInstanceOf[Long]),
      Verifier.dirBytes(path))
  }

  def digest(ds: Dataset[TokenRow]): Digest = {
    val r = ds.toDF().agg(digestColumns.head, digestColumns.tail: _*).first()
    Digest(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** A consumer's full scan: decode every chunk (checksums verified)
    * and fold every row into the digest.
    */
  def scan(spark: SparkSession, dir: String): Digest = digest(Pipeline.readTokens(spark, dir))

  /** Identity of an encoded table from its lineage: chunk count, rows,
    * tokens, encoded bytes and the XOR of (chunk id, checksum) hashes.
    */
  def fingerprint(spark: SparkSession, dir: String): Seq[Long] = {
    val lin = Pipeline.readLineage(spark, dir)
      .getOrElse(throw new IllegalStateException(s"no lineage in $dir"))
    val r = lin.agg(count(lit(1)), sum("row_count"), sum("token_count"),
      sum("encoded_bytes"), bit_xor(xxhash64(col("chunk_id"), col("checksum")))).first()
    (0 until 5).map(r.getLong)
  }

  def putSizes(run: Run, in: Input, dir: String): Unit = {
    val bytes = Verifier.dirBytes(Pipeline.chunksPath(dir)).toDouble
    run.put("bytes_per_token", bytes / in.digest.tokens, "B/token")
    run.put("size_vs_stock", bytes / in.stockBytes, "ratio")
  }
}
