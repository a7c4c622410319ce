package graft.perfbench

import graft.engine.{Fixtures, TokenRow}
import org.apache.spark.sql.{Dataset, SparkSession}

/** The benchmark's token table: two token regimes in one table.
  *
  * Rows `[0, zipfRows)` are the stock [[Fixtures]] rows (Zipf ids over
  * the 50,257 vocabulary plus 10 % sorted runs). Rows from `zipfRows`
  * on are dict-friendly: a 256-token vocabulary spread over the same
  * id range, so a dictionary beats frame-of-reference. The
  * dict-friendly rows carry their own source values, and the Chunker
  * buckets per source, so no chunk mixes the two regimes.
  *
  * Every row is a pure function of (seed, index), so a lookup result is
  * checked against the row regenerated here.
  */
final case class Corpus(seed: Long, zipfRows: Long, dictRows: Long) {
  import Corpus._

  def rows: Long = zipfRows + dictRows

  def row(idx: Long): TokenRow =
    if (idx < zipfRows) Fixtures.row(idx, seed, ZipfVocab, MedianLen, MaxLen)
    else {
      val r = Fixtures.row(idx, seed, DictVocab, MedianLen, MaxLen)
      val t = r.tokens
      var i = 0
      while (i < t.length) { t(i) = t(i) * DictStride; i += 1 }
      r.copy(source = DictSourcePrefix + r.source)
    }

  def docId(idx: Long): String = f"doc_$idx%012d"

  def dataset(spark: SparkSession, partitions: Int): Dataset[TokenRow] = {
    import spark.implicits._
    val c = this
    spark.range(0, rows, 1, partitions).map(i => c.row(i))
  }
}

object Corpus {
  final val ZipfVocab = 50257
  final val DictVocab = 256
  /** 255 * 196 < 50,257: the 256 ids stay inside the real vocabulary. */
  final val DictStride = 196
  final val DictSourcePrefix = "v256-"
  final val MedianLen = 512
  final val MaxLen = 32768
}
