package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.SparkEntry

/** q32 (per-chunk lineage) has no DuckDB oracle: chunk ids and codec
  * choices are engine-specific. Its rows are checked through q82, its
  * oracle-checked twin over the same memoized chunks table: summed per
  * source, q32's chunks must give q82's (n_docs, n_tokens, raw_bytes).
  */
class LineageTwinSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-lineage-twin-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
  locally { spark.sparkContext.setLogLevel("WARN") }

  override def afterAll(): Unit = spark.stop()

  test("q32's chunks summed per source equal q82's reconciled totals") {
    val chunks = SparkEntry.queries("q32_encode_lineage")(spark, sf).collect()
    assert(chunks.nonEmpty)
    val ids = chunks.map(_.getAs[Any]("chunk_id"))
    assert(ids.distinct.length == ids.length, "chunk ids repeat")
    assert(chunks.forall(r => r.getAs[Any]("encoded_bytes").toString.toLong > 0))

    val fromQ32 = SparkEntry.queries("q32_encode_lineage")(spark, sf)
      .groupBy(col("part_source").as("source"))
      .agg(sum(col("n_rows")).cast("long").as("n_docs"),
        sum(col("n_tokens")).cast("long").as("n_tokens"),
        sum(col("raw_bytes")).cast("long").as("raw_bytes"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val fromQ82 = SparkEntry.queries("q82_lineage_reconcile")(spark, sf)
      .select("source", "n_docs", "n_tokens", "raw_bytes")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(fromQ82.nonEmpty)
    assert(fromQ32 == fromQ82)
    // and the doc and code point counts match the corpus itself
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(length(col("text"))), lit(0)).cast("long").as("n_tokens"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(fromQ32.map { case (src, d, n, _) => (src, d, n) } == corpus)
  }
}
