package graft.engine

import org.apache.spark.sql.{AnalysisException, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** The one way to read a parquet table.
  *
  * `spark.read.parquet(path)` infers the schema with a parquet footer
  * merge that Spark runs as a job, even for one file, on every read,
  * and every read lists the table's files again. Here the read itself
  * is memoized per session, per path and per layout under the
  * directory's [[SessionMemo.dirStamp]], so only the first read of a
  * table version infers, checks and lists; a repeat read costs the
  * stamp walk and starts no job — the footer is read once, as in the
  * reference (reference: schema/schema_builder.go:61-97). A rewritten
  * table changes the stamp and is read afresh.
  */
object Tables {
  /** The read of each table version by (path, layout schema); no layout
    * means Spark's inferred schema. A layout read is held typed, so a
    * repeat read builds no encoder and runs no `.as` analysis.
    */
  private val reads = new SessionMemo[(String, Option[StructType]), Dataset[_]](_ => ())

  /** A table whose schema the caller does not know (the query fixtures),
    * read with Spark's own inferred schema. A table with no data files
    * fails as an inferring read does.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    reads(spark, (path, None), path)(spark.read.parquet(path)).asInstanceOf[DataFrame]

  /** An engine table, read with its known `layout` (the layout is the
    * encoder's schema; one encoder per layout). Spark's inferred
    * schema only proves that every layout column is there — a missing
    * one fails here with Spark's own unresolved-column
    * [[AnalysisException]], never reads as null — and the rows come back
    * typed by the layout, so a partition column such as
    * `part_source=007` stays the string "007". A table with no data
    * files reads as empty.
    */
  def read[T](spark: SparkSession, path: String, layout: Encoder[T]): Dataset[T] =
    reads(spark, (path, Some(layout.schema)), path) {
      try spark.read.parquet(path).select(layout.schema.fieldNames.toSeq.map(col): _*)
      catch { case e: AnalysisException if e.getCondition == "UNABLE_TO_INFER_SCHEMA" => }
      spark.read.schema(layout.schema).parquet(path).as(layout)
    }.asInstanceOf[Dataset[T]]
}
