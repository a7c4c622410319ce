package graft.engine

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** The one way to read a parquet table.
  *
  * `spark.read.parquet(path)` infers the schema with a parquet footer
  * merge that Spark runs as a job, even for one file, on every read.
  * Here the inferred schema is memoized per session and per path under
  * the directory's [[SessionMemo.dirStamp]], so only the first read of
  * a table version infers; every later read passes a schema and starts
  * no job — the footer is read once, as in the reference
  * (reference: schema/schema_builder.go:61-97). A rewritten table
  * changes the stamp and is inferred again.
  */
object Tables {
  /** Spark's inferred schema; None for a table with no data files. */
  private val schemas = new SessionMemo[String, Option[StructType]](_ => ())

  private def inferred(spark: SparkSession, path: String): Option[StructType] =
    schemas(spark, path, path) {
      try Some(spark.read.parquet(path).schema)
      catch { case e: AnalysisException if e.getCondition == "UNABLE_TO_INFER_SCHEMA" => None }
    }

  /** A table whose schema the caller does not know (the query fixtures),
    * read with Spark's own inferred schema. A table with no data files
    * fails as an inferring read does.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    inferred(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** An engine table, read with its known `layout`. The memoized schema
    * only proves that every layout column is there — a missing one
    * fails here with Spark's own unresolved-column [[AnalysisException]],
    * never reads as null — and the rows come back typed by the layout,
    * so a partition column such as `part_source=007` stays the string
    * "007". A table with no data files reads as empty.
    */
  def read(spark: SparkSession, path: String, layout: StructType): DataFrame = {
    inferred(spark, path).foreach { schema =>
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
        .select(layout.fieldNames.toSeq.map(col): _*)
    }
    spark.read.schema(layout).parquet(path)
  }
}
