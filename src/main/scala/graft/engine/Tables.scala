package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one way to read a parquet table whose schema the caller does not
  * spell out.
  *
  * `spark.read.parquet(path)` infers the schema with a parquet footer
  * merge that Spark runs as a job, even for one file, on every read.
  * Here the inferred schema is memoized per session and per path under
  * the directory's [[SessionMemo.dirStamp]], so only the first read of
  * a table version infers; every later read passes the schema and
  * starts no job — the footer is read once, as in the reference
  * (reference: schema/schema_builder.go:61-97).
  *
  * The memoized schema is Spark's own inference, so partition columns
  * (`part_source`, `wave_id`) and older layouts read exactly as an
  * inferring read would: a table missing a payload column still lacks
  * it, and a typed `.as[...]` over it still fails. A rewritten table
  * changes the stamp and is inferred again.
  */
object Tables {
  private val schemas = new SessionMemo[String, StructType](_ => ())

  def read(spark: SparkSession, path: String): DataFrame = {
    val schema = schemas(spark, path, path)(spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }
}
