package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver query: its output name, its Spark plan over a corpus
  * directory, and the DuckDB SQL that must reproduce its rows (None
  * where the output is engine-specific and has no SQL twin).
  */
final case class Query(
    name: String,
    plan: (SparkSession, String) => DataFrame,
    oracle: Option[String])
