package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: its name (a `SparkEntry.queries` key), the
  * function that builds its frame from (session, sf directory), and the
  * DuckDB SQL whose result it must match exactly. Each module lists
  * its queries once, in `declared`; `SparkEntry` derives both
  * name-keyed maps from these.
  */
final case class Query(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracleSql: String)
