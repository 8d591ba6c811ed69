package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry query: its name, the DuckDB SQL that recomputes its
  * result over the same parquet tables (column names and types
  * identical, deterministic ORDER BY where relevant), and its Spark body
  * over `(session, sfDir)`. The oracle is a constructor argument, so a
  * query without one does not compile.
  */
final case class Query(name: String, oracle: String)(
    val run: (SparkSession, String) => DataFrame)
