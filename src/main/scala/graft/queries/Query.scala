package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: its name, the Spark build over a scale-factor dir,
  * and the DuckDB SQL that must return the same rows (authored with bare
  * table names, see [[Oracle]]). Each module lists its queries once in
  * `declared`; `graft.SparkEntry` joins the lists. */
final case class Query(name: String, build: (SparkSession, String) => DataFrame,
    oracle: String)
