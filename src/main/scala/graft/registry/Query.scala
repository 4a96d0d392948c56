package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry entry: the query `build(session, sfDir)` that `name`
  * runs, and the equivalent DuckDB SQL over the same parquet tables whose
  * result the oracle gate (`tools/check.py`) hash-compares with it.
  */
final case class Query(name: String, build: (SparkSession, String) => DataFrame,
    oracle: String)
