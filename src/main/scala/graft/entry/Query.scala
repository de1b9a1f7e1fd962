package graft.entry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query of the contract: the Spark side `build(spark, sfDir)` and the
  * DuckDB `oracleSql` that must return the same rows over the same parquet
  * tables. Column names are aliased identically on both sides, because
  * the correctness check sorts columns by name before comparing values. */
private[graft] final case class Query(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracleSql: String)
