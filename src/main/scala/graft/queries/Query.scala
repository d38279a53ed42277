package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** How the driver checks a query's output. */
sealed trait Check

/** Hash-matched against this DuckDB SQL over the same parquet tables. */
final case class Oracle(sql: String) extends Check

/** Checked for rows only, because no DuckDB oracle can reproduce the
  * output; `reason` says why and names the oracle-checked companion. */
final case class RowsOnly(reason: String) extends Check

/** One query of the driver contract: its name, the Spark plan it builds
  * over a scale-factor directory, and how its output is checked. */
final case class Query(name: String, build: (SparkSession, String) => DataFrame, check: Check)
