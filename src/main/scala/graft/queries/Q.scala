package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** One harness-visible operator: the Spark query plus (when ANSI-SQL
  * expressible) its DuckDB oracle over the same parquet tables.
  * Column names and dtypes MUST align between the two — the driver's
  * compare sorts columns by name and hashes values. */
final case class Q(fn: (SparkSession, String) => DataFrame, oracle: Option[String])

object Q {
  def apply(sql: String)(fn: (SparkSession, String) => DataFrame): Q = Q(fn, Some(sql))

  /** Exact money sum: per-row cast to DECIMAL(18,2) (exact for 2-dp money
    * stored as double), exact decimal aggregation, then back to double.
    * Sidesteps the float-summation-order divergence between Spark and
    * DuckDB that would otherwise break value-hash parity. Mirror in SQL:
    * `CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE)`. */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast("double")

  /** SQL mirror of `dsum`. */
  def dsumSql(x: String): String = s"CAST(sum(CAST($x AS DECIMAL(18,2))) AS DOUBLE)"
}
