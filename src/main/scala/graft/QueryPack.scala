package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A named bundle of operator queries plus their DuckDB oracle SQL.
  *
  * Every operator row in SURVEY.md §2 gets at least one query here; the
  * driver runs each query at sf0.01 and hash-compares against the oracle
  * SQL executed by DuckDB over the same parquet tables.
  *
  * Determinism rules used throughout (so Spark and DuckDB hash-match):
  *  - every query ends in a total ORDER BY over unique keys;
  *  - double aggregations go through DECIMAL so the sum is exact and
  *    order-independent, then cast back to double (`decSum` pattern);
  *  - output column names are lowercase and aliased identically on both
  *    sides (DuckDB lowercases unquoted identifiers).
  */
trait QueryPack {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracle: Map[String, String]
}

object QueryPack {
  import graft.core.Knobs.SumsExact
  import org.apache.spark.sql.{Column, SparkSession}
  import org.apache.spark.sql.expressions.WindowSpec
  import org.apache.spark.sql.functions.sum
  import org.apache.spark.sql.types.DecimalType

  /** Exact, order-independent sum of a double expression: per-row cast to
    * decimal(18,6) (deterministic), exact decimal accumulation, cast back.
    * Spark and DuckDB produce bit-identical doubles for this pattern.
    */
  def decSumSql(expr: String, alias: String): String =
    s"CAST(SUM(CAST($expr AS DECIMAL(18,6))) AS DOUBLE) AS $alias"

  /** SUM over doubles honoring the exactness knob ([[SumsExact]]). */
  def decSum(spark: SparkSession)(c: Column): Column =
    if (SumsExact(spark)) sum(c.cast(DecimalType(18, 6))).cast("double")
    else sum(c)

  /** Windowed SUM honoring the exactness knob. */
  def decSumOver(spark: SparkSession)(c: Column, w: WindowSpec): Column =
    if (SumsExact(spark)) sum(c.cast(DecimalType(18, 6))).over(w).cast("double")
    else sum(c).over(w)
}
