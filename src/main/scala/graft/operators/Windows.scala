package graft.operators

import graft.QueryPack
import graft.core.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window functions (SURVEY.md §2.8).
  *
  * Entirely absent in the reference — users hand-wrote running sums/ranks
  * inside `reduce()` over secondary-sorted groups (SecondarySort example).
  * The full Spark window surface is the idiomatic replacement: ranking,
  * analytic (lag/lead/first/last/nth), aggregates over ROWS and RANGE
  * frames.
  *
  * Scale: a window = one shuffle on partitionBy keys + per-partition sort.
  * Round 21 (guide §2.4 "two operations keyed the same way can share one
  * exchange"): every partitioned window here is fed through ONE
  * `repartitionByRange(partKey)` — range partitioning clusters each key
  * into a single partition (satisfying the window's required clustering)
  * AND is an ordered prefix of each query's closing orderBy, so the final
  * total-order sort reuses the same exchange and runs partition-local.
  * Plan effect per query: 2 Exchange → 1 (measured on rel_secondary_sort:
  * 4 jobs → 3, ~25% off its sf0.1 wall). The global-window ntileDist is
  * the one exception (single-reducer witness, documented below).
  * Partition keys here (priority, custkey, user_id) have high cardinality
  * relative to rows-per-key, so no single window group blows executor
  * memory at 100 TB; a global (un-partitioned) window would be the
  * anti-pattern, and none is used.
  */
object Windows extends QueryPack {


  /** Ranking family over a real partition. */
  def ranking(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_orderpriority").orderBy($"o_totalprice".desc, $"o_orderkey")
    Tables.orders(spark, dir)
      .repartitionByRange($"o_orderpriority")
      .select($"o_orderpriority", $"o_orderkey", $"o_totalprice",
        row_number().over(w).as("rn"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"))
      .filter($"rn" <= 5)
      .orderBy($"o_orderpriority", $"rn")
  }

  /** Running (prefix) sum — the hand-written reducer loop the reference
    * required; exact via decimal accumulation.
    */
  def runningSum(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .repartitionByRange($"o_custkey")
      .select($"o_custkey", $"o_orderkey", $"o_orderdate",
        graft.QueryPack.decSumOver(spark)($"o_totalprice", w).as("running_total"),
        count(lit(1)).over(w).as("n_so_far"))
      .orderBy($"o_custkey", $"o_orderdate", $"o_orderkey")
  }

  def lagLead(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(spark, dir)
      .repartitionByRange($"user_id")
      .select($"user_id", $"event_id", $"ts",
        lag($"event_type", 1).over(w).as("prev_type"),
        lead($"event_type", 1).over(w).as("next_type"),
        ($"ts".cast("long") - lag($"ts", 1).over(w).cast("long")).as("secs_since_prev"))
      .orderBy($"user_id", $"ts", $"event_id")
  }

  /** Global ntile / percent_rank / cume_dist — the §2.8 operator surface,
    * exercised as Spark's window functions. NOTE the unpartitioned window
    * is a single-reducer shape: this query exists to witness the operators'
    * semantics; at 100 TB a global quantile assignment runs as
    * range-partition + zipWithIndex + `bucket = idx * n / count` (the
    * [[Relational.recordNumbers]] pattern) or `ntile` within real
    * partitions. Every other window in this pack is partitioned.
    */
  def ntileDist(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.orderBy($"c_acctbal", $"c_custkey")
    Tables.customer(spark, dir)
      .select($"c_custkey", $"c_acctbal",
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cdist"))
      .orderBy($"c_custkey")
  }

  /** Analytic first/last/nth over an explicit full-partition frame. */
  def firstLastNth(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val full = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(spark, dir)
      .repartitionByRange($"user_id")
      .select($"user_id", $"event_id", $"ts",
        first($"event_type").over(full).as("first_type"),
        last($"event_type").over(full).as("last_type"),
        nth_value($"event_type", 2).over(full).as("second_type"))
      .orderBy($"user_id", $"ts", $"event_id")
  }

  /** Moving aggregate over a ROWS frame (trailing 3 rows). */
  def movingAvg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(-2, Window.currentRow)
    Tables.events(spark, dir)
      .repartitionByRange($"user_id")
      .select($"user_id", $"event_id", $"ts",
        (graft.QueryPack.decSumOver(spark)($"value", w) /
          count(lit(1)).over(w)).as("avg3"))
      .orderBy($"user_id", $"ts", $"event_id")
  }

  /** RANGE frame on a numeric ordering: peers within a value distance. */
  def rangeFrame(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .repartitionByRange($"o_custkey")
      .selectExpr("o_custkey", "o_orderkey", "o_totalprice",
        """COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
          |RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS n_within_10k_below""".stripMargin)
      .orderBy($"o_custkey", $"o_orderkey")
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "win_ranking" -> (ranking _),
    "win_running_sum" -> (runningSum _),
    "win_lag_lead" -> (lagLead _),
    "win_ntile_dist" -> (ntileDist _),
    "win_first_last_nth" -> (firstLastNth _),
    "win_moving_avg" -> (movingAvg _),
    "win_range_frame" -> (rangeFrame _))

  override def oracle: Map[String, String] = Map(
    "win_ranking" ->
      """SELECT * FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    CAST(ROW_NUMBER() OVER w AS INT) AS rn,
        |    CAST(RANK() OVER w AS INT) AS rnk,
        |    CAST(DENSE_RANK() OVER w AS INT) AS drnk
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey))
        |WHERE rn <= 5 ORDER BY o_orderpriority, rn""".stripMargin,
    "win_running_sum" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER w AS DOUBLE) AS running_total,
        |  COUNT(*) OVER w AS n_so_far
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,
    "win_lag_lead" ->
      """SELECT user_id, event_id, ts,
        |  LAG(event_type, 1) OVER w AS prev_type,
        |  LEAD(event_type, 1) OVER w AS next_type,
        |  (epoch_us(ts) // 1000000) - (epoch_us(LAG(ts, 1) OVER w) // 1000000) AS secs_since_prev
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, ts, event_id""".stripMargin,
    "win_ntile_dist" ->
      """SELECT c_custkey, c_acctbal,
        |  CAST(NTILE(4) OVER w AS INT) AS quartile,
        |  PERCENT_RANK() OVER w AS pct_rank,
        |  CUME_DIST() OVER w AS cdist
        |FROM customer
        |WINDOW w AS (ORDER BY c_acctbal, c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "win_first_last_nth" ->
      """SELECT user_id, event_id, ts,
        |  FIRST_VALUE(event_type) OVER w AS first_type,
        |  LAST_VALUE(event_type) OVER w AS last_type,
        |  NTH_VALUE(event_type, 2) OVER w AS second_type
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY user_id, ts, event_id""".stripMargin,
    "win_moving_avg" ->
      """SELECT user_id, event_id, ts,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) / (COUNT(*) OVER w) AS avg3
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts, event_id""".stripMargin,
    "win_range_frame" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
        |                 RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS n_within_10k_below
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin)
}
