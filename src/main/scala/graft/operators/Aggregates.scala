package graft.operators

import graft.QueryPack
import graft.core.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Aggregation operators (SURVEY.md §2.5).
  *
  * Reference parity:
  *  - Combiner / partial aggregation (`JobConf.setCombinerClass`, applied in
  *    `MapTask$MapOutputBuffer` spills): automatic — Catalyst splits every
  *    `groupBy.agg` into partial + final `HashAggregateExec`, which is the
  *    map-side-combine design generalized. Nothing to build; the specs
  *    assert the physical plan contains the partial stage.
  *  - `LongSumReducer` / `IntSumReducer` → `groupBy(k).agg(sum(v))`.
  *  - `ValueAggregatorJob` (config-driven multi-aggregate framework) →
  *    one `groupBy.agg` computing the whole descriptor list in a single
  *    pass (`multi_agg`), plus the registry in [[graft.functions.AggRegistry]].
  *  - `UniqValueCount` (exact distinct + capped retained list) →
  *    two-phase streaming distinct + bounded-heap [[graft.functions.LowKLong]]
  *    retained list (buffers O(cap), never O(distinct) — round 10;
  *    Long-keyed + all-NULL-group emission — round 11).
  *  - `ValueHistogram` → custom Aggregator in [[graft.functions.ValueHistogram]];
  *    the query here is the composed two-level form the oracle can check.
  *  - cube/rollup/pivot: absent in the reference (hand-written MR);
  *    exposed as built-ins.
  *
  * Scale: all of these are hash aggregations with map-side partials — at
  * 100 TB the shuffle carries only (group key × partial state), never raw
  * rows. Group-key cardinality here is tiny (flags/types), so the shuffle is
  * bytes, not gigabytes, regardless of input size.
  */
object Aggregates extends QueryPack {
  import QueryPack.decSumSql


  /** TPC-H Q1-shaped pricing summary — the flagship scan→filter→agg→sort.
    * Reference shape: `src/examples/.../AggregateWordCount.java`-era
    * hand-built combiner jobs; here one declarative plan.
    */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sum($"l_quantity").as("sum_qty"), // integral-valued: double sum is exact
        QueryPack.decSum(spark)($"l_extendedprice").as("sum_base_price"),
        QueryPack.decSum(spark)($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("sum_disc_price"),
        QueryPack.decSum(spark)($"l_extendedprice" * (lit(1.0) - $"l_discount") * (lit(1.0) + $"l_tax")).as("sum_charge"),
        (sum($"l_quantity") / count(lit(1))).as("avg_qty"),
        (QueryPack.decSum(spark)($"l_extendedprice") / count(lit(1))).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** LongSumReducer parity: SUM(v) GROUP BY k. */
  def sumByKey(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy($"l_orderkey")
      .agg(sum($"l_quantity").as("sum_qty"), count(lit(1)).as("n_items"))
      .orderBy($"l_orderkey")
  }

  /** ValueAggregatorJob parity: the full descriptor set (sum/min/max/count/
    * uniq) computed in ONE pass over the data — the framework's whole point.
    */
  def multiAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n_events"),
        QueryPack.decSum(spark)($"value").as("sum_value"),
        min($"value").as("min_value"),
        max($"value").as("max_value"),
        countDistinct($"user_id").as("n_users"),
        min($"user_id").as("min_user"),
        max($"user_id").as("max_user"))
      .orderBy($"event_type")
  }

  /** UniqValueCount parity: exact distinct count + capped retained item
    * list (`maxNumItems`). The cap is what made it safe at scale in the
    * reference, and since round 10 it is actually enforced here: the
    * earlier `slice(sort_array(collect_set(user_id)), 1, 5)` form built
    * the FULL distinct set in one aggregation buffer before slicing —
    * with only a handful of event_type keys, a corpus-scale user
    * population is an unbounded single-key array (the same hazard class
    * as the minhash collect_set, fixed the same round). Now: a streaming
    * two-phase distinct (map-combined HashAggregate on (event_type,
    * user_id)) feeds an exact count plus the bounded-heap
    * [[graft.functions.LowKLong]] keeping the 5 smallest distinct users.
    * Buffers are O(5), never O(distinct users).
    *
    * NULL handling (round 11): grouping runs over UNFILTERED events, so
    * an event_type whose user_ids are all NULL still emits a row — the
    * DuckDB oracle does (COUNT(DISTINCT) skips NULLs → n_distinct=0;
    * its LIST/sort/join pipeline yields SQL NULL for first_users when no
    * non-NULL user exists, verified stepwise in DuckDB). The previous
    * `where(isNotNull)` form dropped such groups entirely. Per-item NULLs
    * are skipped inside LowKLong (Long-keyed, no double round-trip — ids
    * ≥ 2^53 order correctly), `count($"user_id")` skips the NULL distinct
    * row, and the `when` guard maps "no non-NULL users" to NULL, matching
    * the oracle bit-for-bit on both corners.
    */
  def uniqValueCount(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val low5 = udaf(new graft.functions.LowKLong(5), org.apache.spark.sql.Encoders.LONG)
    Tables.events(spark, dir)
      .select($"event_type", $"user_id").distinct()
      .groupBy($"event_type")
      .agg(
        count($"user_id").as("n_distinct"),
        low5($"user_id").as("low5"))
      // joined to a scalar string: array-typed output columns crash the
      // driver's pandas canonicalizer (unhashable ndarray)
      .select($"event_type", $"n_distinct",
        when($"n_distinct" > 0,
          array_join(transform($"low5", x => x.cast("string")), ","))
          .as("first_users"))
      .orderBy($"event_type")
  }

  /** ValueHistogram parity (composed form): per key, stats over the
    * per-value counts. Exact long-typed moments (sum, sum-of-squares)
    * instead of float stddev so the oracle hash-matches bit-for-bit.
    * One-pass Aggregator variant: [[graft.functions.ValueHistogram]].
    */
  def valueHistogram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy($"event_type", $"user_id").agg(count(lit(1)).as("cnt"))
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n_distinct_values"),
        min($"cnt").as("min_count"),
        max($"cnt").as("max_count"),
        sum($"cnt").as("total_count"),
        sum($"cnt" * $"cnt").as("sum_sq_count"))
      .orderBy($"event_type")
  }

  /** Grouping sets: absent in the reference, exposed as built-in `cube`. */
  def cubeAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .cube($"l_returnflag", $"l_linestatus")
      .agg(sum($"l_quantity").as("sum_qty"), count(lit(1)).as("n"))
      .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
  }

  def rollupAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .rollup($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n"), QueryPack.decSum(spark)($"o_totalprice").as("sum_price"))
      .orderBy($"o_orderstatus".asc_nulls_first, $"o_orderpriority".asc_nulls_first)
  }

  /** Pivot: groupBy.pivot with explicit value list (never scan-infer the
    * pivot domain at 100 TB). Oracle form: FILTERed counts.
    */
  def pivotAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .groupBy($"o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .count()
      .na.fill(0L)
      .select($"o_orderpriority", $"F".as("n_f"), $"O".as("n_o"), $"P".as("n_p"))
      .orderBy($"o_orderpriority")
  }

  /** HLL approximate distinct — the 100 TB path for UniqValueCount.
    * DuckDB runs a different HLL, so the estimate itself can't hash-match;
    * instead the output is a tolerance WITNESS: the exact distinct count
    * (independently recomputed by the oracle) next to an in-engine
    * assertion that the HLL estimate landed within 5× the configured
    * 1% rsd. The oracle pins the exact half and the assertion column;
    * AggLibSpec additionally pins the raw relative error.
    */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // Two-level shape (round 21): mixing COUNT(DISTINCT user_id) with
    // approx_count_distinct(user_id) in ONE groupBy makes Catalyst route
    // the HLL through the distinct-rewrite — a partial HLL sketch per
    // (event_type, user_id) GROUP, i.e. ~1.6k register-word columns on
    // every distinct pair (measured: the merge stage alone cost >1 s at
    // sf0.1, and the buffer mass scales with distinct pairs — a 100 TB
    // killer). HLL is duplicate-insensitive, so updating it once per
    // DISTINCT pair is bit-identical to updating it per row: group to
    // distinct (type, user) pairs first — a narrow, map-combinable agg —
    // then count pairs (= exact distinct; count(user_id) skips a null
    // user group exactly like COUNT(DISTINCT) does) and run ONE HLL per
    // type. Measured 2.9 s → ~1.4 s; estimate and exact count unchanged.
    Tables.events(spark, dir)
      .select($"event_type", $"user_id").distinct()
      .groupBy($"event_type")
      .agg(
        count($"user_id").as("n_exact"),
        approx_count_distinct($"user_id", 0.01).as("approx"))
      .select($"event_type", $"n_exact",
        (abs($"approx" - $"n_exact") <= $"n_exact" * 0.05).as("approx_within_5pct"))
      .orderBy($"event_type")
  }

  /** Multiple COUNT(DISTINCT …) over different columns in ONE query —
    * Catalyst plans this with an Expand (one row per distinct-set per
    * input row) feeding a single aggregation, instead of N self-joins;
    * the reference would have needed N chained MR jobs.
    */
  def multiDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy($"event_type")
      .agg(
        countDistinct($"user_id").as("n_users"),
        countDistinct(date_trunc("day", $"ts")).as("n_days"),
        countDistinct($"event_id").as("n_ids"))
      .orderBy($"event_type")
  }

  /** Exact percentiles (median/p90/p99) per group — `percentile` is the
    * exact sort-based path (matches the oracle's quantile_cont); the 100 TB
    * variant is `percentile_approx` (t-digest sketch, mergeable map-side,
    * spec-checked for tolerance instead of hash equality).
    */
  def percentiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .groupBy($"o_orderstatus")
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"),
        round(expr("percentile(o_totalprice, 0.99)"), 4).as("p99"))
      .orderBy($"o_orderstatus")
  }

  /** Percentiles via the mergeable sketch (`percentile_approx`,
    * Greenwald-Khanna summaries) — the 100 TB path next to [[percentiles]]'
    * exact sort-based form: one pass, map-side combinable, memory bounded
    * by `accuracy` instead of group size. At an accuracy whose retained
    * sample capacity exceeds the group size the sketch degenerates to
    * exact — which is what lets THIS query into the hash gate (DuckDB
    * `quantile_disc` agrees element-for-element, verified empirically);
    * production deployments drop accuracy to the default 10000 and accept
    * the bounded rank error. AggLibSpec pins that tolerance at the
    * deployment accuracy.
    */
  def percentilesSketch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // ONE sketch queried at four ranks, not four per-rank sketches (round
    // 22, guide §1.2 per-task work): the four separate percentile_approx
    // calls each built their OWN Greenwald-Khanna summary over the same
    // column — 4× the per-row insertion CPU and 4× the serialized partial
    // state crossing the exchange — for answers the ONE sketch already
    // holds (profile: the map-side partial stage was 1.46 s of the query's
    // 1.8 s wall; 4→1 sketches cuts it ~4×). Values are identical by
    // construction: percentile_approx(col, array(...), acc) feeds the same
    // inserts into the same summary and runs the same per-rank query as
    // the scalar form, so each element equals the corresponding scalar
    // call's result bit-for-bit.
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(
        expr("percentile_approx(l_quantity, array(0.25, 0.5, 0.75, 0.95), 1000000)").as("ps"),
        count(lit(1)).as("n"))
      .select($"l_returnflag",
        element_at($"ps", 1).as("p25"), element_at($"ps", 2).as("p50"),
        element_at($"ps", 3).as("p75"), element_at($"ps", 4).as("p95"),
        $"n")
      .orderBy($"l_returnflag")
  }

  /** Moment statistics per group: stddev/variance/correlation/covariance —
    * rounded so the one-pass (Welford-style) accumulation and the oracle's
    * agree to fixed precision.
    */
  def statsAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(
        round(stddev_samp($"l_quantity"), 6).as("sd_qty"),
        round(var_samp($"l_quantity"), 6).as("var_qty"),
        round(corr($"l_quantity", $"l_extendedprice"), 6).as("corr_qty_price"),
        round(covar_samp($"l_quantity", $"l_extendedprice"), 4).as("covar_qty_price"))
      .orderBy($"l_returnflag")
  }

  /** The one-pass [[graft.functions.ValueHistogram]] Aggregator as an
    * oracle-checked query: same report as the composed two-level
    * [[valueHistogram]], computed in ONE shuffle (the buffer is the
    * value→count map, merged map-union partial/final like the reference's
    * combiner-enabled histogram job). The oracle SQL is the composed form —
    * so the custom UDAF is held to the declarative semantics.
    */
  def valueHistogramUdaf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hist = org.apache.spark.sql.functions.udaf(graft.functions.ValueHistogram)
    Tables.events(spark, dir)
      .groupBy($"event_type")
      .agg(hist($"user_id".cast("string")).as("h"))
      .select($"event_type",
        $"h.nDistinctValues".as("n_distinct_values"),
        $"h.minCount".as("min_count"),
        $"h.maxCount".as("max_count"),
        $"h.totalCount".as("total_count"),
        $"h.sumSqCount".as("sum_sq_count"))
      .orderBy($"event_type")
  }

  /** Per-key top-k via the bounded-heap [[graft.functions.TopKAgg]]
    * Aggregator: map-side partial heaps mean the shuffle carries ≤ k rows
    * per (key, partition) — versus window row_number which shuffles every
    * row. Oracle: the window form (same values, so the heap is held to the
    * declarative semantics).
    */
  def topKPerKey(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val topk = org.apache.spark.sql.functions.udaf(new graft.functions.TopKAgg(3))
    Tables.orders(spark, dir)
      .groupBy($"o_orderstatus")
      .agg(topk($"o_totalprice", $"o_orderkey").as("top"))
      .select($"o_orderstatus", posexplode($"top"))
      .select($"o_orderstatus", ($"pos" + 1).cast("int").as("rank"),
        $"col.key".as("o_orderkey"), $"col.score".as("o_totalprice"))
      .orderBy($"o_orderstatus", $"rank")
  }

  /** ValueAggregatorJob parity end-to-end: a whole query assembled from
    * config strings by [[Pipeline]] (read→filter→descriptor-agg→sort),
    * still fully Catalyst-optimized (PipelineSpec asserts the configured
    * filter reaches the parquet scan).
    */
  def pipelineAgg(spark: SparkSession, dir: String): DataFrame =
    Pipeline.run(spark, dir, Seq(
      "read:orders",
      "filter:o_totalprice > 100000.0",
      "agg:o_orderstatus|ValueCount:o_orderkey,DoubleValueSum:o_totalprice,LongValueMax:o_custkey",
      "orderBy:o_orderstatus"))

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_pipeline" -> (pipelineAgg _),
    "q1_pricing_summary" -> (q1PricingSummary _),
    "agg_sum_by_key" -> (sumByKey _),
    "agg_multi" -> (multiAgg _),
    "agg_uniq_value_count" -> (uniqValueCount _),
    "agg_value_histogram" -> (valueHistogram _),
    "agg_value_histogram_udaf" -> (valueHistogramUdaf _),
    "agg_cube" -> (cubeAgg _),
    "agg_rollup" -> (rollupAgg _),
    "agg_pivot" -> (pivotAgg _),
    "agg_multi_distinct" -> (multiDistinct _),
    "agg_topk_per_key" -> (topKPerKey _),
    "agg_percentiles" -> (percentiles _),
    "agg_percentiles_sketch" -> (percentilesSketch _),
    "agg_stats" -> (statsAgg _),
    "agg_approx_distinct" -> (approxDistinct _))

  override def oracle: Map[String, String] = Map(
    // the exact column is recomputed by DuckDB; the boolean is Spark's
    // in-engine tolerance assertion on its HLL estimate (see approxDistinct)
    "agg_approx_distinct" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_exact,
        |  true AS approx_within_5pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "agg_pipeline" ->
      """SELECT o_orderstatus, COUNT(o_orderkey) AS cnt_o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_o_totalprice,
        |  MAX(o_custkey) AS max_o_custkey
        |FROM orders WHERE o_totalprice > 100000.0
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q1_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  SUM(l_quantity) AS sum_qty,
         |  ${decSumSql("l_extendedprice", "sum_base_price")},
         |  ${decSumSql("l_extendedprice * (1.0 - l_discount)", "sum_disc_price")},
         |  ${decSumSql("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)", "sum_charge")},
         |  SUM(l_quantity) / COUNT(*) AS avg_qty,
         |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_price,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "agg_sum_by_key" ->
      """SELECT l_orderkey, SUM(l_quantity) AS sum_qty, COUNT(*) AS n_items
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,
    "agg_percentiles_sketch" ->
      """SELECT l_returnflag,
        |  quantile_disc(l_quantity, 0.25) AS p25,
        |  quantile_disc(l_quantity, 0.5) AS p50,
        |  quantile_disc(l_quantity, 0.75) AS p75,
        |  quantile_disc(l_quantity, 0.95) AS p95,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_multi" ->
      s"""SELECT event_type, COUNT(*) AS n_events,
         |  ${decSumSql("value", "sum_value")},
         |  MIN(value) AS min_value, MAX(value) AS max_value,
         |  COUNT(DISTINCT user_id) AS n_users,
         |  MIN(user_id) AS min_user, MAX(user_id) AS max_user
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "agg_uniq_value_count" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct,
        |  array_to_string(list_transform(
        |    (LIST_SORT(LIST(DISTINCT user_id)))[1:5],
        |    x -> CAST(x AS VARCHAR)), ',') AS first_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "agg_value_histogram" ->
      """SELECT event_type, COUNT(*) AS n_distinct_values,
        |  MIN(cnt) AS min_count, MAX(cnt) AS max_count,
        |  CAST(SUM(cnt) AS BIGINT) AS total_count,
        |  CAST(SUM(cnt * cnt) AS BIGINT) AS sum_sq_count
        |FROM (SELECT event_type, user_id, COUNT(*) AS cnt
        |      FROM events GROUP BY event_type, user_id)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "agg_value_histogram_udaf" ->
      """SELECT event_type, COUNT(*) AS n_distinct_values,
        |  MIN(cnt) AS min_count, MAX(cnt) AS max_count,
        |  CAST(SUM(cnt) AS BIGINT) AS total_count,
        |  CAST(SUM(cnt * cnt) AS BIGINT) AS sum_sq_count
        |FROM (SELECT event_type, user_id, COUNT(*) AS cnt
        |      FROM events GROUP BY event_type, user_id)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "agg_multi_distinct" ->
      """SELECT event_type,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  COUNT(DISTINCT date_trunc('day', ts)) AS n_days,
        |  COUNT(DISTINCT event_id) AS n_ids
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "agg_topk_per_key" ->
      """SELECT o_orderstatus, CAST(rn AS INT) AS rank, o_orderkey, o_totalprice
        |FROM (SELECT o_orderstatus, o_orderkey, o_totalprice,
        |        ROW_NUMBER() OVER (PARTITION BY o_orderstatus
        |                           ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |      FROM orders)
        |WHERE rn <= 3 ORDER BY o_orderstatus, rank""".stripMargin,
    "agg_percentiles" ->
      """SELECT o_orderstatus,
        |  ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        |  ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90,
        |  ROUND(quantile_cont(o_totalprice, 0.99), 4) AS p99
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "agg_stats" ->
      """SELECT l_returnflag,
        |  ROUND(stddev_samp(l_quantity), 6) AS sd_qty,
        |  ROUND(var_samp(l_quantity), 6) AS var_qty,
        |  ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
        |  ROUND(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_cube" ->
      """SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, COUNT(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "agg_rollup" ->
      s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
         |  ${decSumSql("o_totalprice", "sum_price")}
         |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
         |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "agg_pivot" ->
      """SELECT o_orderpriority,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
}
