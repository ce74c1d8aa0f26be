package graft.operators

import graft.QueryPack
import graft.core.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Event-time operators over the `events` table (SURVEY.md §2.9).
  *
  * The reference is batch-only ("realtime HDFS" = append/hflush; the
  * namespace-notifier is a change feed — storage concerns, not stream
  * processing). These are the new capabilities exposed batch-first so the
  * DuckDB oracle can check the exact same `window()` semantics that the
  * Structured Streaming pack ([[graft.streaming.EventStreams]]) runs
  * incrementally with watermarks.
  *
  * Scale: tumbling/sliding windows are plain hash aggregations on
  * (window, key) — partial-agg before shuffle, so 100 TB of events reduce
  * to (n_windows × n_types) rows. Sessionization is one shuffle on user_id
  * + per-user ordered pass (gaps-and-islands), the same shape Structured
  * Streaming's state store maintains incrementally.
  */
object Events extends QueryPack {


  /** Tumbling 10-minute event-time windows. */
  def tumbling(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy(window($"ts", "10 minutes").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), graft.QueryPack.decSum(spark)($"value").as("sum_value"))
      .select($"w.start".as("w_start"), $"w.end".as("w_end"), $"event_type", $"n", $"sum_value")
      .orderBy($"w_start", $"event_type")
  }

  /** Sliding windows: 10-minute length, 5-minute slide (each event lands in
    * exactly two windows).
    */
  def sliding(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy(window($"ts", "10 minutes", "5 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select($"w.start".as("w_start"), $"w.end".as("w_end"), $"n")
      .orderBy($"w_start")
  }

  /** Session windows per user, 30-minute gap. Spark's session_window end =
    * last event + gap; the oracle reproduces that with gaps-and-islands.
    */
  def sessions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy(session_window($"ts", "30 minutes").as("w"), $"user_id")
      .agg(count(lit(1)).as("n_events"), graft.QueryPack.decSum(spark)($"value").as("sum_value"))
      .select($"user_id", $"w.start".as("session_start"), $"w.end".as("session_end"),
        $"n_events", $"sum_value")
      .orderBy($"user_id", $"session_start")
  }

  /** JSON property access (events.props): the reference had no JSON support
    * at all (arbitrary Java in map()); `get_json_object` is the operator.
    */
  def jsonProps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select($"event_type", get_json_object($"props", "$.k").cast("int").as("k"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"k").as("sum_k"),
        min($"k").as("min_k"), max($"k").as("max_k"))
      .orderBy($"event_type")
  }

  /** Deterministic dedup-with-policy: earliest event per (user, type).
    * (`dropDuplicates` keeps an arbitrary row — fine for streaming
    * dedup-by-id, wrong for an oracle; min_by policy is the reproducible
    * batch equivalent, and what dropDuplicatesWithinWatermark approximates
    * with event-id keys.)
    */
  def firstEventPerUserType(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // argmin by (ts, event_id) via arg_max_long on the NEGATED epoch-μs
    // timestamp: micros (~1.7e15) sit far below double's 2^53 integer-exact
    // bound, so the negation is lossless and "max of -ts, ties to lowest
    // id" IS "earliest ts, ties to lowest id". The min_by(struct, struct)
    // form this replaces carried struct aggregation buffers → SortAggregate
    // → the WHOLE event stream sorted per partition (the round-7
    // SortAggregate finding, SCALE.md); this is a streaming partial→final
    // HashAggregate — map-side combine keeps one candidate per key per
    // partition, a window row_number would shuffle and sort every event.
    // Null-ts rule: arg_max_long ignores null-score rows, so an event with
    // a null ts never wins (the old min_by struct ordering let null-ts
    // rows sort first and win). Engine event data is non-null-ts, so
    // results are identical; on hostile data "earliest" here means
    // earliest NON-NULL timestamp.
    Tables.events(spark, dir)
      .groupBy($"user_id", $"event_type")
      .agg(expr("arg_max_long(event_id, -CAST(unix_micros(ts) AS DOUBLE))").as("b"))
      .select($"user_id", $"event_type", $"b.id".as("event_id"),
        timestamp_micros((-$"b.score").cast("long")).as("ts"))
      .orderBy($"user_id", $"event_type")
  }

  /** Interval join, batch face of the stream-stream attribution join
    * ([[graft.streaming.EventStreams.attributionJoin]] — one definition,
    * two execution modes; StreamingSpec checks streaming ≡ batch).
    */
  def attribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir)
    graft.streaming.EventStreams.attributionJoin(
        e.filter($"event_type" === "view"),
        e.filter($"event_type" === "purchase"))
      .orderBy($"purchase_id", $"view_id")
  }

  /** Gap-filled window spine: EVERY 10-minute window between the corpus
    * min and max, zero-filled where no events landed — the time-series
    * completion step dashboards/forecasting need (a plain groupBy silently
    * drops empty windows). The spine is generated with `sequence` from the
    * corpus bounds (2 rows to the driver), then left-joined — broadcast,
    * since a spine is tiny even for years of 10-minute slots.
    */
  def gapfill(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir)
    val counts = e.groupBy(window($"ts", "10 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select($"w.start".as("w_start"), $"n")
    val spine = e
      .agg(min(date_trunc("hour", $"ts")).as("lo"), max($"ts").as("hi"))
      .select(explode(expr("sequence(lo, hi, interval 10 minutes)")).as("w_start"))
    broadcast(spine).join(counts, Seq("w_start"), "left_outer")
      .select($"w_start", coalesce($"n", lit(0L)).as("n"))
      .orderBy($"w_start")
  }

  /** MapType access (MapWritable parity, SURVEY §1): parse `props` JSON
    * into a typed map, explode its entries, aggregate per key — the
    * dynamic-schema path when keys aren't known at compile time
    * (vs `evt_json_props`' fixed-path extraction).
    */
  def propsMap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select(explode(from_json($"props", org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.StringType))).as(Seq("k", "v")))
      .groupBy($"k")
      .agg(count(lit(1)).as("n"), countDistinct($"v").as("n_distinct_values"))
      .orderBy($"k")
  }

  /** Daily cohort retention: for each (first-active day, later day) pair,
    * how many of the cohort's users came back — the product-analytics
    * staple. Two aggregations and one join, all on user_id/day keys; at
    * scale the per-user first-day table is the only extra state.
    */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val days = Tables.events(spark, dir)
      .select($"user_id", to_date($"ts").as("day")).distinct()
    val cohorts = days.groupBy($"user_id").agg(min($"day").as("cohort_day"))
    days.join(cohorts, Seq("user_id"))
      .groupBy($"cohort_day", $"day")
      .agg(countDistinct($"user_id").as("n_active"))
      .withColumn("day_offset",
        datediff($"day", $"cohort_day").cast("bigint"))
      .select($"cohort_day", $"day_offset", $"n_active")
      .orderBy($"cohort_day", $"day_offset")
  }

  /** Ordered funnel: view → click → purchase per user, each step's
    * timestamp the EARLIEST occurrence at-or-after the previous step —
    * the conversion query every product pipeline runs. Computed as chained
    * conditional aggregations (step N's per-user min joins into step N+1's
    * filter), NOT a per-user sorted window over the whole event log: every
    * shuffle is keyed on user_id, each step's table is ≤1 row per user and
    * shrinks monotonically down the funnel, so at 100 TB the heavy scan
    * happens once per step with map-side min-combines and the joins are
    * per-user-row sized.
    */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir)
    val v = e.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts").as("t_view"))
    val c = e.filter($"event_type" === "click").join(v, "user_id")
      .filter($"ts" >= $"t_view")
      .groupBy($"user_id").agg(min($"ts").as("t_click"))
    val p = e.filter($"event_type" === "purchase").join(c, "user_id")
      .filter($"ts" >= $"t_click")
      .groupBy($"user_id").agg(min($"ts").as("t_purchase"))
    v.join(c, Seq("user_id"), "left_outer")
      .join(p, Seq("user_id"), "left_outer")
      .select($"user_id", $"t_view", $"t_click", $"t_purchase",
        (lit(1) + when($"t_click".isNotNull, 1).otherwise(0)
          + when($"t_purchase".isNotNull, 1).otherwise(0)).cast("int").as("steps_completed"))
      .orderBy($"user_id")
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "evt_funnel" -> (funnel _),
    "evt_retention" -> (retention _),
    "evt_gapfill" -> (gapfill _),
    "evt_props_map" -> (propsMap _),
    "evt_tumbling" -> (tumbling _),
    "evt_sliding" -> (sliding _),
    "evt_sessions" -> (sessions _),
    "evt_json_props" -> (jsonProps _),
    "evt_first_per_user_type" -> (firstEventPerUserType _),
    "evt_attribution" -> (attribution _))

  override def oracle: Map[String, String] = Map(
    "evt_funnel" ->
      """WITH v AS (
        |  SELECT user_id, MIN(ts) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id, MIN(e.ts) AS t_click
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.ts >= v.t_view
        |  GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id, MIN(e.ts) AS t_purchase
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
        |  GROUP BY e.user_id)
        |SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
        |  CAST(1 + CASE WHEN c.t_click IS NULL THEN 0 ELSE 1 END
        |         + CASE WHEN p.t_purchase IS NULL THEN 0 ELSE 1 END AS INT) AS steps_completed
        |FROM v LEFT JOIN c ON v.user_id = c.user_id
        |       LEFT JOIN p ON v.user_id = p.user_id
        |ORDER BY v.user_id""".stripMargin,
    "evt_tumbling" ->
      """SELECT time_bucket(INTERVAL '10 minutes', ts) AS w_start,
        |  time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes' AS w_end,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2, 3 ORDER BY w_start, event_type""".stripMargin,
    "evt_sliding" ->
      """WITH expanded AS (
        |  SELECT UNNEST([time_bucket(INTERVAL '5 minutes', ts),
        |                 time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes']) AS w_start
        |  FROM events)
        |SELECT w_start, w_start + INTERVAL '10 minutes' AS w_end, COUNT(*) AS n
        |FROM expanded GROUP BY w_start ORDER BY w_start""".stripMargin,
    "evt_sessions" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, value,
        |    -- Spark session end is exclusive (last_ts + gap), so an event at
        |    -- exactly prev + gap starts a NEW session: >= not >
        |    CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |              >= INTERVAL '30 minutes'
        |         OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |numbered AS (
        |  SELECT user_id, ts, value,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged)
        |SELECT user_id, MIN(ts) AS session_start,
        |  MAX(ts) + INTERVAL '30 minutes' AS session_end,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM numbered GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,
    "evt_json_props" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS INT)) AS BIGINT) AS sum_k,
        |  MIN(CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS INT)) AS min_k,
        |  MAX(CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS INT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "evt_first_per_user_type" ->
      """SELECT user_id, event_type, event_id, ts FROM (
        |  SELECT user_id, event_type, event_id, ts,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts, event_id) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    "evt_retention" ->
      """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |c AS (SELECT user_id, MIN(day) AS cohort_day FROM d GROUP BY user_id)
        |SELECT c.cohort_day,
        |  CAST(date_diff('day', c.cohort_day, d.day) AS BIGINT) AS day_offset,
        |  COUNT(DISTINCT d.user_id) AS n_active
        |FROM d JOIN c USING (user_id)
        |GROUP BY c.cohort_day, d.day ORDER BY cohort_day, day_offset""".stripMargin,
    "evt_gapfill" ->
      """WITH b AS (SELECT date_trunc('hour', MIN(ts)) AS lo, MAX(ts) AS hi FROM events),
        |spine AS (SELECT UNNEST(generate_series(lo, hi, INTERVAL '10 minutes')) AS w_start FROM b),
        |c AS (SELECT time_bucket(INTERVAL '10 minutes', ts) AS w_start, COUNT(*) AS n
        |      FROM events GROUP BY 1)
        |SELECT s.w_start, COALESCE(c.n, 0) AS n
        |FROM spine s LEFT JOIN c USING (w_start) ORDER BY w_start""".stripMargin,
    // the oracle exploits the driver data's fixed {"k": int} prop shape;
    // the Spark side is the generic map-explode operator
    "evt_props_map" ->
      """SELECT 'k' AS k, COUNT(*) AS n,
        |  COUNT(DISTINCT regexp_extract(props, '"k":\s*(-?\d+)', 1)) AS n_distinct_values
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "evt_attribution" ->
      """SELECT p.user_id, p.event_id AS purchase_id, v.event_id AS view_id,
        |  v.ts AS v_ts, p.ts AS p_ts, p.value
        |FROM events v JOIN events p
        |  ON v.event_type = 'view' AND p.event_type = 'purchase'
        |  AND v.user_id = p.user_id
        |  AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL '30 minutes'
        |ORDER BY purchase_id, view_id""".stripMargin)
}
