package graft.operators

import graft.QueryPack
import graft.core.{Knobs, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join operators (SURVEY.md §2.4).
  *
  * Reference parity:
  *  - CompositeInputFormat `inner(...)`/`outer(...)` map-side merge join →
  *    `join(..., "inner"/"full_outer")`; the shuffle-free property of
  *    pre-sorted inputs is covered by bucketed tables (BucketedJoinSpec
  *    asserts a shuffle-free SortMergeJoin over bucketBy().sortBy() tables).
  *  - OverrideRecordReader (rightmost input wins per key) → full_outer +
  *    coalesce, delta side taking precedence (join_override; N-ary
  *    precedence law in JoinLawsSpec).
  *  - contrib/data_join tagged reduce-side join with custom combine() →
  *    typed `Dataset.cogroup` (join_cogroup_tagged).
  *  - DistributedCache replicated join → `broadcast()` hint (join_broadcast).
  *  - semi/anti/theta/range/as-of: absent in the reference as operators;
  *    exposed as built-ins, plus a scalable union+window as-of kernel.
  *
  * Scale notes (100 TB):
  *  - fact⋈fact joins (orders⋈lineitem) shuffle-hash/SMJ on the join key —
  *    co-partitioned bucketing removes the shuffle entirely (see spec);
  *  - dim joins broadcast (nation/region/bands are KB-sized: never shuffle
  *    the fact side for them);
  *  - the as-of kernel is union + per-key window, O(n log n) with no
  *    row-explosion join, the standard distributed as-of design;
  *  - AQE skew-join handles hot keys at runtime (enabled in sessions).
  */
object Joins extends QueryPack {
  import QueryPack.decSumSql

  /** Plain equi inner join, row level (CompositeInputFormat inner parity). */
  def innerJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir).join(Tables.customer(spark, dir),
        $"o_custkey" === $"c_custkey", "inner")
      .select($"o_orderkey", $"c_custkey", $"c_name", $"c_mktsegment", $"o_totalprice")
      .orderBy($"o_orderkey")
  }

  /** 3-way fact join + aggregation (the canonical MR multi-join pipeline).
    *
    * Shape: eager aggregation — lineitem is pre-aggregated to one row per
    * orderkey BEFORE joining (Catalyst doesn't push aggs through joins
    * itself). The fact-side join shuffle then carries ~|orders| narrow rows
    * instead of ~4× as many wide lineitem rows, and the pre-agg shuffle is
    * map-combined. At 100 TB this is the difference between shuffling the
    * fact table twice and shuffling it once; the pre-agged side also
    * becomes AQE-broadcastable when the filter is selective. Exactness:
    * decimal is kept through BOTH levels (decimal addition is associative),
    * so the two-level sum is bit-identical to the oracle's one-level sum.
    */
  def threeWayAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val exact = Knobs.SumsExact(spark)
    val rev = $"l_extendedprice" * (lit(1.0) - $"l_discount")
    val perOrder = Tables.lineitem(spark, dir)
      .groupBy($"l_orderkey")
      .agg(count(lit(1)).as("nl"),
        (if (exact) sum(rev.cast(DecimalType(18, 6))) else sum(rev)).as("rev"))
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), $"c_custkey" === $"o_custkey")
      .join(perOrder, $"o_orderkey" === $"l_orderkey")
      .groupBy($"c_mktsegment")
      .agg(sum($"nl").as("n_lines"),
        (if (exact) sum($"rev").cast("double") else sum($"rev")).as("revenue"))
      .orderBy($"c_mktsegment")
  }

  /** Replicated/broadcast join parity (DistributedCache pattern): dims are
    * broadcast explicitly — the fact side never shuffles for them.
    */
  def broadcastDims(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(spark, dir)), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      .agg(count(lit(1)).as("n_suppliers"), QueryPack.decSum(spark)($"s_acctbal").as("sum_acctbal"))
      .orderBy($"r_name", $"n_name")
  }

  /** TPC-H Q14-shaped promo-revenue share: fact ⋈ broadcast dim with a
    * conditional aggregate — the filtered-ratio pattern every reporting
    * pipeline uses. part is KB-sized: broadcast, never shuffle lineitem.
    */
  def partPromo(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rev = $"l_extendedprice" * (lit(1.0) - $"l_discount")
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)), $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n_lines"),
        QueryPack.decSum(spark)(rev).as("revenue"),
        QueryPack.decSum(spark)(when($"p_type" === "PROMO", rev).otherwise(lit(0.0)))
          .as("promo_revenue"))
      .orderBy($"p_brand")
  }

  def leftOuter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir), $"o_orderkey" === $"l_orderkey", "left_outer")
      .groupBy($"o_orderkey")
      .agg(count($"l_orderkey").as("n_lines"), sum($"l_quantity").as("sum_qty"))
      .orderBy($"o_orderkey")
  }

  /** Full outer over aggregated sides (OuterJoinRecordReader parity). */
  def fullOuter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, dir).groupBy($"c_nationkey".as("nationkey"))
      .agg(count(lit(1)).as("n_customers"))
    val s = Tables.supplier(spark, dir).groupBy($"s_nationkey".as("nationkey"))
      .agg(count(lit(1)).as("n_suppliers"))
    c.join(s, Seq("nationkey"), "full_outer")
      .na.fill(0L, Seq("n_customers", "n_suppliers"))
      .orderBy($"nationkey")
  }

  def semiJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir).filter($"o_totalprice" > 300000.0),
        $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey", $"c_name")
      .orderBy($"c_custkey")
  }

  def antiJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir).filter($"o_totalprice" > 400000.0),
        $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name", $"c_nationkey")
      .orderBy($"c_custkey")
  }

  /** N-ary OverrideRecordReader: the RIGHTMOST snapshot that has the key
    * wins, whole-record (NOT per-column coalesce — a later snapshot with a
    * null payload column must still shadow the earlier record entirely).
    * Keys absent from later snapshots pass through. All snapshots share a
    * schema and key on non-null keys, AT MOST ONE record per key per
    * snapshot (WritableComparable + per-input-uniqueness parity, the
    * reference reader's contract; the fold-left map model is only
    * well-defined under both). Out-of-contract inputs pick an arbitrary
    * row per (key, snapshot) tie where the old join form multiplied
    * rows.
    * Reference: `src/mapred/.../join/OverrideRecordReader.java`
    * anchor:`fillJoinCollector`. Property-tested against a fold-left map
    * model in JoinPropSpec (SURVEY §7.4 risk 1).
    *
    * Implementation (round 21): union the index-tagged snapshots and keep
    * the max-index record per key — the merge-stream shape the reference
    * reader actually has (it walks co-sorted inputs and emits the
    * rightmost per key). The previous iterated full_outer + key-presence
    * switch paid two exchanges plus sorts PER JOIN LEVEL (2(N−1)
    * exchanges for N snapshots, + the caller's closing sort); the union
    * form is ONE range exchange on the key whatever N is, which also
    * clusters the output so a caller's key-prefixed total order needs no
    * further exchange (plan on join_override: 3 Exchange → 1).
    * row_number — not max_by(struct) — keeps the per-key pick off the
    * SortAggregate struct-buffer path (the round-7 finding).
    */
  def overrideMerge(snapshots: Seq[DataFrame], key: String): DataFrame = {
    val cols = snapshots.head.columns
    val tagged = snapshots.zipWithIndex.map { case (df, i) =>
      df.withColumn("__snap", lit(i))
    }
    val w = Window.partitionBy(col(key)).orderBy(col("__snap").desc)
    tagged.reduce(_.unionByName(_))
      .repartitionByRange(col(key))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(cols.map(col).toSeq: _*)
  }

  /** OverrideRecordReader parity query: newer snapshot overrides older, per
    * key; keys only in the base pass through. Delta here: open orders
    * re-priced.
    */
  def overrideJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_totalprice", $"o_orderpriority")
    val delta = Tables.orders(spark, dir).filter($"o_orderstatus" === "O")
      .select($"o_orderkey",
        ($"o_totalprice" * 1.1).as("o_totalprice"),
        lit("RE-PRICED").as("o_orderpriority"))
    overrideMerge(Seq(base, delta), "o_orderkey")
      .orderBy($"o_orderkey")
  }

  /** contrib/data_join parity: tagged reduce-side join with a custom
    * per-key combine — typed cogroup gives exactly the reducer's view
    * (both tagged record lists per key) without materializing the
    * cross-product. Reference: `DataJoinReducerBase.joinAndCollect`.
    */
  def cogroupTagged(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_orderstatus").as[(Long, String)]
    val lines = Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_quantity").as[(Long, Double)]
    orders.groupByKey(_._1).cogroup(lines.groupByKey(_._1)) {
      (key, os, ls) =>
        val status = os.toSeq.headOption.map(_._2)
        var n = 0L; var q = 0.0
        ls.foreach { l => n += 1; q += l._2 } // integral quantities: exact
        Iterator((key, status, n, q))
    }.toDF("o_orderkey", "o_orderstatus", "n_lines", "sum_qty")
      .orderBy($"o_orderkey")
  }

  /** Theta join (reference: only via hand-written data_join combine):
    * same-region nation pairs, non-equi pair condition.
    */
  def thetaPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n1 = Tables.nation(spark, dir).select($"n_nationkey".as("k1"), $"n_name".as("name1"), $"n_regionkey".as("r1"))
    val n2 = Tables.nation(spark, dir).select($"n_nationkey".as("k2"), $"n_name".as("name2"), $"n_regionkey".as("r2"))
    n1.join(n2, $"r1" === $"r2" && $"k1" < $"k2")
      .select($"r1".as("regionkey"), $"k1", $"name1", $"k2", $"name2")
      .orderBy($"regionkey", $"k1", $"k2")
  }

  /** Range/band join: fact value binned by a broadcast range table — the
    * small side is KB-scale, so the 100 TB fact side never shuffles.
    */
  def rangeBand(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bands = Seq(("low", 0.0, 50.0), ("mid", 50.0, 150.0), ("high", 150.0, 1e9))
      .toDF("band", "lo", "hi")
    Tables.events(spark, dir)
      .join(broadcast(bands), $"value" >= $"lo" && $"value" < $"hi")
      .groupBy($"band")
      .agg(count(lit(1)).as("n"), QueryPack.decSum(spark)($"value").as("sum_value"))
      .orderBy($"band")
  }

  /** As-of join: each event matched to the latest order (by date, then key)
    * of the same user at-or-before the event time.
    *
    * Implementation is the scalable union+window kernel, not a join: tag
    * both sides, union, per-user window ordered by (time, tag, key), carry
    * the last-seen order forward with last(ignoreNulls). One shuffle, no
    * row explosion — the standard distributed as-of design (what a custom
    * SparkStrategy would codify; composition suffices here, SURVEY §7.3).
    */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir).select(
      $"user_id", $"ts", $"event_id",
      lit(null).cast("bigint").as("o_orderkey"),
      lit(null).cast("timestamp").as("o_orderdate"),
      lit(1).as("tag"))
    val od = Tables.orders(spark, dir).select(
      $"o_custkey".as("user_id"), $"o_orderdate".as("ts"),
      lit(null).cast("bigint").as("event_id"),
      $"o_orderkey", $"o_orderdate", lit(0).as("tag"))
    val w = Window.partitionBy($"user_id")
      .orderBy($"ts".asc, $"tag".asc, $"o_orderkey".asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.unionByName(od)
      .withColumn("matched_orderkey", last($"o_orderkey", ignoreNulls = true).over(w))
      .withColumn("matched_orderdate", last($"o_orderdate", ignoreNulls = true).over(w))
      .filter($"tag" === 1)
      .select($"event_id", $"user_id", $"ts", $"matched_orderkey", $"matched_orderdate")
      .orderBy($"event_id")
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "join_inner" -> (innerJoin _),
    "join_3way_agg" -> (threeWayAgg _),
    "join_broadcast_dims" -> (broadcastDims _),
    "join_left_outer" -> (leftOuter _),
    "join_full_outer" -> (fullOuter _),
    "join_semi" -> (semiJoin _),
    "join_anti" -> (antiJoin _),
    "join_override" -> (overrideJoin _),
    "join_cogroup_tagged" -> (cogroupTagged _),
    "join_theta_pairs" -> (thetaPairs _),
    "join_range_band" -> (rangeBand _),
    "join_asof" -> (asofJoin _),
    "join_part_promo" -> (partPromo _))

  override def oracle: Map[String, String] = Map(
    "join_part_promo" ->
      s"""SELECT p_brand, COUNT(*) AS n_lines,
         |  ${decSumSql("l_extendedprice * (1.0 - l_discount)", "revenue")},
         |  ${decSumSql(
               "CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END",
               "promo_revenue")}
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "join_inner" ->
      """SELECT o_orderkey, c_custkey, c_name, c_mktsegment, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,
    "join_3way_agg" ->
      s"""SELECT c_mktsegment, COUNT(*) AS n_lines,
         |  ${decSumSql("l_extendedprice * (1.0 - l_discount)", "revenue")}
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON o_orderkey = l_orderkey
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "join_broadcast_dims" ->
      s"""SELECT r_name, n_name, COUNT(*) AS n_suppliers,
         |  ${decSumSql("s_acctbal", "sum_acctbal")}
         |FROM supplier
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "join_left_outer" ->
      """SELECT o_orderkey, COUNT(l_orderkey) AS n_lines, SUM(l_quantity) AS sum_qty
        |FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin,
    "join_full_outer" ->
      """SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
        |  COALESCE(n_customers, 0) AS n_customers,
        |  COALESCE(n_suppliers, 0) AS n_suppliers
        |FROM (SELECT c_nationkey AS nationkey, COUNT(*) AS n_customers
        |      FROM customer GROUP BY c_nationkey) c
        |FULL OUTER JOIN (SELECT s_nationkey AS nationkey, COUNT(*) AS n_suppliers
        |      FROM supplier GROUP BY s_nationkey) s
        |USING (nationkey)
        |ORDER BY nationkey""".stripMargin,
    "join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000.0)
        |ORDER BY c_custkey""".stripMargin,
    "join_anti" ->
      """SELECT c_custkey, c_name, c_nationkey FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0)
        |ORDER BY c_custkey""".stripMargin,
    "join_override" ->
      """WITH delta AS (
        |  SELECT o_orderkey AS d_orderkey, o_totalprice * 1.1 AS d_totalprice,
        |         'RE-PRICED' AS d_orderpriority
        |  FROM orders WHERE o_orderstatus = 'O')
        |SELECT COALESCE(o_orderkey, d_orderkey) AS o_orderkey,
        |       COALESCE(d_totalprice, o_totalprice) AS o_totalprice,
        |       COALESCE(d_orderpriority, o_orderpriority) AS o_orderpriority
        |FROM orders FULL OUTER JOIN delta ON o_orderkey = d_orderkey
        |ORDER BY o_orderkey""".stripMargin,
    "join_cogroup_tagged" ->
      """SELECT COALESCE(o.o_orderkey, l.l_orderkey) AS o_orderkey,
        |  o.o_orderstatus,
        |  COALESCE(l.n_lines, 0) AS n_lines,
        |  COALESCE(l.sum_qty, 0.0) AS sum_qty
        |FROM orders o
        |FULL OUTER JOIN (SELECT l_orderkey, COUNT(*) AS n_lines, SUM(l_quantity) AS sum_qty
        |                 FROM lineitem GROUP BY l_orderkey) l
        |ON o.o_orderkey = l.l_orderkey
        |ORDER BY o_orderkey""".stripMargin,
    "join_theta_pairs" ->
      """SELECT n1.n_regionkey AS regionkey,
        |  n1.n_nationkey AS k1, n1.n_name AS name1,
        |  n2.n_nationkey AS k2, n2.n_name AS name2
        |FROM nation n1 JOIN nation n2
        |  ON n1.n_regionkey = n2.n_regionkey AND n1.n_nationkey < n2.n_nationkey
        |ORDER BY regionkey, k1, k2""".stripMargin,
    "join_range_band" ->
      s"""SELECT band, COUNT(*) AS n, ${decSumSql("value", "sum_value")}
         |FROM events
         |JOIN (VALUES ('low', 0.0, 50.0), ('mid', 50.0, 150.0), ('high', 150.0, 1e9))
         |  AS bands(band, lo, hi)
         |  ON value >= lo AND value < hi
         |GROUP BY band ORDER BY band""".stripMargin,
    "join_asof" ->
      """WITH cand AS (
        |  SELECT e.event_id, o.o_orderkey, o.o_orderdate,
        |    ROW_NUMBER() OVER (PARTITION BY e.event_id
        |                       ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        |  FROM events e
        |  JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
        |SELECT e.event_id, e.user_id, e.ts,
        |  c.o_orderkey AS matched_orderkey, c.o_orderdate AS matched_orderdate
        |FROM events e LEFT JOIN cand c ON c.event_id = e.event_id AND c.rn = 1
        |ORDER BY e.event_id""".stripMargin)
}
