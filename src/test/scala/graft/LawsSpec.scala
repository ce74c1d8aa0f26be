package graft

import graft.core.Tables
import org.apache.spark.sql.functions._

/** Property laws ported from the reference's validator philosophy
  * (SURVEY.md §5: SortValidator / TeraValidate / TestDatamerge check
  * properties of output, not golden bytes). Random cases are seeded —
  * reproducible, no network-resolved property-test bridge needed.
  */
class LawsSpec extends SparkSpec {
  import spark.implicits._

  test("decimal-routed double sums are bit-identical under any partitioning (exactness law)") {
    // the reproducibility invariant the whole oracle strategy rests on:
    // decimal accumulation is associative+exact, so the result cannot
    // depend on partition count or merge order
    import org.apache.spark.sql.types.DecimalType
    import org.apache.spark.sql.functions.sum
    val base = Tables.lineitem(spark, sfDir).select($"l_extendedprice")
    val sums = Seq(1, 3, 7, 32).map { n =>
      base.repartition(n)
        .agg(sum($"l_extendedprice".cast(DecimalType(18, 6))).cast("double"))
        .head().getDouble(0)
    }
    assert(sums.distinct.size == 1, s"partitioning leaked into the sum: $sums")
  }

  test("global sort is a permutation and globally ordered (SortValidator law)") {
    // l_shipdate is TIMESTAMP_NTZ; its ISO string ordering is chronological
    val sorted = graft.operators.Relational.globalSort(spark, sfDir)
      .select($"l_shipdate".cast("string").as("k1"), $"l_orderkey", $"l_linenumber")
      .collect()
    val orig = Tables.lineitem(spark, sfDir)
      .select($"l_shipdate".cast("string"), $"l_orderkey", $"l_linenumber").collect()
    assert(sorted.length == orig.length)
    // permutation: same multiset
    assert(sorted.map(_.toString).sorted.sameElements(orig.map(_.toString).sorted))
    // ordered: every adjacent pair non-decreasing on the composite key
    val keys = sorted.map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    assert(keys.zip(keys.tail).forall { case (a, b) => Ordering[(String, Long, Int)].lteq(a, b) })
  }

  test("inner join is contained in full outer join (TestDatamerge law)") {
    val c = Tables.customer(spark, sfDir).select($"c_nationkey".as("k")).distinct()
    val s = Tables.supplier(spark, sfDir).select($"s_nationkey".as("k")).distinct()
    val inner = c.join(s, Seq("k")).select($"k").collect().map(_.getInt(0)).toSet
    val outer = c.join(s, Seq("k"), "full_outer").select($"k").collect().map(_.getInt(0)).toSet
    assert(inner.subsetOf(outer))
  }

  test("override join: rightmost wins, N-ary precedence (OverrideRecordReader law)") {
    // scala reference model vs composed full_outer+coalesce, 3 snapshots
    val rnd = new scala.util.Random(7)
    def randMap(): Map[Int, Int] =
      Seq.fill(rnd.nextInt(20))(rnd.nextInt(16) -> rnd.nextInt(1000)).toMap
    (1 to 10).foreach { _ =>
      val (a, b, c) = (randMap(), randMap(), randMap())
      val expected = a ++ b ++ c // rightmost (latest) wins — the reference model
      val da = a.toSeq.toDF("k", "v")
      val db = b.toSeq.toDF("k2", "v2")
      val dc = c.toSeq.toDF("k3", "v3")
      val merged = da.join(db, $"k" === $"k2", "full_outer")
        .select(coalesce($"k2", $"k").as("k"), coalesce($"v2", $"v").as("v"))
        .join(dc, $"k" === $"k3", "full_outer")
        .select(coalesce($"k3", $"k").as("k"), coalesce($"v3", $"v").as("v"))
      val got = merged.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
      assert(got == expected, s"a=$a b=$b c=$c")
    }
  }

  test("partial agg equals final agg under any partitioning (combiner law)") {
    val base = Tables.lineitem(spark, sfDir)
    val r1 = base.groupBy($"l_returnflag").agg(sum($"l_quantity")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val r2 = base.repartition(17, $"l_partkey").groupBy($"l_returnflag")
      .agg(sum($"l_quantity")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(r1 == r2) // quantities integral: exact under reordering
  }

  /** Seeded scored lists; coarse scores force ties. */
  private lazy val topKCases: Seq[List[graft.functions.Scored]] = {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val genVals = Gen.listOf(for {
      s <- Gen.choose(0, 50).map(_.toDouble)
      k <- Gen.choose(0L, 30L)
    } yield graft.functions.Scored(s, k))
    (0 until 30).map(i => genVals(Gen.Parameters.default, Seed(7L + i)).getOrElse(Nil))
  }

  test("bounded top-k heap: merge is order-insensitive and equals sort-take (distribution law)") {
    // the Aggregator contract under arbitrary partial aggregation: any
    // grouping/ordering of reduce+merge must equal global sort-take —
    // this is exactly what makes the map-side heap safe on any cluster
    import graft.functions.{ScoredStr, TopKAgg, TopKStrAgg}
    val agg = new TopKAgg(3)
    topKCases.zipWithIndex.foreach { case (vals, i) =>
      val expected = vals.sortBy(s => (-s.score, s.key)).take(3)
      // arbitrary partition split + merge order
      val split = vals.grouped(math.max(1, vals.size / 3)).toList
      val partials = split.map(p => p.foldLeft(agg.zero)(agg.reduce))
      val mergedLtr = partials.foldLeft(agg.zero)(agg.merge)
      val mergedRtl = partials.reverse.foldLeft(agg.zero)(agg.merge)
      assert(agg.finish(mergedLtr) == expected, s"case $i ltr")
      assert(agg.finish(mergedRtl) == expected, s"case $i rtl")
    }
    // string variant: UTF-8 tie-break must match Spark/DuckDB binary order,
    // including supplementary-plane vs BMP characters at the boundary
    val sAgg = new TopKStrAgg(2)
    val tied = List(ScoredStr(1.0, "￥"), ScoredStr(1.0, "😀"),
      ScoredStr(1.0, "z"), ScoredStr(2.0, "a"))
    val out = sAgg.finish(tied.foldLeft(sAgg.zero)(sAgg.reduce))
    // binary UTF-8: 'z' (0x7A) < U+FFE5 (0xEF..) < U+1F600 (0xF0..)
    assert(out == List(ScoredStr(2.0, "a"), ScoredStr(1.0, "z")), s"got $out")
  }

  test("ranked top-k operator: per-group sort-take ranked from 1, UTF-8 ties, k past the group") {
    import graft.functions.BoundedTopK
    // the heap law's cases, one group each, split over partitions
    val scored = topKCases.zipWithIndex.flatMap { case (vals, g) => vals.map(s => (g, s.score, s.key)) }
      .toDF("g", "score", "key").repartition(3)
    val ranked = BoundedTopK.ranked(scored, Seq("g"), "score", "key", 3)
    assert(ranked.schema.map(f => f.name -> f.dataType.simpleString) ==
      Seq("g" -> "int", "rank" -> "int", "key" -> "bigint", "score" -> "double"))
    val got = ranked.as[(Int, Int, Long, Double)].collect().toSeq.groupBy(_._1)
    topKCases.zipWithIndex.foreach { case (vals, g) =>
      val want = vals.sortBy(s => (-s.score, s.key)).take(3).zipWithIndex
        .map { case (s, i) => (g, i + 1, s.key, s.score) }
      assert(got.getOrElse(g, Nil).sortBy(_._2) == want, s"group $g")
    }
    // string keys tied on score rank in UTF-8 binary order:
    // 'z' (0x7A) < U+FFE5 (0xEF..) < U+1F600 (0xF0..); a group smaller than
    // k keeps every row
    val words = Seq(("t", 1.0, "￥"), ("t", 1.0, "😀"), ("t", 1.0, "z"), ("t", 2.0, "a"),
      ("t", 0.5, "b"), ("one", 5.0, "q")).toDF("g", "score", "word")
    val strs = BoundedTopK.ranked(words, Seq("g"), "score", "word", 4)
      .as[(String, Int, String, Double)].collect().toSeq.sortBy(r => (r._1, r._2))
    assert(strs == Seq(("one", 1, "q", 5.0),
      ("t", 1, "a", 2.0), ("t", 2, "z", 1.0), ("t", 3, "￥", 1.0), ("t", 4, "😀", 1.0)), s"got $strs")
  }

  test("as-of join matches brute-force model") {
    val got = graft.operators.Joins.asofJoin(spark, sfDir)
      .select($"event_id", $"matched_orderkey").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    // normalize both NTZ and LTZ timestamps through epoch micros in SQL
    val events = Tables.events(spark, sfDir)
      .select($"event_id", $"user_id", unix_micros($"ts")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val orders = Tables.orders(spark, sfDir)
      .select($"o_orderkey", $"o_custkey",
        unix_micros($"o_orderdate".cast("timestamp"))).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byCust = orders.groupBy(_._2)
    events.foreach { case (eid, uid, ets) =>
      val best = byCust.getOrElse(uid, Array.empty)
        .filter(_._3 <= ets)
        .sortBy(o => (o._3, o._1)) // max date, then max key
        .lastOption.map(_._1).getOrElse(-1L)
      assert(got(eid) == best, s"event $eid: got ${got(eid)} want $best")
    }
  }

  test("secondary sort: values ordered within each key group") {
    val rows = graft.operators.Relational.secondarySort(spark, sfDir)
      .select($"user_id", $"ts".cast("long"), $"seq").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    rows.groupBy(_._1).values.foreach { grp =>
      val sorted = grp.sortBy(_._3)
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a._2 <= b._2 },
        "timestamps must be non-decreasing in seq order")
    }
  }
}
