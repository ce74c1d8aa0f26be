package graft

import graft.core.{Knobs, Tables}
import graft.expr.LshFirstShared
import graft.functions.{Banding, DedupOps}
import graft.plans.{BandPairsExec, GraftFunctions}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** The grouped pairing behind [[Banding.selfJoin]]: on every route its pair
  * set is exactly the brute-force one, built here from the collected key
  * arrays with [[LshFirstShared.compute]]: each unordered pair with a
  * canonical discovery, once, side one the discovering row.
  */
class BandPairsSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** The reference pair set of `rows` (id, key array), side one first. */
  private def reference(rows: Seq[(Long, Seq[Any])], bits: Int = 0,
      over: Seq[Seq[Long]] = Nil): Set[(Long, Long)] = {
    val cap = LshFirstShared.overCapArrays(over)
    def arr(k: Seq[Any]) = new GenericArrayData(k)
    (for {
      (ia, ka) <- rows.iterator
      (ib, kb) <- rows.iterator if ia < ib
      r = LshFirstShared.compute(arr(ka), arr(kb), true, bits, cap,
        wide = ka.headOption.exists(_.isInstanceOf[Long]))
      if r != -1
    } yield if (r >= 0) (ia, ib) else (ib, ia)).toSet
  }

  private def pairsOf(df: DataFrame, as: String): Seq[(Long, Long)] =
    df.select(col(s"${as}1"), col(s"${as}2")).collect().map(r => (r.getLong(0), r.getLong(1)))

  private def assertPairs(what: String, got: Seq[(Long, Long)], want: Set[(Long, Long)]): Unit = {
    assert(got.size == got.toSet.size, s"$what: a pair left twice")
    assert(got.toSet == want,
      s"$what: missing=${(want -- got).take(5)} spurious=${(got.toSet -- want).take(5)}")
  }

  /** (vec_id, label, lsh_probes keys) of every embedded vector. */
  private def signKeys(t: Int, p: Int, bits: Int): Seq[(Long, Option[Int], Seq[Any])] = {
    GraftFunctions.install(spark)
    Tables.embeddings(spark, sfDir).filter($"embedding".isNotNull)
      .select($"vec_id", $"label", expr(s"lsh_probes(embedding, $t, $p, $bits)"))
      .collect().map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Int]), r.getSeq[Any](2)))
      .toSeq
  }

  test("unprobed and probed sign-LSH pairs ≡ the brute-force canonical pairs") {
    for (bits <- Seq(0, 2)) {
      val got = pairsOf(Banding.selfJoin(Tables.embeddings(spark, sfDir), "vec_id" -> "v",
        Banding.signLsh(4, 4, bits), bits), "v")
      val want = reference(signKeys(4, 4, bits).map(k => (k._1, k._3)), bits)
      assert(want.nonEmpty && (bits == 0 || want.exists { case (a, b) => a > b }))
      assertPairs(s"bits=$bits", got, want)
    }
  }

  test("within = label pairs only rows of one label, each pair once") {
    for (bits <- Seq(0, 1)) {
      val got = pairsOf(Banding.selfJoin(Tables.embeddings(spark, sfDir), "vec_id" -> "v",
        Banding.signLsh(8, 2, bits), bits, within = Seq("label")), "v")
      val keys = signKeys(8, 2, bits)
      val want = keys.filter(_._2.nonEmpty).groupBy(_._2).values
        .flatMap(g => reference(g.map(k => (k._1, k._3)), bits)).toSet
      assert(want.nonEmpty && want.size < reference(keys.map(k => (k._1, k._3)), bits).size)
      assertPairs(s"within label bits=$bits", got, want)
    }
  }

  test("capped MinHash on bigint keys: a pair whose first bucket was dropped moves on") {
    val (bands, rows, cap) = (8, 2, 2)
    val sigs = DedupOps.minhashSigsOf(Tables.documents(spark, sfDir), bands * rows)
    val keyed = sigs.select($"doc_id", Banding.minhash(bands, rows).col.as("k"))
      .collect().map(r => (r.getLong(0), r.getSeq[Any](1))).toSeq
    // the buckets over the cap, per band, counted from the collected keys
    val over = (0 until bands).map(t => keyed.groupBy(_._2(t)).collect {
      case (k, ds) if ds.size > cap => k.asInstanceOf[Long]
    }.toSeq)
    assert(over.exists(_.nonEmpty), "the cap drops no bucket: the case tests nothing")
    val df = Banding.selfJoin(sigs, "doc_id" -> "d", Banding.minhash(bands, rows),
      cap = Some(Knobs.DedupBucketCap -> cap))
    val want = reference(keyed, over = over)
    assert(want.nonEmpty && want != reference(keyed))
    assertPairs("capped minhash", pairsOf(df, "d"), want)
  }

  test("SimHash pairs with the hamming test ≡ brute force over both sides' carried signatures") {
    val sigs = DedupOps.simhashSigsOf(Tables.documents(spark, sfDir))
    val keyed = sigs.select($"doc_id", $"sig", Banding.simhash(DedupOps.SimhashBands).col)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Any](2))).toSeq
    val sigOf = keyed.map(k => k._1 -> k._2).toMap
    def close(a: Long, b: Long) =
      java.lang.Long.bitCount(sigOf(a) ^ sigOf(b)) <= DedupOps.SimhashMaxHamming
    val all = reference(keyed.map(k => (k._1, k._3)))
    val want = all.filter { case (a, b) => close(a, b) }
    assert(want.nonEmpty && want.size < all.size, s"${want.size} of ${all.size}")
    val df = Banding.selfJoin(sigs, "doc_id" -> "d", Banding.simhash(DedupOps.SimhashBands),
      carry = Seq("s" -> $"sig"),
      test = Some(expr("bit_count(s1 ^ s2)") <= DedupOps.SimhashMaxHamming))
    assertPairs("simhash", pairsOf(df, "d"), want)
    // both sides' carried columns reach the output
    assert(df.select($"d1", $"s1", $"d2", $"s2").collect()
      .forall(r => sigOf(r.getLong(0)) == r.getLong(1) && sigOf(r.getLong(2)) == r.getLong(3)))
  }

  /** selfJoin over an in-memory frame (id, k: array<int>) at 2 tables. */
  private def inMemory(rows: Seq[(Option[Long], Option[Seq[Int]])]): DataFrame =
    Banding.selfJoin(rows.toDF("id", "k").repartition(3), "id" -> "v",
      Banding.Keys($"k", 2))

  private def metricsOf(df: DataFrame): Map[String, Long] = {
    df.collect()
    val nodes = collect(df.queryExecution.executedPlan) { case b: BandPairsExec => b }
    assert(nodes.size == 1, df.queryExecution.executedPlan)
    nodes.head.metrics.map { case (k, v) => k -> v.value }
  }

  test("edge cases: empty input, single-row groups, null keys and ids, one group of every row") {
    val empty = inMemory(Nil)
    assert(empty.collect().isEmpty)
    assert(metricsOf(empty).values.forall(_ == 0))
    // every bucket holds one row: no pair is tested
    val singles = inMemory((1 to 6).map(i => (Some(i.toLong), Some(Seq(i, 10 + i)))))
    assert(singles.collect().isEmpty)
    val m = metricsOf(singles)
    assert(m("numGroups") == 12 && m("numTested") == 0, m)
    // a null key array, a null id or a null key meets no pair
    val nulls = inMemory(Seq(
      (Some(1L), Some(Seq(7, 8))), (Some(2L), Some(Seq(7, 9))), (Some(3L), None),
      (None, Some(Seq(7, 8))), (Some(4L), Some(Seq(5, 8)))))
    assert(nulls.select($"v1", $"v2").as[(Long, Long)].collect().toSet == Set((1L, 2L), (1L, 4L)))
    // one group holds every row: each pair once, at the first table
    val n = 40
    val hot = inMemory((1 to n).map(i => (Some(i.toLong), Some(Seq(3, 3)))))
    val got = hot.select($"tbl", $"v1", $"v2").as[(Int, Long, Long)].collect()
    assert(got.length == n * (n - 1) / 2 && got.forall { case (t, a, b) => t == 0 && a < b })
    assert(got.map(p => (p._2, p._3)).toSet.size == got.length)
    val hm = metricsOf(hot)
    assert(hm("numGroups") == 2 && hm("numTested") == 2L * n * (n - 1) / 2 &&
      hm("numCanonical") == got.length && hm("numOutputRows") == got.length, hm)
  }
}
