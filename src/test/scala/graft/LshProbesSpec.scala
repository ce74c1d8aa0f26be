package graft

import graft.core.Knobs
import graft.expr.Hyperplanes
import graft.plans.GraftFunctions
import org.apache.spark.sql.functions._

/** The `lsh_probes` multi-probe kernel: slot-0 replay of the composed
  * sign-of-`dot_product` bucketing, Hamming-1 probe slots on the
  * lowest-|dot| planes, interpreted/codegen parity, and the
  * candidate-superset property the banded routes rely on; and
  * `lsh_first_shared` (`LshFirstShared.compute`), the banded pairing's
  * one-row-per-pair rule on int and bigint keys, with what it enforces:
  * every embedding LSH route emits each pair once.
  */
class LshProbesSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(11)
  private def vec(): Seq[Float] = Seq.fill(Hyperplanes.Dim)(rnd.nextFloat() * 2 - 1)

  private def kernel(fn: String, v: Seq[Float]): Seq[Int] = {
    GraftFunctions.install(spark)
    Seq(Tuple1(v)).toDF("e").select(expr(fn)).collect().head.getSeq[Int](0)
  }

  private def scalaDots(v: Seq[Float], t: Int, planes: Int): Seq[Double] =
    (0 until planes).map { p =>
      val pl = Hyperplanes.planes(t * planes + p)
      var dot = 0.0; var i = 0
      while (i < pl.length) { dot += v(i).toDouble * pl(i); i += 1 }
      dot
    }

  /** [[graft.expr.LshFirstShared.compute]] over two key arrays, with the
    * over-cap buckets prepared as the pairing prepares them. */
  private def firstShared(a: Seq[Any], b: Seq[Any], lower: Boolean, bits: Int,
      over: Seq[Seq[Long]]): Int = {
    import graft.expr.LshFirstShared
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    LshFirstShared.compute(new GenericArrayData(a), new GenericArrayData(b), lower, bits,
      LshFirstShared.overCapArrays(over), wide = a.headOption.exists(_.isInstanceOf[Long]))
  }

  test("lsh_first_shared: first equal position, -1 when none") {
    val cases = Seq(
      (Seq(3, 1, 2, 2), Seq(0, 1, 2, 2), 1),
      (Seq(3, 1, 2), Seq(3, 0, 0), 0),
      (Seq(1, 2, 3), Seq(0, 0, 0), -1),
      (Seq(1, 2), Seq(0, 2, 9), 1)) // ragged: compares the common prefix
    cases.foreach { case (a, b, want) =>
      assert(firstShared(a, b, lower = true, 0, Nil) == want, s"$a $b")
    }
  }

  test("lsh_first_shared: canonical discovery of probed and capped pairs") {
    // (p1, p2, p1IsLower, probeBits, overCap, want): the discovering slot's
    // position in p1, or -2 - its position in p2; -1 for none. overCap(t)
    // holds table t's dropped buckets.
    val cases = Seq[(Seq[Int], Seq[Int], Boolean, Int, Seq[Seq[Long]], Int)](
      // base–base collision: the lower id's slot
      (Seq(4, 5, 6), Seq(4, 0, 2), true, 2, Nil, 0),
      (Seq(4, 5, 6), Seq(4, 0, 2), false, 2, Nil, -2),
      // only p1 flips into p2's base, from either id
      (Seq(1, 3, 5), Seq(3, 2, 0), true, 2, Nil, 1),
      (Seq(1, 3, 5), Seq(3, 2, 0), false, 2, Nil, 1),
      // both flip into each other's base: the lower id's flip wins
      (Seq(1, 3, 9), Seq(3, 1, 8), true, 2, Nil, 1),
      (Seq(1, 3, 9), Seq(3, 1, 8), false, 2, Nil, -3),
      // an earlier table beats a base–base collision in a later one
      (Seq(1, 3, 5, 7, 0, 0), Seq(3, 2, 0, 7, 1, 1), false, 2, Nil, 1),
      // nothing in table 0; p2's flip in table 1
      (Seq(1, 2, 3, 7, 6, 5), Seq(4, 5, 6, 0, 7, 9), true, 2, Nil, -6),
      (Seq(1, 2, 3), Seq(4, 5, 6), true, 2, Nil, -1),
      // capped: an over-cap first shared bucket passes to the next table
      (Seq(4, 2), Seq(4, 2), true, 0, Seq(Seq(4L)), 1),
      (Seq(4, 2), Seq(4, 2), true, 0, Seq(Seq(4L), Seq(2L)), -1),
      // capped and probed: p1's flip meets an over-cap base, p2's does not
      (Seq(1, 3, 9), Seq(3, 1, 8), true, 2, Seq(Seq(3L)), -3))
    cases.foreach { case (a, b, lower, bits, over, want) =>
      val got = firstShared(a, b, lower, bits, over)
      assert(got == want, s"$a $b lower=$lower bits=$bits over=$over: got $got, want $want")
    }
  }

  test("lsh_first_shared on bigint keys: all 64 bits count, caps are per table") {
    val hi = 1L << 32
    val cases = Seq[(Seq[Long], Seq[Long], Boolean, Int, Seq[Seq[Long]], Int)](
      // equal in the low 32 bits, not the high 32: no agreement there
      (Seq(hi | 5L, 7L), Seq(5L, 7L), true, 0, Nil, 1),
      (Seq(hi | 5L), Seq(5L), true, 0, Nil, -1),
      (Seq(-1L, 9L), Seq(0xFFFFFFFFL, 9L), true, 0, Nil, 1),
      // an over-cap bucket is skipped in its own table only
      (Seq(10L, 10L), Seq(10L, 10L), true, 0, Seq(Seq(10L)), 1),
      (Seq(10L, 10L), Seq(10L, 10L), true, 0, Seq(Nil, Seq(10L)), 0),
      (Seq(10L, 10L), Seq(10L, 10L), true, 0, Seq(Seq(10L), Seq(10L)), -1),
      // a table's over-cap buckets need not arrive sorted; extremes order
      (Seq(-3L, Long.MaxValue), Seq(-3L, Long.MaxValue), true, 0,
        Seq(Seq(Long.MaxValue, Long.MinValue, -3L)), 1),
      // a bucket equal to another table's over-cap value stays open
      (Seq(hi, 1L), Seq(hi, 1L), true, 0, Seq(Seq(hi + 1), Seq(hi)), 0),
      // probed: the lower id's flip, then the higher id's
      (Seq(hi | 1L, hi | 3L, 9L), Seq(hi | 3L, hi | 1L, 8L), true, 2, Nil, 1),
      (Seq(hi | 1L, hi | 3L, 9L), Seq(hi | 3L, hi | 1L, 8L), false, 2, Nil, -3),
      (Seq(hi | 1L, hi | 3L, 9L), Seq(hi | 3L, hi | 1L, 8L), true, 2, Seq(Seq(hi | 3L)), -3),
      // the first agreeing table of two bigint key arrays
      (Seq(hi | 2L, 4L), Seq(2L, 4L), true, 0, Nil, 1))
    cases.foreach { case (a, b, lower, bits, over, want) =>
      val got = firstShared(a, b, lower, bits, over)
      assert(got == want, s"$a $b lower=$lower bits=$bits over=$over: got $got, want $want")
    }
    // key arrays of a type that is no bucket fail when the pairing is built
    import graft.plans.BandPairs
    val strings = intercept[IllegalArgumentException](BandPairs(
      Seq((1L, "x", 0, Seq("x"))).toDF("tbl", "bucket", "pos", "pr"), Seq("tbl", "bucket"),
      "pos", "pr", 0, Nil, Seq("tbl" -> "tbl2"), None))
    assert(strings.getMessage.contains("array<int> or array<bigint>"), strings)
  }

  test("probed candidates ≡ base collisions plus flips into the other's base") {
    import graft.functions.SimilarityOps
    val (t, p, bits) = (4, 4, 2)
    val stride = 1 + bits
    val got = SimilarityOps.lshCandidateIds(spark, sfDir, Knobs.Banding(Knobs.Pairs, t, p, bits))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    GraftFunctions.install(spark)
    val vecs = graft.core.Tables.embeddings(spark, sfDir)
      .filter($"embedding".isNotNull)
      .select($"vec_id", expr(s"lsh_probes(embedding, $t, $p, $bits)"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1)))
    def flipsInto(a: Seq[Int], b: Seq[Int], tbl: Int) =
      (1 to bits).exists(j => a(tbl * stride + j) == b(tbl * stride))
    val ref = (for {
      (v1, a) <- vecs.iterator
      (v2, b) <- vecs.iterator
      if v1 < v2 && (0 until t).exists(tbl =>
        a(tbl * stride) == b(tbl * stride) || flipsInto(a, b, tbl) || flipsInto(b, a, tbl))
    } yield (v1, v2)).toSet
    assert(got.size == got.toSet.size, "a pair left the self-join twice")
    assert(got.toSet == ref,
      s"missing=${(ref -- got).take(5)} spurious=${(got.toSet -- ref).take(5)}")
  }

  test("every embedding LSH route emits each pair once") {
    import graft.functions.SimilarityOps
    def once(what: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val pairs = df.select($"v1", $"v2")
      val (n, distinct) = (pairs.count(), pairs.distinct().count())
      assert(n > 0 && n == distinct, s"$what: $n rows for $distinct distinct pairs")
    }
    val dense = tools.Corpora.generateDenseDupVectors(spark, 1000)
    for (bits <- Seq(0, 2)) {
      once(s"candidates bits=$bits", SimilarityOps.lshCandidateIds(spark, sfDir,
        Knobs.Banding(Knobs.Pairs, 4, 4, bits)))
      once(s"capped candidates bits=$bits", SimilarityOps.lshCandidateIds(spark, dense,
        Knobs.Banding(Knobs.CosDedup, 8, 4, bits, bucketCap = 64)))
      once(s"scored bits=$bits", SimilarityOps.lshScoredNeighbors(spark, sfDir, 4, 4,
        probeBits = bits))
      once(s"scored within label bits=${bits min 1}", SimilarityOps.lshScoredNeighbors(
        spark, sfDir, 32, 1, within = Seq("label"), probeBits = bits min 1))
    }
  }

  test("sim_nearest_same_label's banded argmax reads each ordered pair once") {
    import graft.functions.SimilarityOps
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
    object Plans extends AdaptiveSparkPlanHelper
    val ordered = SimilarityOps.lshScoredNeighbors(spark, sfDir, 32, 1,
      within = Seq("label")).select($"v1", $"v2").distinct().count()
    val df = withConf("graft.sim.exact" -> "false") {
      val q = SimilarityOps.nearestSameLabel(spark, sfDir)
      q.collect()
      q
    }
    val partial = Plans.collect(df.queryExecution.executedPlan) {
      case a: BaseAggregateExec if a.aggregateExpressions.nonEmpty &&
          a.aggregateExpressions.forall(_.mode == Partial) => a
    }
    assert(partial.size == 1, df.queryExecution.executedPlan)
    // the nearest operator below the partial argmax that counts its rows
    var below = partial.head.child
    while (!below.metrics.contains("numOutputRows")) below = below.children.head
    val rows = below.metrics("numOutputRows").value
    assert(ordered > 0 && rows == ordered,
      s"$rows rows into the partial argmax for $ordered ordered pairs")
  }

  test("slot 0 of every table replays the composed sign-of-dot_product bucketing") {
    // the independent bucketing the oracle replays: bit p of table t is
    // set iff dot_product(e, plane[t*planes+p]) > 0
    def composed(tables: Int, planes: Int, v: Seq[Float]): Seq[Int] = {
      GraftFunctions.install(spark)
      val buckets = (0 until tables).map(t => (0 until planes).map { p =>
        when(call_function("dot_product", $"e",
          typedLit(Hyperplanes.planes(t * planes + p).toSeq)) > 0, lit(1 << p)).otherwise(0)
      }.reduce(_ + _))
      Seq(Tuple1(v)).toDF("e").select(array(buckets: _*)).collect().head.getSeq[Int](0)
    }
    (1 to 5).foreach { _ =>
      val v = vec()
      val base = composed(8, 10, v)
      assert(kernel("lsh_probes(e, 8, 10, 0)", v) == base)
      val probed = kernel("lsh_probes(e, 8, 10, 3)", v)
      assert(probed.size == 8 * 4)
      assert((0 until 8).map(t => probed(t * 4)) == base)
    }
  }

  test("probe slots are Hamming-1 neighbors flipping the lowest-|dot| planes") {
    (1 to 5).foreach { _ =>
      val v = vec()
      val m = 3
      val probed = kernel(s"lsh_probes(e, 4, 8, $m)", v)
      (0 until 4).foreach { t =>
        val base = probed(t * (1 + m))
        val flips = (1 to m).map(j => probed(t * (1 + m) + j) ^ base)
        // each probe flips exactly one bit, all distinct
        assert(flips.forall(f => Integer.bitCount(f) == 1), s"t=$t flips=$flips")
        assert(flips.distinct.size == m)
        // and those bits are the m smallest-|dot| planes, ascending
        val absDots = scalaDots(v, t, 8).map(math.abs)
        val expected = absDots.zipWithIndex.sortBy { case (d, i) => (d, i) }
          .take(m).map { case (_, i) => 1 << i }
        assert(flips == expected, s"t=$t got=$flips expected=$expected")
      }
    }
  }

  test("probeBits = planesPerTable visits the full Hamming-1 ball") {
    val v = vec()
    val probed = kernel("lsh_probes(e, 2, 6, 6)", v)
    (0 until 2).foreach { t =>
      val base = probed(t * 7)
      val flips = (1 to 6).map(j => probed(t * 7 + j) ^ base).toSet
      assert(flips == (0 until 6).map(1 << _).toSet)
    }
  }

  test("interpreted eval matches codegen") {
    val v = vec()
    val codegen = kernel("lsh_probes(e, 8, 10, 4)", v)
    val interp = withConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(kernel("lsh_probes(e, 8, 10, 4)", v))
    assert(codegen == interp)
  }

  test("NaN embedding: deterministic output, parity, no selection of NaN planes") {
    // a NaN element poisons every dot → all |dot| NaN → fallback flips the
    // lowest positions; both eval paths must agree exactly
    val v = Seq.tabulate(Hyperplanes.Dim)(i => if (i == 0) Float.NaN else 0.5f)
    val codegen = kernel("lsh_probes(e, 2, 4, 2)", v)
    assert(codegen.size == 2 * 3)
    (0 until 2).foreach { t =>
      val base = codegen(t * 3)
      assert((codegen(t * 3 + 1) ^ base) == 1) // lowest position first
      assert((codegen(t * 3 + 2) ^ base) == 2)
    }
    withConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(assert(kernel("lsh_probes(e, 2, 4, 2)", v) == codegen))
  }

  test("bad shapes fail at plan build") {
    val v = vec()
    intercept[Exception](kernel("lsh_probes(e, 4, 8, 9)", v))  // bits > planes
    intercept[Exception](kernel("lsh_probes(e, 4, 8, -1)", v)) // negative
    intercept[Exception](kernel("lsh_probes(e, 0, 8, 0)", v))  // no tables
    // a column where a literal belongs: the message names the function
    // and the argument
    val col = intercept[Exception](kernel("lsh_probes(e, 4, size(e), 0)", v))
    assert(col.getMessage.contains("lsh_probes: planesPerTable must be an integer literal"),
      col)
  }

  test("probed candidates strictly extend base candidates (same shape)") {
    import graft.functions.SimilarityOps
    val base = SimilarityOps.lshCandidateIds(spark, sfDir, Knobs.Banding(Knobs.Pairs, 4, 4))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val probed = SimilarityOps.lshCandidateIds(spark, sfDir,
      Knobs.Banding(Knobs.Pairs, 4, 4, probeBits = 2))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(base.subsetOf(probed),
      s"lost pairs: ${(base -- probed).take(5)}")
    // STRICTLY larger: on the near-uniform 500-vector corpus at 16-bucket
    // tables, Hamming-1 neighbor buckets are well-populated, so disabled
    // probing (a typo'd conf key, a dropped union branch) cannot hide
    // behind a >=; every non-strict probe assertion in the suite would
    // pass with probing inert
    assert(probed.size > base.size,
      s"probing added no candidates (base=${base.size}, probed=${probed.size})")
  }
}
