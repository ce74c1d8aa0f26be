package graft

import graft.expr.Hyperplanes
import graft.plans.GraftFunctions
import org.apache.spark.sql.functions._

/** The `lsh_probes` multi-probe kernel: slot-0 replay of `lsh_buckets`,
  * Hamming-1 probe slots on the lowest-|dot| planes, interpreted/codegen
  * parity, and the candidate-superset property the banded routes rely on;
  * and `lsh_first_shared`, the self-join's one-row-per-pair test.
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

  test("lsh_first_shared: first equal position, -1 when none, null stays null") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    GraftFunctions.install(spark)
    val cases = Seq(
      (Seq(3, 1, 2, 2), Seq(0, 1, 2, 2), 1),
      (Seq(3, 1, 2), Seq(3, 0, 0), 0),
      (Seq(1, 2, 3), Seq(0, 0, 0), -1),
      (Seq(1, 2), Seq(0, 2, 9), 1)) // ragged: compares the common prefix
    // the repartition keeps the projection out of the optimizer's
    // local-relation folding, so it runs as generated code
    val got = cases.toDF("a", "b", "want").repartition(1)
      .select(expr("lsh_first_shared(a, b)"), $"want").as[(Int, Int)].collect()
    assert(got.length == cases.size && got.forall { case (g, w) => g == w }, got.toSeq)
    cases.foreach { case (a, b, want) =>
      assert(graft.expr.LshFirstShared(Literal.create(a), Literal.create(b)).eval() == want)
    }
    assert(Seq[(Seq[Int], Option[Seq[Int]])]((Seq(1), None)).toDF("a", "b")
      .select(expr("lsh_first_shared(a, b)")).head().isNullAt(0))
  }

  test("slot 0 of every table replays lsh_buckets bit-for-bit") {
    (1 to 5).foreach { _ =>
      val v = vec()
      val base = kernel("lsh_buckets(e, 8, 10)", v)
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
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interp = kernel("lsh_probes(e, 8, 10, 4)", v)
      assert(codegen == interp)
    } finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
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
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(kernel("lsh_probes(e, 2, 4, 2)", v) == codegen)
    finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
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
    val base = SimilarityOps.lshCandidateIds(spark, sfDir, 4, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val probed = SimilarityOps.lshCandidateIds(spark, sfDir, 4, 4, probeBits = 2)
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
