package graft

import graft.expr.Int8Blob
import graft.functions.{DedupOps, SimilarityOps}
import graft.plans.GraftFunctions
import org.apache.spark.sql.functions._

/** The int8 candidate prefilter's contract: `int8_keep(b1, b2, θ)` may
  * reject a pair ONLY when its float cosine is provably < θ. The margin
  * packed by `int8_enc` (2‖x−x̂‖/‖x‖ per vector, see [[graft.expr.Int8Blob]])
  * makes that a theorem, not a tuning: est within m1+m2 of the true cosine
  * for every pair, so no pair at or above θ is ever dropped — the filtered
  * banded routes stay row-identical to their unfiltered (and exact) forms.
  */
class Int8PrefilterSpec extends SparkSpec {

  private def blobsAndCos(vecs: Seq[Seq[Float]]) = {
    import spark.implicits._
    GraftFunctions.install(spark)
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "emb")
      .select($"id", $"emb", expr("int8_enc(emb)").as("blob"))
    val a = df.select($"id".as("i1"), $"emb".as("e1"), $"blob".as("b1"))
    val b = df.select($"id".as("i2"), $"emb".as("e2"), $"blob".as("b2"))
    a.join(b, $"i1" < $"i2")
      .select($"i1", $"i2", $"b1", $"b2",
        expr("cosine_sim(e1, e2)").as("cos"),
        expr("int8_est(b1, b2)").as("est"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Array[Byte]]("b1"), r.getAs[Array[Byte]]("b2"),
        r.getDouble(4), r.getDouble(5)))
  }

  private val rnd = new scala.util.Random(91)
  private def randVec(scale: Float = 1f): Seq[Float] =
    Seq.fill(SimilarityOps.Dim)((rnd.nextGaussian().toFloat) * scale)

  test("est is within the packed margins of the true cosine (random + correlated pairs)") {
    // random pairs plus planted near-dups (v, v+noise) so high-cosine pairs
    // — the population the prefilter must never drop — are represented
    val base = Seq.fill(30)(randVec())
    val dups = base.take(10).map(v => v.map(x => x + rnd.nextGaussian().toFloat * 0.05f))
    val rows = blobsAndCos(base ++ dups)
    assert(rows.nonEmpty)
    assert(rows.exists(_._5 > 0.9), "expected planted high-cosine pairs")
    for ((i1, i2, b1, b2, cos, est) <- rows) {
      val bound = Int8Blob.margin(b1) + Int8Blob.margin(b2)
      assert(math.abs(cos - est) <= bound + Int8Blob.Eps,
        s"pair ($i1,$i2): |cos=$cos - est=$est| > m1+m2=$bound")
    }
  }

  test("int8_keep never rejects a pair with cosine >= theta (threshold sweep)") {
    import spark.implicits._
    val vecs = Seq.fill(25)(randVec()) ++
      Seq.fill(10)(randVec(0.01f)) ++ // tiny magnitudes: worst relative quantization
      (0 until 5).map(i => Seq.tabulate(SimilarityOps.Dim)(j =>
        if (j == i) 100f else 0.001f)) // adversarial: one dominant element
    val rows = blobsAndCos(vecs)
    for (theta <- Seq(0.1, 0.4, 0.7, 0.9, 0.99)) {
      val keeps = spark.createDataFrame(spark.sparkContext.parallelize(
          rows.toIndexedSeq.map(r => org.apache.spark.sql.Row(r._3, r._4, r._5))),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("b1", org.apache.spark.sql.types.BinaryType),
            org.apache.spark.sql.types.StructField("b2", org.apache.spark.sql.types.BinaryType),
            org.apache.spark.sql.types.StructField("cos", org.apache.spark.sql.types.DoubleType))))
        .select($"cos", call_function("int8_keep", $"b1", $"b2", lit(theta)).as("keep"))
        .collect().map(r => (r.getDouble(0), r.getBoolean(1)))
      val dropped = keeps.filter { case (cos, keep) => !keep && cos >= theta }
      assert(dropped.isEmpty, s"theta=$theta dropped qualifying pairs: ${dropped.take(5).toSeq}")
      // and it must actually reject something well below theta, or it's a no-op
      if (theta >= 0.4)
        assert(keeps.exists { case (cos, keep) => !keep && cos < theta },
          s"theta=$theta rejected nothing — prefilter inert")
    }
  }

  test("degenerate encodings defer to the float verify (zero vector, NaN element)") {
    import spark.implicits._
    GraftFunctions.install(spark)
    val vecs: Seq[Seq[Float]] = Seq(
      Seq.fill(SimilarityOps.Dim)(0f),                       // zero: margin = +inf
      randVec(),
      randVec().updated(3, Float.NaN))                       // NaN poisons margin
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "emb").select($"id", expr("int8_enc(emb)").as("blob"))
    val blobs = df.orderBy($"id").collect().map(_.getAs[Array[Byte]]("blob"))
    assert(Int8Blob.margin(blobs(0)).isPosInfinity)
    assert(Int8Blob.qnorm(blobs(0)) == 0.0)
    assert(Int8Blob.margin(blobs(2)).isNaN)
    val a = df.select($"id".as("i1"), $"blob".as("b1"))
    val keeps = a.join(df.select($"id".as("i2"), $"blob".as("b2")), $"i1" =!= $"i2")
      .select(call_function("int8_keep", $"b1", $"b2", lit(0.99)).as("keep"))
      .collect().map(_.getBoolean(0))
    assert(keeps.forall(identity),
      "every pair touching a degenerate vector must survive to the float verify")
  }

  test("blob layout: codes + qnorm round-trip through the packed tail") {
    import spark.implicits._
    GraftFunctions.install(spark)
    val v = randVec()
    val blob = Seq((1L, v)).toDF("id", "emb")
      .select(expr("int8_enc(emb)")).collect().head.getAs[Array[Byte]](0)
    assert(blob.length == SimilarityOps.Dim + 16)
    val codes = blob.take(SimilarityOps.Dim).map(_.toInt)
    assert(codes.forall(c => c >= -127 && c <= 127))
    assert(codes.exists(c => math.abs(c) == 127), "max element must hit full scale")
    val qn = math.sqrt(codes.map(c => c.toDouble * c).sum)
    assert(math.abs(Int8Blob.qnorm(blob) - qn) < 1e-12)
  }

  test("int8_keep accepts SQL-text thetas of every numeric literal shape") {
    import spark.implicits._
    GraftFunctions.install(spark)
    val df = Seq((randVec(), randVec())).toDF("a", "b")
    // SQL text parses 1 as Int, 0.4 as Decimal; the Column API builds
    // Double — all three must resolve (boundary thetas 0/1 are the
    // integral case a user probing the kernel hits first)
    val r = df.select(
      expr("int8_keep(int8_enc(a), int8_enc(b), 1)").as("k1"),
      expr("int8_keep(int8_enc(a), int8_enc(b), 0.4)").as("kd"),
      call_function("int8_keep", expr("int8_enc(a)"), expr("int8_enc(b)"), lit(0.4)).as("kc"))
      .collect().head
    assert(!r.anyNull)
  }

  test("int8_keep rejects a mismatched blob length loudly") {
    import spark.implicits._
    GraftFunctions.install(spark)
    val df = Seq((Seq(1f, 2f, 3f), Seq(1f, 2f, 3f, 4f))).toDF("a", "b")
      .select(call_function("int8_keep",
        expr("int8_enc(a)"), expr("int8_enc(b)"), lit(0.5)).as("k"))
    val e = intercept[Exception](df.collect())
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("blob mismatch")), e.toString)
  }

  test("prefiltered self-join never broadcasts, even at a generous broadcast threshold") {
    // regression guard for the round-10 pathology: the blob-carrying
    // bucketed side is corpus-sized, and a session with a raised
    // autoBroadcastJoinThreshold (the crossover harness uses 256 MB for its
    // exact baseline) must NOT broadcast it into the candidate self-join —
    // the shuffle_hash hint pins the strategy in the plan itself
    withConf("spark.sql.autoBroadcastJoinThreshold" -> (256L << 20).toString) {
      val plan = planOf(SimilarityOps.lshCandidateIds(spark, sfDir,
        graft.core.Knobs.Banding(graft.core.Knobs.Pairs, 16, 2, probeBits = 1),
        prefilterTheta = Some(SimilarityOps.PairsThreshold)))
      assert(plan.contains("int8_keep"), plan.linesIterator.take(20).mkString("\n"))
      // every join evaluating the prefilter must be the shuffled form
      val offending = plan.linesIterator
        .filter(l => l.contains("BroadcastHashJoin") && l.contains("int8_keep"))
      assert(offending.isEmpty, offending.mkString("\n"))
      assert(plan.contains("ShuffledHashJoin"), plan.linesIterator.take(20).mkString("\n"))
    }
  }

  test("prefiltered banded routes ≡ unfiltered banded routes (both on and off)") {
    // ExactnessSpec pins banded ≡ exact with the default-on prefilter; this
    // pins the knob itself — turning the prefilter OFF changes cost, not
    // rows, so the two banded forms must be row-identical
    def banded(q: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame,
        prefilter: Boolean): Seq[String] =
      withConf("graft.sim.exact" -> "false", "graft.sim.prefilter" -> prefilter.toString)(
        q(spark, sfDir).collect().map(_.toString).toSeq)
    for (q <- Seq(SimilarityOps.pairsAboveThreshold _, DedupOps.embeddingCosineDedup _)) {
      val on = banded(q, prefilter = true)
      val off = banded(q, prefilter = false)
      assert(on.nonEmpty && on == off,
        s"missing=${off.toSet -- on.toSet} spurious=${on.toSet -- off.toSet}")
    }
  }
}
