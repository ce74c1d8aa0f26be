package graft

import graft.expr.MinhashSig
import graft.functions.DedupOps
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Bit-compatibility of the one-pass `minhash_sig` kernel with the composed
  * reference pipeline (shingle explode → xxhash64 chain → 16-way min
  * groupBy). The kernel replaces the composed form on the deployed
  * candidate path, so equality here is what keeps every MinHash oracle and
  * recall measurement valid unchanged.
  */
class MinhashSigSpec extends SparkSpec {
  import spark.implicits._

  private val NumHashes = 16

  /** Composed-pipeline signature for (doc_id, text) rows. */
  private def composed(docs: org.apache.spark.sql.DataFrame) =
    DedupOps.minhashSignatures(DedupOps.shingledOf(docs), NumHashes)

  private def kernel(docs: org.apache.spark.sql.DataFrame) =
    DedupOps.minhashSigsOf(docs, NumHashes)

  private def assertEqualSigs(docs: org.apache.spark.sql.DataFrame): Unit = {
    val cols = (0 until NumHashes).map(i => s"mh_$i")
    val c = composed(docs).orderBy($"doc_id").collect()
    val k = kernel(docs).orderBy($"doc_id").collect()
    assert(c.length == k.length,
      s"row counts differ: composed ${c.length}, kernel ${k.length}")
    c.zip(k).foreach { case (cr, kr) =>
      assert(cr.getLong(0) == kr.getLong(0), "doc_id order mismatch")
      cols.indices.foreach { i =>
        assert(cr.getLong(i + 1) == kr.getLong(i + 1),
          s"doc ${cr.getLong(0)} ${cols(i)}: composed ${cr.getLong(i + 1)} " +
            s"!= kernel ${kr.getLong(i + 1)}")
      }
    }
  }

  test("kernel signatures equal the composed pipeline on the documents fixture") {
    assertEqualSigs(graft.core.Tables.documents(spark, sfDir).select($"doc_id", $"text"))
  }

  test("kernel signatures equal the composed pipeline on adversarial token shapes") {
    // shapes that exercise every branch of the shingle-boundary logic:
    // empty text, 1/2/3/4 tokens, leading/trailing whitespace the
    // normalizer turns into empty tokens, multi-space collapse, unicode
    // multi-byte tokens, and a long repetitive doc
    val docs = Seq(
      (1L, ""),
      (2L, "one"),
      (3L, "one two"),
      (4L, "one two three"),
      (5L, "one two three four"),
      (6L, "  leading and   multiple   spaces  "),
      (7L, "\ttab\tseparated\ttokens\t"),
      (8L, "ünïcödé tökens über ällés"),
      (9L, "MiXeD Case TEXT Gets Lowered"),
      (10L, Seq.fill(500)("repeat me often").mkString(" "))
    ).toDF("doc_id", "text")
    assertEqualSigs(docs)
  }

  test("null text yields the same one-empty-shingle signature on both paths") {
    // the composed pipeline KEEPS null-text docs: greatest(null,1)=1 gives
    // one shingle index and concat_ws over the null token array is "" —
    // the kernel reproduces this via coalesce(normText, '')
    val docs = Seq((1L, "some text here"), (2L, null.asInstanceOf[String]), (3L, ""))
      .toDF("doc_id", "text")
    assertEqualSigs(docs)
    // and null/empty texts collapse to the same signature
    val sigs = kernel(docs).orderBy($"doc_id").collect()
    (1 until NumHashes + 1).foreach { i =>
      assert(sigs(1).getLong(i) == sigs(2).getLong(i),
        "null and empty text must share the empty-shingle signature")
    }
  }

  private def assertEqualCards(docs: org.apache.spark.sql.DataFrame): Unit = {
    val composedCard = DedupOps.shingledOf(docs).distinct()
      .groupBy($"doc_id").agg(count(lit(1)).as("n"))
      .orderBy($"doc_id").collect().map(r => r.getLong(0) -> r.getLong(1))
    val kernelCard = DedupOps.minhashSigsOf(docs, NumHashes, withCard = true)
      .select($"doc_id", $"n_sh")
      .orderBy($"doc_id").collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(composedCard.toSeq == kernelCard.toSeq)
  }

  test("shingle_card equals the composed distinct-shingle count (fixture + adversarial)") {
    assertEqualCards(graft.core.Tables.documents(spark, sfDir).select($"doc_id", $"text"))
    assertEqualCards(Seq(
      (1L, ""),
      (2L, "one"),
      (3L, "one two"),
      (4L, "one two three"),
      (5L, "one two three four"),
      (6L, "  leading and   multiple   spaces  "),
      (7L, "ünïcödé tökens über ällés"),
      // heavy duplication: 500 identical shingles collapse to 3 distinct
      // (the rolling window only sees 3 distinct 3-grams of "repeat me
      // often" repeated), exercising the set dedup, and a null doc
      (8L, Seq.fill(500)("repeat me often").mkString(" ")),
      (9L, null.asInstanceOf[String])
    ).toDF("doc_id", "text"))
  }

  test("shingle_set is sorted, distinct, the composed hash set, of size shingle_card") {
    graft.plans.GraftFunctions.install(spark)
    def check(docs: org.apache.spark.sql.DataFrame): Unit = {
      val norm = regexp_replace(trim(lower($"text")), "\\s+", " ")
      val rows = docs.select($"doc_id",
        call_function("shingle_set", norm),
        array_sort(array_distinct(transform(
          call_function("word_shingles", split(norm, " ")), s => xxhash64(s)))),
        call_function("shingle_card", norm)).collect()
      assert(rows.exists(!_.isNullAt(1)))
      rows.foreach { r =>
        val id = r.getLong(0)
        if (r.isNullAt(1)) assert(r.isNullAt(2) && r.isNullAt(3), s"doc $id: null text")
        else {
          val set = r.getSeq[Long](1)
          assert(set == set.sorted && set == set.distinct, s"doc $id: $set")
          assert(set == r.getSeq[Long](2), s"doc $id: composed ${r.getSeq[Long](2)}")
          assert(set.size.toLong == r.getLong(3), s"doc $id: card ${r.getLong(3)}")
        }
      }
    }
    check(graft.core.Tables.documents(spark, sfDir).select($"doc_id", $"text"))
    check(Seq(
      (1L, ""),
      (2L, "one"),
      (3L, "one two"),
      (4L, "one two three"),
      (5L, "one two three four"),
      (6L, "  leading and   multiple   spaces  "),
      (7L, "\ttab\tseparated\ttokens\t"),
      (8L, "ünïcödé tökens über ällés"),
      (9L, Seq.fill(500)("repeat me often").mkString(" ")),
      (10L, null.asInstanceOf[String])
    ).toDF("doc_id", "text"))
  }

  test("minhash_sig_card fuses minhash_sig + shingle_card bit-for-bit") {
    // the deployed prefiltered scan uses the fused kernel; pin it against
    // the two standalone kernels it fuses, on raw (unnormalized) strings —
    // kernel-vs-kernel equality holds for ANY input, normalized or not
    graft.plans.GraftFunctions.install(spark)
    val docs = Seq(
      (1L, ""), (2L, "one"), (3L, "one two three four"),
      (4L, "  odd   spacing  "), (5L, "ünïcödé tökens über"),
      (6L, Seq.fill(300)("repeat me often").mkString(" ")),
      (7L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val rows = docs.selectExpr("doc_id",
      s"minhash_sig_card(coalesce(text,''), $NumHashes) AS fused",
      s"minhash_sig(coalesce(text,''), $NumHashes) AS sig",
      "shingle_card(coalesce(text,'')) AS card").collect()
    rows.foreach { r =>
      val fused = r.getSeq[Long](1)
      assert(fused.length == NumHashes + 1, s"doc ${r.getLong(0)}")
      assert(fused.take(NumHashes) == r.getSeq[Long](2), s"doc ${r.getLong(0)} sig slots")
      assert(fused(NumHashes) == r.getLong(3), s"doc ${r.getLong(0)} card slot")
    }
  }

  test("size-ratio bound is lossless over random docs (property)") {
    // directly pins the deployed rejection condition — J(A,B) ≥ θ must
    // imply least(n1,n2) ≥ θ·greatest(n1,n2) with n from the kernel — on
    // random docs of wildly varying length/vocabulary, plus card ≡ exact
    // distinct-string count (covers the hash-distinct caveat empirically)
    val rnd = new scala.util.Random(1234)
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until 60).foreach { i =>
      if (i % 5 == 4 && texts.nonEmpty) {
        // planted near-dup: mutate a few tokens of the previous doc so
        // qualifying (J ≥ θ) pairs exist, some near the θ boundary
        val toks = texts.last.split(" ", -1)
        val rm = new scala.util.Random(i)
        texts += toks.map(t =>
          if (rm.nextDouble() < 0.08) "m" + rm.nextInt(50) else t).mkString(" ")
      } else {
        val len = 1 + rnd.nextInt(120)
        val pool = 3 + rnd.nextInt(30)
        texts += Array.fill(len)("t" + rnd.nextInt(pool)).mkString(" ")
      }
    }
    def shingleSet(t: String): Set[String] = {
      val toks = t.split(" ", -1)
      val n = math.max(toks.length - 2, 1)
      (0 until n).map(i => toks.slice(i, math.min(i + 3, toks.length)).mkString(" ")).toSet
    }
    val theta = DedupOps.JaccardTheta
    val cards = texts.map(t => graft.expr.ShingleCard.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString(t)))
    texts.indices.foreach { i =>
      assert(cards(i) == shingleSet(texts(i)).size.toLong, s"card mismatch doc $i")
    }
    var qualifying = 0
    for (i <- texts.indices; j <- texts.indices if i < j) {
      val (s1, s2) = (shingleSet(texts(i)), shingleSet(texts(j)))
      val jac = s1.intersect(s2).size.toDouble / s1.union(s2).size
      if (jac >= theta) {
        qualifying += 1
        val (n1, n2) = (cards(i), cards(j))
        assert(math.min(n1, n2) >= theta * math.max(n1, n2),
          s"bound rejected a qualifying pair: docs $i,$j jac=$jac n1=$n1 n2=$n2")
      }
    }
    assert(qualifying > 0, "property vacuous — no qualifying pairs generated")
  }

  test("past the card cap: sentinel card, exact signature, pair kept by the prefilter") {
    // round 12 (r11 advice): a doc over CardCapShingles shingles must not
    // fail the query (old require) nor allocate a giant per-row set — the
    // fused kernel emits CardUnknown and keeps the signature exact, and
    // the candidate join passes sentinel rows through the size-ratio bound
    import graft.expr.MinhashSig.{CardCapShingles, CardUnknown}
    val nToks = CardCapShingles + 10 // ~4M two-byte tokens, ~16 MB text
    val giant = {
      val sb = new java.lang.StringBuilder(nToks * 4)
      var i = 0
      while (i < nToks) { if (i > 0) sb.append(' '); sb.append(i % 97); i += 1 }
      sb.toString
    }
    val few = 4
    val fused = MinhashSig.computeWithCard(UTF8String.fromString(giant), few)
    val plain = MinhashSig.compute(UTF8String.fromString(giant), few)
    assert(fused(few) == CardUnknown, s"expected the sentinel, got ${fused(few)}")
    assert(fused.take(few).toSeq == plain.toSeq, "signature must stay exact past the cap")
    // under the cap the fused card is still the true count (boundary pin)
    val small = MinhashSig.computeWithCard(UTF8String.fromString("a b c d"), few)
    assert(small(few) == 2L)

    // end-to-end: two mutated giant copies + normal docs; with the
    // prefilter ON the giant pair must still reach the candidate set
    // (sentinel pass-through in minhashCandidatesPlan's join condition)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_giant").toString
    val giant2 = giant.replace("96", "42")
    Seq((0L, giant), (1L, giant2), (2L, "x y z w"), (3L, "x y z w v"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    spark.conf.set("graft.sim.prefilter", "true")
    try {
      val cands = graft.functions.DedupOps.minhashCandidatesPlan(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(cands.contains((0L, 1L)),
        s"sentinel pair rejected by the prefilter: $cands")
    } finally spark.conf.unset("graft.sim.prefilter")
  }

  test("compute matches Spark's xxhash64 chain on a hand-built shingle") {
    // one 3-token doc = one shingle = the whole normalized string; pin the
    // hash chain itself (seed 42, string hash, hashLong then hashInt fold)
    val text = "alpha beta gamma"
    val viaSpark = spark.range(1)
      .select((0 until NumHashes).map(i =>
        xxhash64(xxhash64(lit(text)), lit(i)).as(s"h_$i")): _*)
      .head
    val viaKernel = MinhashSig.compute(UTF8String.fromString(text), NumHashes)
    (0 until NumHashes).foreach { i =>
      assert(viaSpark.getLong(i) == viaKernel(i),
        s"hash fn $i: spark ${viaSpark.getLong(i)} != kernel ${viaKernel(i)}")
    }
  }
}
