package graft

import graft.core.Knobs
import graft.functions.{DedupOps, SimilarityOps, TextOps}

/** The `graft.sim.exact` knob: exact all-pairs baselines vs the banded-LSH
  * candidate path must produce IDENTICAL rows on the test data (band shapes
  * were sized for total recall there — tools/lsh_recall.py). This is the
  * "the scale path is the same query, just cheaper" guarantee: flipping the
  * knob at 100 TB changes cost, not answers (up to LSH recall, which the
  * band shape dials).
  */
class ExactnessSpec extends SparkSpec {

  private def withCandidatePath[A](body: => A): A = withConf(Knobs.SimExact.key -> "false")(body)

  /** The embedding dedup route's bucket-cap knob. */
  private val cosdedupCap = Knobs.CosDedup.bucketCap.get

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("sim_pairs_threshold: LSH candidate path ≡ exact all-pairs") {
    val exact = rowsOf(SimilarityOps.pairsAboveThreshold(spark, sfDir))
    val banded = withCandidatePath(rowsOf(SimilarityOps.pairsAboveThreshold(spark, sfDir)))
    assert(exact.nonEmpty, "expected qualifying pairs in test data")
    assert(banded == exact,
      s"missing=${exact.toSet -- banded.toSet} spurious=${banded.toSet -- exact.toSet}")
  }

  test("dedup_embedding_cosine: LSH candidate path ≡ exact all-pairs") {
    val exact = rowsOf(DedupOps.embeddingCosineDedup(spark, sfDir))
    val banded = withCandidatePath(rowsOf(DedupOps.embeddingCosineDedup(spark, sfDir)))
    assert(exact.size == 500)
    assert(banded == exact,
      s"missing=${exact.toSet -- banded.toSet} spurious=${banded.toSet -- exact.toSet}")
  }

  test("sim_nearest_same_label: LSH candidate path ≡ exact per-label all-pairs") {
    val exact = rowsOf(SimilarityOps.nearestSameLabel(spark, sfDir))
    val banded = withCandidatePath(rowsOf(SimilarityOps.nearestSameLabel(spark, sfDir)))
    assert(exact.size == 500, "every vector has a same-label neighbor in test data")
    assert(banded == exact,
      s"missing=${exact.toSet -- banded.toSet} spurious=${banded.toSet -- exact.toSet}")
  }

  test("sim_nearest_same_label: multi-probe banded path ≡ exact (probing only adds)") {
    // probing visits extra buckets on the probe side only, so candidates
    // are a superset of the unprobed banded run — the answer must stay
    // identical to exact even with the deployment probe knob on
    val exact = rowsOf(SimilarityOps.nearestSameLabel(spark, sfDir))
    withConf("graft.sim.probe.samelabel" -> "1") {
      val probed = withCandidatePath(rowsOf(SimilarityOps.nearestSameLabel(spark, sfDir)))
      assert(probed == exact,
        s"missing=${exact.toSet -- probed.toSet} spurious=${probed.toSet -- exact.toSet}")
    }
  }

  test("sim_nearest_same_label: rescue tier ≡ exact (confident kept, tail re-derived)") {
    // with the rescue floor on, unconfident banded answers are re-derived
    // exactly — the result must still match exact row-for-row, including
    // at a deliberately sharp shape (4x4) whose unprobed banded run would
    // miss neighbors on this corpus
    val exact = rowsOf(SimilarityOps.nearestSameLabel(spark, sfDir))
    // floor 0.999 rescues nearly every vector, far past the default 5%
    // refusal knob — accept it, which also pins the SHUFFLE-join rescue
    // path (the broadcast hint is dropped past Knobs.SameLabel.BroadcastSafeFrac)
    withConf("graft.sim.bands.samelabel" -> "4x4", "graft.sim.rescue.samelabel" -> "0.999",
        "graft.sim.rescue.maxfrac.samelabel" -> "1.0") {
      // floor 0.999 rescues nearly every vector → answer is exact by
      // construction; this pins the tier's plumbing (anti-join coverage,
      // union schema, vectors with no candidates)
      val rescued = withCandidatePath(rowsOf(SimilarityOps.nearestSameLabel(spark, sfDir)))
      assert(rescued == exact,
        s"missing=${exact.toSet -- rescued.toSet} spurious=${rescued.toSet -- exact.toSet}")
    }
  }

  test("rescue tier refuses an LSH-hostile corpus instead of broadcasting it") {
    // all-isolated corpus: 40 random unit vectors have pairwise cosines
    // near 0, so with a 0.9 confidence floor EVERY banded answer is
    // unconfident → unresolved fraction ≈ 1 ≫ the default 5% refusal
    // knob. Before round 8 this silently broadcast the whole corpus (the
    // driver-memory bomb the r7 verdict flagged); now it must fail at
    // build time with an error naming the advisor.
    val dir = java.nio.file.Files.createTempDirectory("graft_hostile").toString
    val rnd = new scala.util.Random(23)
    def unit(): Seq[Float] = {
      val v = Array.fill(SimilarityOps.Dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat).toSeq
    }
    import spark.implicits._
    Seq.tabulate(40)(i => (i.toLong, unit(), i % 2))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    withConf("graft.sim.rescue.samelabel" -> "0.9") {
      val err = intercept[RuntimeException] {
        withCandidatePath(SimilarityOps.nearestSameLabel(spark, dir))
      }
      assert(err.getMessage.contains("BandTuner.suggest"), err.getMessage)
      assert(err.getMessage.contains("graft.sim.rescue.maxfrac.samelabel"), err.getMessage)
      // raising the refusal knob accepts the fat tail — through the
      // SHUFFLED rescue join — and the answer equals exact by construction
      withConf("graft.sim.rescue.maxfrac.samelabel" -> "1.0") {
        val exact = rowsOf(SimilarityOps.nearestSameLabel(spark, dir))
        val rescued = withCandidatePath(rowsOf(SimilarityOps.nearestSameLabel(spark, dir)))
        assert(exact.size == 40 && rescued == exact,
          s"missing=${exact.toSet -- rescued.toSet} spurious=${rescued.toSet -- exact.toSet}")
      }
    }
  }

  test("sim_pairs_threshold: multi-probe banded path ≡ exact at a sharper shape") {
    // at the gate's recall-total 16x2 probing is a no-op by construction;
    // the interesting case is a sharper shape (8x4) where probing must
    // still return the exact answer because it only widens the candidates
    val exact = rowsOf(SimilarityOps.pairsAboveThreshold(spark, sfDir))
    withConf("graft.sim.bands.pairs" -> "8x4") {
      def banded(probe: Int) = withConf("graft.sim.probe.pairs" -> probe.toString)(
        withCandidatePath(rowsOf(SimilarityOps.pairsAboveThreshold(spark, sfDir))))
      val probed = banded(4)
      // 8x4 probed must cover at least the unprobed 8x4 run; vs exact we
      // assert no SPURIOUS pairs ever (verify filter is exact) and that
      // probing recovered every pair the unprobed shape found
      val unprobed = banded(0)
      assert(probed.toSet.subsetOf(exact.toSet), "banded may never invent pairs")
      assert(unprobed.toSet.subsetOf(probed.toSet),
        s"probing lost pairs: ${unprobed.toSet -- probed.toSet}")
    }
  }

  test("dedup_ngram_jaccard: MinHash candidate path ≡ exact shingle self-join") {
    val exact = rowsOf(DedupOps.ngramJaccard(spark, sfDir))
    val banded = withCandidatePath(rowsOf(DedupOps.ngramJaccard(spark, sfDir)))
    assert(exact.nonEmpty, "expected planted near-dup pairs in test data")
    assert(banded == exact,
      s"missing=${exact.toSet -- banded.toSet} spurious=${banded.toSet -- exact.toSet}")
  }

  test("dedup_ngram_jaccard: a knobbed recall-total minhash shape still ≡ exact") {
    // 16 bands × 1 row is recall-total at j ≥ 0.5 by a huge margin
    // (1-(1-j)^16 ≥ 0.9999), so the runtime shape knob must preserve the
    // answer exactly, same as the embedding-side band knobs do
    val exact = rowsOf(DedupOps.ngramJaccard(spark, sfDir))
    withConf("graft.sim.bands.minhash" -> "16x1") {
      val banded = withCandidatePath(rowsOf(DedupOps.ngramJaccard(spark, sfDir)))
      assert(banded == exact,
        s"missing=${exact.toSet -- banded.toSet} spurious=${banded.toSet -- exact.toSet}")
    }
  }

  test("dedup_ngram_jaccard: size-ratio prefiltered candidates ≡ unfiltered") {
    // the shingle_card size-ratio bound (min(n1,n2) ≥ θ·max(n1,n2)) is
    // lossless at the family's θ=0.5, so switching the prefilter off must
    // not change the banded answer — the minhash twin of the int8
    // prefilter's never-changes-answers contract
    val pre = withCandidatePath(rowsOf(DedupOps.ngramJaccard(spark, sfDir)))
    withConf("graft.sim.prefilter" -> "false") {
      val unfiltered = withCandidatePath(rowsOf(DedupOps.ngramJaccard(spark, sfDir)))
      assert(pre.nonEmpty && pre == unfiltered,
        s"missing=${unfiltered.toSet -- pre.toSet} spurious=${pre.toSet -- unfiltered.toSet}")
    }
  }

  test("size-ratio prefilter genuinely cuts candidates on a size-heterogeneous corpus") {
    // dead-weight guard: if the in-stage rejection never fires, it's cost
    // riding the shuffle for nothing. Measured on the DETERMINISTIC
    // boilerplate corpus (shared banner + log-uniform tails, the shape the
    // bound exists for) at the recall-total 16x1 shape where banding
    // admits size-mismatched pairs in volume — NOT on the sf fixture,
    // whose planted dups are uniform-length and could legitimately stop
    // producing size-mismatched banding collisions under regeneration
    // (r11 advice: suite green must not depend on fixture composition)
    val dir = graft.tools.Corpora.generateBoilerplateDocs(spark, 1000)
    withConf("graft.sim.bands.minhash" -> "16x1") {
      val nPre = DedupOps.minhashCandidatesPlan(spark, dir).count()
      val nAll = withConf("graft.sim.prefilter" -> "false")(
        DedupOps.minhashCandidatesPlan(spark, dir).count())
      assert(nPre < nAll, s"prefilter rejected nothing: $nPre vs $nAll")
    }
  }

  test("hash-keyed verify ≡ string-keyed verify (both candidate paths)") {
    // graft.dedup.hashverify swaps the verify stage's shuffle payload from
    // shingle strings to their 8-byte xxhash64; answers must be identical
    // on any collision-free corpus — here both the exact route (minhashLsh
    // always verifies via jaccardStats) and the banded ngramJaccard route
    for (banded <- Seq(false, true)) {
      def both(f: => org.apache.spark.sql.DataFrame): (Seq[String], Seq[String]) = {
        // set the hashed leg explicitly — relying on the session default
        // would compare string against string if the default ever flips
        def verified(hashed: Boolean) = withConf("graft.dedup.hashverify" -> hashed.toString)(rowsOf(f))
        (verified(true), verified(false))
      }
      val (h, s) =
        if (banded) withCandidatePath(both(DedupOps.ngramJaccard(spark, sfDir)))
        else both(DedupOps.minhashLsh(spark, sfDir))
      assert(h.nonEmpty && h == s,
        s"banded=$banded missing=${s.toSet -- h.toSet} spurious=${h.toSet -- s.toSet}")
    }
  }

  test("bucket cap: a permissive cap is a no-op on the gate corpus") {
    // graft.dedup.bucketcap is the deployment dial against quadratic
    // boilerplate-bucket mass; with the cap above every gate bucket size
    // it must change nothing — pairs, jaccards, ordering
    val uncapped = rowsOf(DedupOps.minhashLsh(spark, sfDir))
    withConf("graft.dedup.bucketcap" -> "1000000") {
      val capped = rowsOf(DedupOps.minhashLsh(spark, sfDir))
      assert(uncapped.nonEmpty && capped == uncapped,
        s"missing=${uncapped.toSet -- capped.toSet} spurious=${capped.toSet -- uncapped.toSet}")
    }
  }

  test("bucket cap: capped candidates ≡ the pairs-sharing-a-small-bucket reference") {
    // independent reference, the union-find-style pin: recompute band
    // buckets straight from the signature columns, group membership on the
    // driver, and enumerate pairs — a pair must survive the cap iff SOME
    // bucket both docs share holds ≤ cap docs (one small shared band is
    // enough; only pairs whose every collision is degenerate drop).
    // Prefilter off so the reference is purely banding + cap semantics.
    // Two shapes: at 16x1, unlike the gate's 8x2, pairs whose first shared
    // bucket is over the cap and a later one is not occur, so the join's
    // first-agreeing-band rule must skip dropped bands to keep them.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = tools.Corpora.generateBoilerplateDocs(spark, 1000)
    val cap = 8
    def pairsOf: Set[(Long, Long)] = DedupOps.minhashCandidatesPlan(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for ((bands, rows) <- Seq((Knobs.MinHash.tables, Knobs.MinHash.planes), (16, 1)))
        withConf("graft.sim.prefilter" -> "false", "graft.sim.bands.minhash" -> s"${bands}x$rows") {
      val uncapped = pairsOf
      val capped = withConf("graft.dedup.bucketcap" -> cap.toString)(pairsOf)
      val sigs = DedupOps.minhashSigsOf(
        graft.core.Tables.documents(spark, dir), bands * rows)
      val membership = sigs.select($"doc_id", explode(array(
          (0 until bands).map(b => struct(lit(b).as("band"),
            xxhash64((0 until rows)
              .map(r => $"mh_${b * rows + r}"): _*).as("bh"))): _*)).as("bb"))
        .select($"doc_id", $"bb".cast("string").as("bk"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
        .groupBy(_._2).view.mapValues(_.map(_._1).sorted.toSeq).toMap
      def pairsFrom(buckets: Iterable[Seq[Long]]): Set[(Long, Long)] =
        buckets.flatMap(ds => for (a <- ds; b <- ds if a < b) yield (a, b)).toSet
      assert(uncapped == pairsFrom(membership.values),
        s"${bands}x$rows: reference banding disagrees with the candidate plan")
      val expected = pairsFrom(membership.values.filter(_.size <= cap))
      assert(capped == expected,
        s"${bands}x$rows: missing=${expected -- capped} spurious=${capped -- expected}")
      val maxBucket = membership.values.map(_.size).max
      assert(capped.size < uncapped.size,
        s"cap=$cap never bit at ${bands}x$rows: ${uncapped.size} pairs uncapped vs " +
          s"${capped.size} capped, max bucket $maxBucket docs")
    }
  }

  test("embedding bucket cap: a permissive cap is a no-op on the gate corpus") {
    // graft.sim.bucketcap.cosdedup is the embedding-side twin of the minhash dial
    // (round 13); with the cap above every gate bucket size the banded
    // dedup must change nothing — canonicals, counts, ordering
    val uncapped = withCandidatePath(rowsOf(DedupOps.embeddingCosineDedup(spark, sfDir)))
    withConf("graft.sim.bucketcap.cosdedup" -> "1000000") {
      val capped = withCandidatePath(rowsOf(DedupOps.embeddingCosineDedup(spark, sfDir)))
      assert(uncapped.nonEmpty && capped == uncapped,
        s"missing=${uncapped.toSet -- capped.toSet} spurious=${capped.toSet -- uncapped.toSet}")
    }
  }

  test("embedding bucket cap: capped candidates ≡ the pairs-sharing-a-small-bucket reference") {
    // independent reference, mirroring the minhash pin: recompute each
    // vector's (table, bucket) memberships straight from the lsh_buckets
    // kernel, group on the driver, and enumerate pairs — a pair survives
    // the cap iff SOME bucket both vectors share holds ≤ cap vectors.
    // Prefilter off so the reference is purely banding + cap semantics;
    // the dense-dup corpus plants a 200-vector hot cluster (every table
    // puts it in one over-cap bucket) next to 50-vector genuine clusters
    // the cap must keep.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    graft.plans.GraftFunctions.install(spark)
    val dir = tools.Corpora.generateDenseDupVectors(spark, 1000)
    val (tables, planes) = (8, 4)
    val cap = 64
    def pairsOf(c: Int): Set[(Long, Long)] = SimilarityOps.lshCandidateIds(
        spark, dir, Knobs.Banding(Knobs.CosDedup, tables, planes, bucketCap = c))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = pairsOf(0)
    val capped = pairsOf(cap)
    val membership = graft.core.Tables.embeddings(spark, dir)
      .select($"vec_id", posexplode(
        expr(s"lsh_buckets(embedding, $tables, $planes)")).as(Seq("tbl", "bucket")))
      .select($"vec_id", concat_ws(":", $"tbl", $"bucket").as("bk"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._2).view.mapValues(_.map(_._1).sorted.toSeq).toMap
    def pairsFrom(buckets: Iterable[Seq[Long]]): Set[(Long, Long)] =
      buckets.flatMap(ds => for (a <- ds; b <- ds if a < b) yield (a, b)).toSet
    assert(uncapped == pairsFrom(membership.values),
      "reference banding disagrees with the candidate route")
    val expected = pairsFrom(membership.values.filter(_.size <= cap))
    assert(capped == expected,
      s"missing=${(expected -- capped).take(5)} spurious=${(capped -- expected).take(5)}")
    val maxBucket = membership.values.map(_.size).max
    assert(capped.size < uncapped.size,
      s"cap=$cap never bit: ${uncapped.size} pairs uncapped vs " +
        s"${capped.size} capped, max bucket $maxBucket vectors")
  }

  test("embedding bucket cap below corpus/2^planes fails LOUD, not silently empty") {
    // SCALE.md round 13 measured the footgun this guards: sign-LSH has
    // only 2^planesPerTable buckets per table, so at 8×4 with 20k vectors
    // every bucket holds ~1250 and a cap of 512 drops ALL of them — the
    // candidate index silently emptied and a dedup would report "no
    // near-dups" on a corpus full of them. The shared capBuckets
    // helper must now require-fail on exactly that shape (its sizes
    // aggregation already walks the per-bucket counts, so the tripwire is
    // one reused pass), naming the dial and the shape rule.
    val dir = tools.Corpora.generateDenseDupVectors(spark, 20000)
    withConf(cosdedupCap.key -> "512") {
      val e = intercept[IllegalArgumentException] {
        // the guard fires at plan CONSTRUCTION (the helper's eager sizes
        // pass) — no action needed for the failure to surface
        SimilarityOps.lshCandidateIds(spark, dir, Knobs.CosDedup(spark),
          prefilterTheta = Some(DedupOps.CosDedupThreshold)).count()
      }
      assert(e.getMessage.contains("graft.sim.bucketcap.cosdedup=512"), e.getMessage)
      assert(e.getMessage.contains("2^planes"), e.getMessage)
      assert(e.getMessage.contains("silently"), e.getMessage)
    }
    // control: the SAME corpus and cap on a corpus-matched shape (8×10 =
    // 1024 buckets/table, the SCALE.md r13 deployment shape) passes the
    // guard and keeps a non-empty candidate set — the tripwire fires on
    // the shape mismatch, not on the dial being on
    withConf(cosdedupCap.key -> "512", Knobs.CosDedup.bands.key -> "8x10") {
      val kept = SimilarityOps.lshCandidateIds(spark, dir, Knobs.CosDedup(spark),
        prefilterTheta = Some(DedupOps.CosDedupThreshold)).count()
      assert(kept > 0, "matched shape must keep candidates under the same cap")
    }
  }

  test("tripwire combined predicate: skewed mismatch fails, extreme hot cluster runs") {
    // round-16 review #3: a bucket-count discriminator ALONE is evadable —
    // a skewed shape mismatch (most buckets drowned, a tail of near-empty
    // buckets under cap) keeps overBuckets below 99% of buckets while
    // ≥99% of the candidate mass vanishes. Pin the combined predicate on
    // synthetic bucket frames where the occupancy is exact by
    // construction (cap = 10 throughout).
    import spark.implicits._
    def bucketFrame(spec: Seq[(Int, Long)]): org.apache.spark.sql.DataFrame = {
      // spec = (bucket id, row count); rows carry a payload column so the
      // surviving frame is distinguishable per row
      spec.flatMap { case (b, n) => (0L until n).map(i => (b, i)) }
        .toDF("bucket", "payload").repartition(8)
    }
    // 90 of 100 buckets hold 1000 rows each (over cap), 10 hold 1 row:
    // overBuckets = 90% of buckets (< 99%), over mass = 99.99% — the
    // evasion shape MUST hard-fail
    val skewed = bucketFrame((0 until 90).map(b => (b, 1000L)) ++
      (90 until 100).map(b => (b, 1L)))
    val e = intercept[IllegalArgumentException] {
      DedupOps.capBuckets(skewed, Seq("bucket"), 10, cosdedupCap)._1
    }
    assert(e.getMessage.contains("silently"), e.getMessage)
    // 2 of 100 buckets hold 5000 rows (over cap), 98 hold 1 row: over
    // mass = 99.02% but over-cap buckets are 2% of buckets — the
    // hot-cluster signature MUST run, keeping exactly the 98 small rows
    val hot = bucketFrame((0 until 2).map(b => (b, 5000L)) ++
      (2 until 100).map(b => (b + 1000, 1L)))
    val kept = DedupOps.capBuckets(hot, Seq("bucket"), 10,
      cosdedupCap)._1
    assert(kept.count() == 98L, "hot-cluster corpus must keep its small buckets")
    // MULTI-cluster hot corpus (round-16 review, 2nd pass): 13 of 100
    // buckets hold 1000 rows each — over mass 99.3% AND over-cap buckets
    // at 13% of OBSERVED buckets (the count the guard divides by, which
    // shrinks as clusters dominate). A tighter escape hatch (an earlier
    // 10% draft) hard-failed exactly this must-run shape; the majority
    // hatch keeps it running with the 87 background rows intact.
    val multiHot = bucketFrame((0 until 13).map(b => (b, 1000L)) ++
      (13 until 100).map(b => (b + 1000, 1L)))
    val keptMulti = DedupOps.capBuckets(multiHot, Seq("bucket"), 10,
      cosdedupCap)._1
    assert(keptMulti.count() == 87L,
      "multi-cluster hot corpus must keep its background buckets")
    // BOUNDARY of the majority hatch (r17 advice #3): with mass ≥99% gone,
    // the hatch pivots on over-cap buckets being a MAJORITY of observed
    // buckets. 40-of-100 over (mass 99.85%) is the documented tradeoff
    // shape — a 40-cluster corpus over a thin background is still a
    // legitimate many-cluster excision, so it RUNS (warn tier covers it);
    // exactly 50-of-100 is NOT a majority (strict >), so it runs too;
    // 51-of-100 tips the majority and MUST hard-fail. Pinning all three
    // makes the chosen boundary deliberate, not incidental.
    val fortyOver = bucketFrame((0 until 40).map(b => (b, 1000L)) ++
      (40 until 100).map(b => (b + 1000, 1L)))
    // the hatch-armed shape must not pass SILENTLY either: the warn tier
    // (≥50% of mass dropped) covers it — asserted, not just claimed
    // (r17 review #2)
    withDedupWarnCapture { captured =>
      assert(DedupOps.capBuckets(fortyOver, Seq("bucket"), 10,
        cosdedupCap)._1.count() == 60L,
        "40%-of-buckets-over with 99%+ mass gone is the documented " +
          "many-cluster tradeoff: it must run, keeping the background")
      assert(captured.synchronized(captured.toList)
        .exists(m => m.contains("graft.sim.bucketcap.cosdedup=10") &&
          m.contains("bucketed rows")),
        s"the 99%-mass hatch corpus must warn, captured: $captured")
    }
    val halfOver = bucketFrame((0 until 50).map(b => (b, 1000L)) ++
      (50 until 100).map(b => (b + 1000, 1L)))
    assert(DedupOps.capBuckets(halfOver, Seq("bucket"), 10,
      cosdedupCap)._1.count() == 50L,
      "exactly half the buckets over is not a strict majority: must run")
    val majorityOver = bucketFrame((0 until 51).map(b => (b, 1000L)) ++
      (51 until 100).map(b => (b + 1000, 1L)))
    val eMaj = intercept[IllegalArgumentException] {
      DedupOps.capBuckets(majorityOver, Seq("bucket"), 10,
        cosdedupCap)._1
    }
    assert(eMaj.getMessage.contains("silently"), eMaj.getMessage)
  }

  /** Capture DedupOps WARN-level log messages for the duration of `body`
    * via a log4j2 appender (the buffer is live — bodies may snapshot it
    * mid-run to fence a silent control phase from a must-warn phase). */
  private def withDedupWarnCapture[A](
      body: scala.collection.mutable.ArrayBuffer[String] => A): A = {
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val loggerName = "graft.functions.DedupOps"
    val captured = new scala.collection.mutable.ArrayBuffer[String]
    val appender = new AbstractAppender(
        "graft-warn-capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        captured.synchronized { captured += e.getMessage.getFormattedMessage }
    }
    appender.start()
    val ctx = LoggerContext.getContext(false)
    val cfg = ctx.getConfiguration
    // restore (not just remove) on exit: if a log4j2 config resource — or
    // an enclosing capture — ever pins this logger, deleting its config
    // for the rest of the JVM would silently change later tests' logging
    // (r17 review, 2nd pass)
    val prior = cfg.getLoggers.get(loggerName)
    val lc = new LoggerConfig(loggerName, Level.WARN, true)
    lc.addAppender(appender, Level.WARN, null)
    cfg.addLogger(loggerName, lc)
    ctx.updateLoggers()
    try body(captured)
    finally {
      cfg.removeLogger(loggerName)
      if (prior != null) cfg.addLogger(loggerName, prior)
      ctx.updateLoggers()
      appender.stop()
    }
  }

  test("bucket cap warn tier: 90%-hot corpus on a matched shape runs AND warns") {
    // r15 verdict #1: the hard tripwire fires only on the shape-mismatch
    // footgun (≥99% of BUCKETS over cap — every bucket drowned at once);
    // below it a cap can still legally excise most of the candidate MASS.
    // A 90%-hot corpus on the corpus-matched 8×10 shape puts ~90% of
    // bucketed rows in 8 hot buckets (one per table) while hundreds of
    // genuine-cluster buckets stay under the cap: the query must RUN
    // (excising the hot cluster is the dial's purpose) and a WARNING must
    // fire with the shape arithmetic, from the stats row already in hand.
    val dir = tools.Corpora.generateDenseDupVectors(spark, 20000, hotFrac = 0.9)
    withConf(cosdedupCap.key -> "512", Knobs.CosDedup.bands.key -> "8x10")(
        withDedupWarnCapture { captured =>
      val kept = SimilarityOps.lshCandidateIds(spark, dir, Knobs.CosDedup(spark),
        prefilterTheta = Some(DedupOps.CosDedupThreshold)).count()
      assert(kept > 0, "sub-fatal mass loss must not empty the candidate set")
      val warns = captured.synchronized(captured.toList)
        .filter(_.contains("graft.sim.bucketcap.cosdedup=512"))
      assert(warns.nonEmpty, s"expected a warn-tier message, captured: $captured")
      assert(warns.exists(m => m.contains("bucketed rows") &&
        m.contains("BandTuner.suggest")), warns.mkString("\n"))
      // pin the DOT decimal (r17 verdict #2): the percentage is formatted
      // via Locale.ROOT, so even a comma-decimal JVM must print '12.34%'
      val pctRe = """\d+\.\d\d% of buckets over the cap""".r
      assert(warns.exists(m => pctRe.findFirstIn(m).isDefined),
        s"warn percentage must be dot-decimal two-place: ${warns.mkString("\n")}")
      // and the warn tier must stay SILENT on the matched-shape control
      // the previous test ran (background-dominated corpus, <50% hot):
      // re-run it under the appender and assert no new warning
      val before = captured.synchronized(captured.size)
      val ctl = tools.Corpora.generateDenseDupVectors(spark, 20000)
      SimilarityOps.lshCandidateIds(spark, ctl, Knobs.CosDedup(spark),
        prefilterTheta = Some(DedupOps.CosDedupThreshold)).count()
      assert(captured.synchronized(captured.size) == before,
        "a 20%-hot corpus under a matched shape must not warn: " +
          captured.synchronized(captured.drop(before)).mkString("\n"))
    })
  }

  test("sim bucket cap is scoped per consumer: a dedup-tuned cap cannot degrade other routes") {
    // r14 advice #3: one global dial capped EVERY lshCandidateIds consumer
    // in the session — a cap tuned to excise dedup's hot buckets silently
    // degraded top-1/argmax and threshold routes too. Scoped per key
    // (graft.sim.bucketcap.<key>, like the band shapes), a cosdedup cap
    // must leave sim_cosine_topk and the banded pairs route bit-identical
    // while still biting on its own consumer.
    val dir = tools.Corpora.generateDenseDupVectors(spark, 1000)
    val topkU = rowsOf(SimilarityOps.cosineTopK(spark, dir))
    val pairsU = withCandidatePath(rowsOf(SimilarityOps.pairsAboveThreshold(spark, dir)))
    val dedupU = withCandidatePath(rowsOf(DedupOps.embeddingCosineDedup(spark, dir)))
    withConf("graft.sim.bucketcap.cosdedup" -> "64") {
      assert(rowsOf(SimilarityOps.cosineTopK(spark, dir)) == topkU,
        "the dedup-scoped cap leaked into the brute-force top-k route")
      val pairsC = withCandidatePath(rowsOf(SimilarityOps.pairsAboveThreshold(spark, dir)))
      assert(pairsC == pairsU, "the dedup-scoped cap leaked into the pairs route")
      val dedupC = withCandidatePath(rowsOf(DedupOps.embeddingCosineDedup(spark, dir)))
      assert(dedupC != dedupU,
        "cap=64 must still bite the 200-vector hot cluster on its OWN consumer")
    }
    // the legacy un-scoped name is a loud migration error, not an
    // everything-cap: misuse fails instead of silently degrading
    withConf("graft.sim.bucketcap" -> "64") {
      val e = intercept[IllegalArgumentException] {
        withCandidatePath(rowsOf(DedupOps.embeddingCosineDedup(spark, dir)))
      }
      assert(e.getMessage.contains("graft.sim.bucketcap.<key>"), e.getMessage)
    }
    // …but a legacy value that parses to OFF (0 was the documented old
    // default) stays the no-op it always was — a session that had
    // explicitly disabled the old dial must not crash on upgrade
    withConf("graft.sim.bucketcap" -> "0") {
      assert(withCandidatePath(rowsOf(DedupOps.embeddingCosineDedup(spark, dir))) == dedupU,
        "legacy bucketcap=0 must remain a no-op")
    }
  }

  test("plantedGenuinePairs matches the dense-dup generator's cluster layout") {
    // the caponly recall denominator must track generateDenseDupVectors'
    // ACTUAL deal (consecutive ids mod nClusters ⇒ cluster sizes ⌊nGen/
    // nClusters⌋ or ⌈…⌉) — a naive nClusters × C(ClusterSize,2) is wrong
    // whenever ClusterSize doesn't divide nGen. Brute-force the layout at
    // divisible and non-divisible sizes, and at two hot-slice offsets to
    // show the size multiset is offset-invariant (the helper takes no
    // hotFrac for that reason).
    import graft.tools.Corpora
    for (n <- Seq(150, 1000, 20034, 200000); hotFrac <- Seq(0.0, 0.2)) {
      val nGen = (n * Corpora.GenuineFrac).toInt
      val nHot = (n * hotFrac).toInt
      val nClusters = math.max(1, nGen / Corpora.ClusterSize)
      val brute = (nHot until nHot + nGen).groupBy(_ % nClusters)
        .values.map(g => g.size.toLong * (g.size - 1) / 2).sum
      assert(Corpora.plantedGenuinePairs(n) == brute, s"n=$n hotFrac=$hotFrac")
    }
    // the published curve figures and the reviewer's counter-examples
    assert(Corpora.plantedGenuinePairs(20000) == 147000L)
    assert(Corpora.plantedGenuinePairs(200000) == 1470000L)
    assert(Corpora.plantedGenuinePairs(20034) == 147500L) // 10 clusters of 51
    assert(Corpora.plantedGenuinePairs(150) == 990L)      // one 45-vector cluster
  }

  test("text_decontaminate: bloom-prefiltered path ≡ broadcast path (corpus_select too)") {
    // the bloom is a may-contain prefilter ahead of an exact join, so
    // false positives are re-verified and false negatives don't exist —
    // flipping the outgrow knob must never change a verdict, in the
    // standalone query or composed through corpus_select
    val d0 = rowsOf(TextOps.decontaminate(spark, sfDir))
    val c0 = rowsOf(TextOps.corpusSelect(spark, sfDir))
    withConf("graft.text.decontam.bloom" -> "true") {
      assert(d0.nonEmpty && rowsOf(TextOps.decontaminate(spark, sfDir)) == d0)
      assert(c0.nonEmpty && rowsOf(TextOps.corpusSelect(spark, sfDir)) == c0)
    }
  }

  test("banded verify carries no forced broadcast above the checkpoint boundary") {
    // regression guard for the round-11 pathology: jaccardStats used to
    // force-broadcast the candidate PAIR set, which killed the driver at
    // 37M pairs on a boilerplate corpus (SCALE.md round 11). The pair and
    // sizes joins must stay hint-free (AQE decides at runtime). The one
    // legitimate hint — the id-width candDocs semi-join — sits BELOW the
    // sets localCheckpoint and never surfaces in this plan, so any
    // broadcast ResolvedHint visible here is a pair-proportional
    // re-introduction by construction.
    val df = withCandidatePath(DedupOps.ngramJaccard(spark, sfDir))
    val bc = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
        if h.hints.strategy.exists(_.toString.toLowerCase.contains("broadcast")) => h
    }
    assert(bc.isEmpty,
      s"forced broadcast above the checkpoint boundary: ${bc.map(_.child.output.map(_.name))}")
  }

  test("dedup_connected_components inherits the scale path through ngramJaccard") {
    val exact = rowsOf(DedupOps.connectedComponents(spark, sfDir))
    val banded = withCandidatePath(rowsOf(DedupOps.connectedComponents(spark, sfDir)))
    assert(banded == exact)
  }

  test("scored no-distinct route ≡ candidate-distinct route for argmax (incl. probing)") {
    // the round-10 scored form (lshScoredNeighbors) skips canonicalization
    // and the pair distinct because max is duplicate-insensitive; this pins
    // the two routes' argmax DIRECTLY against each other (ExactnessSpec's
    // other tests pin them only end-to-end through the query surface), so a
    // future edit to either form — a changed swap direction, a lost probe
    // leg — fails here with the route named
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val e = graft.core.Tables.embeddings(spark, sfDir)
    for (bits <- Seq(0, 2)) {
      val scored = SimilarityOps.lshScoredNeighbors(spark, sfDir, 4, 4, probeBits = bits)
        .groupBy($"v1").agg(expr("arg_max_long(v2, cos)").as("b"))
        .select($"v1", $"b.id".as("nearest"), round($"b.score", 6).as("cos"))
      val cand = SimilarityOps.lshCandidateIds(spark, sfDir,
        Knobs.Banding(Knobs.Pairs, 4, 4, probeBits = bits))
      val viaDistinct = cand.union(cand.select($"v2".as("v1"), $"v1".as("v2")))
        .join(e.select($"vec_id".as("v1"), $"embedding".as("e1")), Seq("v1"))
        .join(e.select($"vec_id".as("v2"), $"embedding".as("e2")), Seq("v2"))
        .withColumn("cos", expr("cosine_sim(e1, e2)"))
        .groupBy($"v1").agg(expr("arg_max_long(v2, cos)").as("b"))
        .select($"v1", $"b.id".as("nearest"), round($"b.score", 6).as("cos"))
      val s = scored.collect().map(_.toString).toSet
      val d = viaDistinct.collect().map(_.toString).toSet
      assert(s == d, s"bits=$bits missing=${d -- s} spurious=${s -- d}")
      assert(s.nonEmpty)
    }
  }

  test("ann_lsh unchanged by the wider hyperplane family (first 16 planes identical)") {
    // the plane family has grown (16 → 32 for the candidate configs, then
    // to the 128-plane Hyperplanes.Max for the r6 crossover/deployment
    // shapes); annLsh still uses the first 16,
    // which come from the same seeded stream prefix
    val planes = SimilarityOps.hyperplanes
    assert(planes.size == SimilarityOps.NPlanesMax)
    val rnd = new scala.util.Random(42)
    val regenerated = Seq.fill(16)(Seq.fill(SimilarityOps.Dim)(
      if (rnd.nextBoolean()) 1.0f else -1.0f))
    assert(planes.take(16) == regenerated)
  }

  test("band-shape knob rejects zero/negative/garbage shapes with the knob error") {
    // every malformed value must die at the band-shape knob with its own
    // message — never deep in plan build (a 0x4 minhash shape used to
    // surface as a NoSuchElementException from an empty agg list)
    for (bad <- Seq("0x4", "4x0", "-2x4", "x4", "4x", "abc", "4x4x4",
        "99999999999x2" /* all-digit but past Int range */)) {
      withConf("graft.sim.bands.minhash" -> bad) {
        val e = intercept[RuntimeException](
          DedupOps.minhashCandidatesPlan(spark, sfDir))
        assert(e.getMessage.contains("graft.sim.bands.minhash"), s"shape '$bad': ${e.getMessage}")
      }
    }
  }
}
