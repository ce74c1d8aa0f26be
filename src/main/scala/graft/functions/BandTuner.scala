package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.Tables

/** What [[BandTuner.suggest]] returns: a band shape for
  * `graft.sim.bands.<key>` plus the numbers that justify it.
  *
  * `candidateFraction` is the estimated banded candidate volume as a
  * fraction of the exact all-pairs volume (Σ|bucket|² / C(n,2), union
  * bound over tables); `predictedSpeedup` is its reciprocal — the
  * candidate-volume reduction, which is the dominant cost ratio at scale.
  * The model deliberately ignores the Θ(n) bucketing pass and the
  * per-candidate verify constant; the `minSpeedup` margin in `suggest`
  * absorbs them (measured: predicted candidate reductions of 10²–10⁵
  * realize as 3.6–31× wall-clock over a fair exact baseline at 100k–250k
  * vectors — SCALE.md rounds 6–7, incl. the round-7 exact-baseline
  * erratum). Candidate volume stays the right cost proxy after the
  * round-10 int8 prefilter: the threshold routes now evaluate `int8_keep`
  * once per RAW candidate inside the self-join stage (the term Σ|bucket|²
  * counts), while the pair exchange and float verify downstream see only
  * the survivors — a smaller per-candidate constant, same growth law.
  */
final case class BandShapeAdvice(
    nTables: Int,
    planesPerTable: Int,
    predictedRecall: Double,
    corpusVectors: Long,
    sampledVectors: Long,
    candidateFraction: Double,
    predictedSpeedup: Double,
    recommendBanded: Boolean,
    probeBits: Int = 0,
    /** MinHash advice only (round 12): coefficient of variation of the
      * per-doc distinct-shingle count on the sample — the corpus
      * size-heterogeneity the size-ratio prefilter feeds on. ~0 on a
      * uniform-length corpus; >1 on boilerplate/log-uniform corpora. */
    cardCv: Double = 0.0,
    /** MinHash advice only: estimated fraction of the priced bucket mass
      * SURVIVING the size-ratio prefilter (min(n₁,n₂) ≥ θ·max(n₁,n₂)) —
      * an upper bound (geometric size-class adjacency), so the implied
      * kill 1−keep is a floor. Near 1 where banding already suppresses
      * size-mismatched pairs (multi-row shapes, uniform corpora); visibly
      * below 1 exactly where a recall-total 1-row shape on a
      * size-heterogeneous corpus admits candidate explosion — the r11
      * boilerplate finding (16×1: 42 M raw vs 8×2: 1.5 M at 20k docs)
      * folded into the advice. Docs carrying the over-cap CardUnknown
      * sentinel are priced as ALWAYS KEPT (matching the deployed
      * pass-through), not size-classed — else their pairs would read as
      * killed and the bound would stop being an upper bound. */
    prefilterKeepFraction: Double = 1.0,
    /** A concrete value for the bucket-cap dial — `graft.dedup.bucketcap`
      * from [[BandTuner.suggestMinhash]] (round 13, r12 verdict #4),
      * `graft.sim.bucketcap.<key>` from [[BandTuner.suggest]] (round 15,
      * r13 item #3) — or 0 when the sampled bucket-size distribution
      * shows no degenerate buckets (no cap needed) OR, on the sign-LSH
      * side, when the suggestion would land below corpus / 2^planes:
      * there the SHAPE is mismatched (a cap below the uniform per-bucket
      * load drops every bucket and empties the index — the measured
      * SCALE.md r13 footgun, now also a runtime tripwire), so the advice
      * refuses to name a cap rather than name a fatal one.
      * Chosen as the LARGEST power of two strictly below the
      * smallest DEGENERATE bucket scaled to the corpus — degenerate =
      * holding ≥ max(16, 1% of sampled docs) docs (boilerplate-driven
      * buckets hold a constant corpus FRACTION so the 1%-of-sample
      * threshold classifies them scale-free; genuine near-dup clusters
      * are absolute-sized, so at any real corpus/sample ratio the
      * populations separate; the 16-doc floor keeps tiny samples from
      * classing ordinary dup clusters as degenerate) — and floored above
      * the largest non-degenerate bucket, ALSO scaled to the corpus
      * (every observed bucket is a uniform s/n thinning of its corpus
      * bucket, so observed sizes in BOTH populations read × n/s at
      * corpus scale). That keeps 100% of the
      * sampled non-degenerate mass (every band collision of every sampled
      * genuine pair survives — zero recall loss on the sampled structure,
      * the r12 measured-table property) while excising every degenerate
      * bucket: the least lossy cap that still removes the quadratic mass.
      * TIE-BREAK when the populations overlap (largest non-degenerate ≥
      * smallest degenerate after n/s scaling): recall wins — the
      * suggestion keeps every non-degenerate bucket even though
      * degenerate sizes up to it then survive the cap. A corpus in that
      * regime has no cap that separates cleanly at this shape; sharpen
      * the shape (more rows per band) before capping. */
    suggestedBucketCap: Int = 0) {
  /** The `graft.sim.bands.<key>` value this advice corresponds to. */
  def shape: String = s"${nTables}x$planesPerTable"
}

/** In-engine band-shape advisor — SCALE.md round 6's closing rule ("band
  * shapes are not a constant but a function of corpus statistics") made
  * executable. SCALE.md rounds 6–8 hold the offline measurements that
  * validated the rule; this is the cheap online form a deployment runs
  * against its own corpus before flipping `graft.sim.exact=false`.
  *
  * Two ingredients, both principled rather than heuristic:
  *
  *  1. **Recall is analytic.** Sign-random-projection LSH obeys the
  *     Charikar collision law — one hyperplane separates a pair at angle
  *     θ with probability θ/π — so banded candidate recall at a given
  *     cosine needs no data at all ([[BandTuner.pairRecall]]). The planes
  *     count is chosen as the most aggressive (smallest-bucket) value
  *     whose predicted recall at the caller's threshold still clears the
  *     floor. This is why the near-uniform gate corpus correctly gets
  *     "stay exact": a loose threshold caps planes so low that buckets
  *     stay fat.
  *  2. **Cost is sampled.** Candidate volume Θ(Σ|bucket|²) depends on the
  *     corpus's cluster structure, which no formula knows. But bucket
  *     assignment is per-row deterministic (no interaction between rows),
  *     so a uniform sample's candidate FRACTION — Σ|bucket|² over the
  *     sample's own pair count — is an unbiased estimate of the corpus's.
  *     A bounded md5-ordered sample (TakeOrdered, no full sort) prices
  *     the shape in one sub-second pass regardless of corpus size.
  *
  * The mass estimate is a union bound (a pair colliding in several tables
  * is counted once per table), so it OVERESTIMATES candidate volume —
  * banded is only recommended when even the pessimistic number wins.
  */
object BandTuner {

  /** P[one `planes`-bit table collides] for a pair at cosine `cos` —
    * (1 − θ/π)^planes, θ = acos(cos). The seeded Rademacher family
    * ([[graft.expr.Hyperplanes]]) tracks this rotation-invariant law
    * closely at Dim=64: SCALE.md round 6's measured recall tables sit
    * within ~a point of the model's predictions.
    */
  def tableCollision(cos: Double, planes: Int): Double = {
    val c = math.max(-1.0, math.min(1.0, cos))
    math.pow(1.0 - math.acos(c) / math.Pi, planes)
  }

  /** Candidate recall of `tables` OR-ed tables for a pair at cosine `cos`:
    * 1 − (1 − tableCollision)^tables.
    */
  def pairRecall(cos: Double, tables: Int, planes: Int): Double =
    pairRecallProbed(cos, tables, planes, 0)

  /** [[pairRecall]] under query-side multi-probe: a table hits when the two
    * signatures agree on all `planes` bits OR differ in exactly one bit
    * that the query probes. With per-plane disagreement q = θ/π the
    * per-table hit probability is
    * (1−q)^planes + probeBits·q·(1−q)^(planes−1) — the binomial d≤1 mass
    * restricted to `probeBits` of the `planes` positions. Planes are iid,
    * so any FIXED probe set of that size gives exactly this in expectation;
    * the kernel's confidence-ordered probing ([[graft.expr.LshProbes]])
    * only does better (conditioned on exactly one differing plane, that
    * plane is overwhelmingly a low-margin one), so this is a conservative
    * floor, in keeping with the advisor's overestimate-cost posture.
    */
  def pairRecallProbed(cos: Double, tables: Int, planes: Int,
      probeBits: Int): Double = {
    require(probeBits >= 0 && probeBits <= planes,
      s"probeBits $probeBits must be in [0, planes=$planes]")
    val c = math.max(-1.0, math.min(1.0, cos))
    val q = math.acos(c) / math.Pi
    val hit = math.pow(1.0 - q, planes) +
      probeBits * q * math.pow(1.0 - q, math.max(planes - 1, 0))
    1.0 - math.pow(1.0 - math.min(1.0, hit), tables)
  }

  /** Advise a band shape for a corpus: the most aggressive planes count
    * meeting `recallFloor` at `threshold`, priced on an md5-deterministic
    * `sampleCap`-vector sample, recommended only if the (conservative)
    * predicted candidate reduction clears `minSpeedup`.
    *
    * `threshold` is the cosine at which the pairs the caller must not
    * miss actually SIT — not the verify filter. Near-dups concentrate far
    * above any loose mining filter (the crossover corpus's dups sit at
    * ≈0.96 while `sim_pairs_threshold` filters at 0.4), and corpus recall
    * is averaged over that concentrated distribution, not the worst-case
    * boundary: the model's pairRecall(0.96, 8, 10) = 0.980 against 0.982
    * measured at 8×10 on the 100k corpus, while literal boundary pairs at
    * 0.6 would only be found 22% of the time (SCALE.md round 6 — "LSH
    * physics, not a tunable"). Pass the filter value itself and the
    * advisor prices worst-case pairs and conservatively answers exact.
    */
  def suggest(
      spark: SparkSession,
      dir: String,
      threshold: Double,
      nTables: Int = 8,
      recallFloor: Double = 0.9,
      minSpeedup: Double = 3.0,
      sampleCap: Int = 10000,
      probeBits: Int = 0): BandShapeAdvice = {
    require(threshold > -1.0 && threshold < 1.0,
      s"threshold must be a non-degenerate cosine, got $threshold")
    require(nTables > 0 && nTables <= graft.expr.Hyperplanes.Max,
      s"nTables must be in [1, ${graft.expr.Hyperplanes.Max}], got $nTables")
    require(probeBits >= 0, s"probeBits must be >= 0, got $probeBits")
    import spark.implicits._

    // recall is monotone decreasing in planes → largest qualifying value.
    // Under probing the search prices pairRecallProbed, so the same floor
    // admits SHARPER tables (smaller buckets): probing converts its
    // (1+bits)× probe-row cost into a bucket-count multiplier the shape
    // could not otherwise afford.
    val pCap = math.min(30, graft.expr.Hyperplanes.Max / nTables)
    def recallOf(p: Int): Double =
      pairRecallProbed(threshold, nTables, p, math.min(probeBits, p))
    val planes = (pCap to 1 by -1)
      .find(p => recallOf(p) >= recallFloor)
      .getOrElse(1)
    val bits = math.min(probeBits, planes)

    val e = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    // corpusVectors rides the sample's own scan as an observed metric
    // (TakeOrdered sees every row) — one corpus pass total, not a second
    // count() scan; same one-pass pattern as the k-means inertia metric.
    val obs = org.apache.spark.sql.Observation()
    val sample = e.observe(obs, count(lit(1)).as("n"))
      .orderBy(md5($"vec_id".cast("string"))).limit(sampleCap)
      .select($"embedding").persist()
    try {
      val s = sample.count()
      val n = obs.get("n") match {
        case c: java.lang.Long => c.longValue()
        case other => sys.error(s"corpus count metric came back as $other")
      }
      val exactPairs = s.toDouble * (s - 1) / 2
      // one (tbl,bucket → size) aggregation feeds the mass estimate AND
      // the bucket-cap suggestion's size distribution (round 15 — the
      // minhash advisor's one-pass pattern transposed); checkpointed so
      // the two consumers read it instead of re-bucketing the sample
      val (mass, cap) =
        if (s < 2) (0.0, 0)
        else {
          val sizes = Banding.slots(sample, Nil, Banding.signLsh(nTables, planes, 0).col, 0)
            .groupBy($"tbl", $"bucket").agg(count(lit(1)).as("bc"))
            .localCheckpoint(true)
          val m =
            if (bits == 0)
              sizes.agg(coalesce(sum($"bc" * ($"bc" - 1)), lit(0L)))
                .head.getLong(0) / 2.0
            else {
              // probed volume is asymmetric (probe rows × base rows), priced by
              // joining the sample's per-bucket probe counts against its base
              // counts: Σ pc·bc counts directed discoveries incl. each row's
              // self-match through its base slot (s·nTables of them). /2 maps
              // directed to unordered — a pair only one side probes into
              // contributes ½ instead of 1, which the per-table union bound's
              // overcount offsets; the advisor's margin-based recommendation
              // absorbs the residual (validated against measurement, SCALE.md).
              val probe = Banding.slots(sample, Nil, Banding.signLsh(nTables, planes, bits).col, bits)
                .groupBy($"tbl", $"bucket").agg(count(lit(1)).as("pc"))
              val directed = probe.join(sizes, Seq("tbl", "bucket"))
                .agg(coalesce(sum($"pc" * $"bc"), lit(0L)))
                .head.getLong(0)
              (directed - s.toDouble * nTables) / 2.0
            }
          // bucket-cap suggestion for `graft.sim.bucketcap.<key>` (round
          // 15, r13 item #3 / r14 brief #4): the same sampled-size rule as
          // the minhash advisor (suggestCapFrom scaladoc carries the
          // recall argument). Distinct sizes are model state (≤ a few
          // hundred values at any sample size). The cap applies per
          // (table, bucket) group, exactly the population sampled here.
          val szs = sizes.select($"bc").distinct().collect().map(_.getLong(0))
          val raw = suggestCapFrom(szs, s, n)
          // SHAPE-PRECONDITION cross-check (the SCALE.md r13 measured
          // footgun, now also a runtime tripwire in Banding.capBuckets):
          // sign-LSH has only 2^planes buckets per table, so a cap below
          // corpus / 2^planes puts EVERY bucket over the cap and empties
          // the index. A suggestion landing below that floor means the
          // SHAPE is mismatched to the corpus (too few buckets to separate
          // hot clusters from background) — refuse to name a cap rather
          // than name a fatal one; the remedy is a sharper shape, priced
          // by re-running suggest at more planes.
          val c = if (raw > 0 && raw.toDouble < n.toDouble / math.pow(2.0, planes)) 0
            else raw
          (m, c)
        }
      val frac =
        if (exactPairs == 0) 1.0 else math.min(1.0, mass / exactPairs)
      val speedup =
        if (frac <= 0.0) Double.PositiveInfinity else 1.0 / frac
      BandShapeAdvice(
        nTables = nTables,
        planesPerTable = planes,
        predictedRecall = recallOf(planes),
        corpusVectors = n,
        sampledVectors = s,
        candidateFraction = frac,
        predictedSpeedup = speedup,
        // the floor re-check matters on the getOrElse(1) fallback: when no
        // planes count reaches the floor (few tables, or a threshold near
        // the -1 pole), the shape tried must not be recommended however
        // well it prices
        recommendBanded = speedup >= minSpeedup && recallOf(planes) >= recallFloor,
        probeBits = bits,
        suggestedBucketCap = cap)
    } finally {
      sample.unpersist()
      ()
    }
  }

  /** P[one `rows`-row MinHash band matches] for a pair at Jaccard `j` is
    * j^rows (each row agrees with probability j, independently); recall
    * over `bands` OR-ed bands is 1 − (1 − j^rows)^bands. The document-side
    * twin of [[pairRecall]] — the gate's 8×2 shape gives 0.90 at the
    * `dedup_minhash_lsh` threshold j = 0.5, and ≈1 for the planted
    * near-dups (j ≥ 0.8), matching DedupSimSpec's total-recall finding.
    */
  def minhashBandRecall(jaccard: Double, bands: Int, rows: Int): Double = {
    val j = math.max(0.0, math.min(1.0, jaccard))
    1.0 - math.pow(1.0 - math.pow(j, rows), bands)
  }

  /** The [[BandShapeAdvice.suggestedBucketCap]] rule as a pure function
    * of the sampled distinct bucket sizes `szs`, sample size `s`, and
    * corpus size `n` (the field's scaladoc carries the recall argument).
    * Extracted so the scaling arithmetic is unit-testable: the round-13
    * review caught the non-degenerate floor using SAMPLE units while the
    * degenerate bound used corpus units — at n/s = 10 a genuine 900-doc
    * cluster sampled at 90 read as "keep ≥ 128" and the suggested cap
    * excised it. EVERY observed bucket is a uniform s/n thinning of its
    * corpus bucket, so observed sizes in BOTH populations read × n/s at
    * corpus scale; only the degenerate CLASSIFICATION is scale-free (a
    * corpus-fraction bucket samples to the same fraction; the 16-doc
    * floor guards binomial noise at tiny samples).
    */
  private[graft] def suggestCapFrom(szs: Array[Long], s: Long, n: Long): Int = {
    val degThreshold = math.max(16L, math.ceil(0.01 * s).toLong)
    val deg = szs.filter(_ >= degThreshold)
    if (deg.isEmpty) 0
    else {
      val scale = math.max(1.0, n.toDouble / s)
      val minDegCorpus = math.min(deg.min * scale, Int.MaxValue.toDouble)
      val below = Integer.highestOneBit(math.max(1.0, minDegCorpus - 1).toInt)
      val maxOk = math.min(
        math.ceil(szs.filter(_ < degThreshold).maxOption.getOrElse(1L) * scale),
        Int.MaxValue.toDouble).toInt
      // power-of-two CEILING of maxOk, computed in Long: at maxOk ≥ 2^30
      // the Int form's h * 2 overflows negative and math.max below then
      // silently returns `below` — inverting the recall-wins tie-break
      // and excising the largest genuine cluster, the exact bug class
      // this function was extracted to prevent (round-14 advice #1)
      val atLeast = {
        val h = java.lang.Long.highestOneBit(math.max(maxOk.toLong, 1L))
        val ceil = if (h < maxOk) h * 2 else h
        math.min(ceil, Int.MaxValue.toLong).toInt
      }
      // atLeast > below means the populations overlap: recall wins the
      // tie (the field's documented contract) — the overlapping
      // degenerate sizes then survive, and the advice is "sharpen the
      // shape", not "trust this cap"
      math.max(below, atLeast)
    }
  }

  /** Advise a MinHash band shape (`graft.sim.bands.minhash` value) for a
    * document corpus: the sharpest rows-per-band meeting `recallFloor` at
    * Jaccard `jaccard` within `hashBudget` total min-hashes, priced by
    * bucketing a deterministic document sample through the REAL pipeline
    * (shared shingling/signature/banding code with the candidate path).
    * As with [[suggest]], `jaccard` means "where the pairs you must not
    * miss sit" — near-dups concentrate well above the verify threshold.
    *
    * In the returned advice, `nTables` is bands and `planesPerTable` is
    * rows per band (`shape` prints `"<bands>x<rows>"`, the knob format).
    *
    * Round 12 adds the SIZE-RATIO dimension the r11 boilerplate
    * measurement exposed: raw bucket mass alone can't distinguish a
    * recall-total 1-row shape on a size-heterogeneous corpus (42 M
    * candidates at 20k docs, most killable by min ≥ θ·max) from the same
    * mass of genuine near-dups. The advice now carries `cardCv` (the
    * sample's shingle-count coefficient of variation) and
    * `prefilterKeepFraction` (an upper bound on the mass surviving the
    * size-ratio bound, priced on the same sample banding) — a caller
    * seeing a low keep fraction knows the candidate estimate is dominated
    * by size-mismatched collisions the default-on prefilter will reject
    * in-stage, and a keep near 1 on a heterogeneous corpus (high cardCv)
    * means the SHAPE, not the prefilter, is doing the suppression.
    *
    * The remaining quadrant — `candidateFraction` HIGH with keep near 1 —
    * is SAME-size collision mass (boilerplate-driven per-band minima;
    * candidateFraction is mass/allPairs, both quadratic, so the sampled
    * fraction faithfully reflects the full-corpus share). Neither
    * prefilter touches it; the remedy is [[DedupOps.bucketCap]]
    * (`graft.dedup.bucketcap`), measured in SCALE.md round 12 — and
    * since round 13 the advice carries a concrete `suggestedBucketCap`
    * VALUE for that dial, derived from the same sampled bucket-size
    * distribution the mass estimate already walks (see the field's
    * scaladoc for the rule and its zero-sampled-recall-loss argument).
    */
  def suggestMinhash(
      spark: SparkSession,
      dir: String,
      jaccard: Double,
      hashBudget: Int = 16,
      recallFloor: Double = 0.9,
      minSpeedup: Double = 3.0,
      sampleCap: Int = 10000): BandShapeAdvice = {
    require(jaccard > 0.0 && jaccard < 1.0,
      s"jaccard must be a non-degenerate similarity, got $jaccard")
    require(hashBudget > 0, s"hashBudget must be positive, got $hashBudget")
    import spark.implicits._

    // recall falls as rows sharpen bands (and the budget buys fewer of
    // them) → largest qualifying value, like the planes search in suggest
    val rows = (hashBudget to 1 by -1)
      .find(r => minhashBandRecall(jaccard, hashBudget / r, r) >= recallFloor)
      .getOrElse(1)
    val bands = hashBudget / rows

    val obs = org.apache.spark.sql.Observation()
    val sample = Tables.documents(spark, dir)
      .select($"doc_id", $"text")
      .observe(obs, count(lit(1)).as("n"))
      .orderBy(md5($"doc_id".cast("string"))).limit(sampleCap)
      .persist()
    try {
      val s = sample.count()
      val n = obs.get("n") match {
        case c: java.lang.Long => c.longValue()
        case other => sys.error(s"corpus count metric came back as $other")
      }
      val exactPairs = s.toDouble * (s - 1) / 2
      // one signature pass serves the mass estimate, the size-ratio
      // dimension (round 12, r11 verdict #4), and the heterogeneity
      // metric: the fused kernel carries n_sh next to the signature,
      // exactly as the deployed candidate path does
      val (mass, keepMass, cv, cap) =
        if (s < 2) (0.0, 0.0, 0.0, 0)
        else {
          // the kernel path IS the deployed path (minhashCandidatesPlan),
          // so the priced bucketing stays the deployed bucketing; one
          // checkpointed signature pass feeds banding AND the cv agg
          val sigs = DedupOps.minhashSigsOf(sample, bands * rows, withCard = true)
            .localCheckpoint(true)
          val banded = Banding.slots(sigs, Seq($"n_sh"), Banding.minhash(bands, rows).col, 0)
          // one (band bucket → size) aggregation feeds the mass estimate AND
          // the bucket-cap suggestion's size distribution
          val sizes = banded.groupBy($"tbl", $"bucket").agg(count(lit(1)).as("c"))
            .localCheckpoint(true)
          val total = sizes
            .agg(coalesce(sum($"c" * ($"c" - 1)), lit(0L)))
            .head.getLong(0) / 2.0
          // bucket-cap suggestion (round 13, r12 verdict #4 — see the
          // suggestedBucketCap scaladoc for the rule and its recall
          // argument). Distinct sizes are model state (≤ a few hundred
          // values at any sample size).
          val szs = sizes.select($"c").distinct().collect().map(_.getLong(0))
          val capSuggest = suggestCapFrom(szs, s, n)
          // size-ratio survivors, UPPER-bounded by geometric size classes:
          // quantize n_sh at factor-(1/θ) boundaries — a pair ≥2 classes
          // apart has max/min > 1/θ and can never pass min ≥ θ·max, so
          // same-class pairs + adjacent-class cross products bound the
          // surviving mass from above (overestimating survivors = the
          // advisor's usual pessimistic-cost posture, applied to the kill)
          val theta = DedupOps.JaccardTheta
          val sentinel = lit(graft.expr.MinhashSig.CardUnknown)
          // sentinel rows (docs past CardCapShingles carry CardUnknown)
          // are ALWAYS kept by the deployed prefilter (the pass-through in
          // minhashCandidatesPlan), so they must not be size-classed —
          // class 0 would count their pairs as killed and break the
          // keep-is-an-upper-bound contract. They're priced separately
          // below as all-kept, and excluded from the cv (a 0 isn't a card).
          val byCls = banded.filter($"n_sh" =!= sentinel).select($"tbl", $"bucket",
              floor(log(greatest($"n_sh", lit(1L)).cast("double")) /
                math.log(1.0 / theta)).as("cls"))
            .groupBy($"tbl", $"bucket", $"cls").agg(count(lit(1)).as("c"))
            .localCheckpoint(true)
          val same = byCls
            .agg(coalesce(sum($"c" * ($"c" - 1)), lit(0L)))
            .head.getLong(0) / 2.0
          val adjacent = byCls.select($"tbl", $"bucket", $"cls", $"c".as("c1"))
            .join(byCls.select($"tbl", $"bucket", ($"cls" - 1).as("cls"), $"c".as("c2")),
              Seq("tbl", "bucket", "cls"))
            .agg(coalesce(sum($"c1" * $"c2"), lit(0L)))
            .head.getLong(0).toDouble
          // every pair touching a sentinel survives: within-sentinel plus
          // sentinel × normal, per bucket
          val sentKept = banded.groupBy($"tbl", $"bucket").agg(
              count(lit(1)).as("cT"),
              coalesce(sum(when($"n_sh" === sentinel, 1L).otherwise(0L)),
                lit(0L)).as("cS"))
            .agg(coalesce(sum(
              ($"cS" * ($"cS" - 1)).cast("double") / 2.0 +
                ($"cS" * ($"cT" - $"cS")).cast("double")), lit(0.0)))
            .head.getDouble(0)
          val statsRow = sigs.filter($"n_sh" =!= sentinel)
            .agg(coalesce(stddev_samp($"n_sh"), lit(0.0)),
              coalesce(avg($"n_sh"), lit(0.0))).head
          val (sd, mean) = (statsRow.getDouble(0), statsRow.getDouble(1))
          (total, math.min(total, same + adjacent + sentKept),
            if (mean > 0) sd / mean else 0.0, capSuggest)
        }
      val frac =
        if (exactPairs == 0) 1.0 else math.min(1.0, mass / exactPairs)
      val speedup =
        if (frac <= 0.0) Double.PositiveInfinity else 1.0 / frac
      val recall = minhashBandRecall(jaccard, bands, rows)
      BandShapeAdvice(
        nTables = bands,
        planesPerTable = rows,
        predictedRecall = recall,
        corpusVectors = n,
        sampledVectors = s,
        candidateFraction = frac,
        predictedSpeedup = speedup,
        recommendBanded = speedup >= minSpeedup && recall >= recallFloor,
        cardCv = cv,
        prefilterKeepFraction = if (mass <= 0.0) 1.0 else keepMass / mass,
        suggestedBucketCap = cap)
    } finally {
      sample.unpersist()
      ()
    }
  }
}
