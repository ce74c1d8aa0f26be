package graft.functions

import graft.QueryPack
import graft.core.{Knobs, Tables}
import graft.plans.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` (north-star extension,
  * SURVEY.md §7.2 step 8).
  *
  * Tiers, cheapest to most robust:
  *  - exact: sha2(normalized text) → canonical = min doc_id per hash. One
  *    shuffle on a 32-byte key at any scale.
  *  - n-gram Jaccard (exact near-dup): 3-token shingles, self-join on
  *    shingle, |∩| / |∪|. Correctness baseline; O(pairs sharing a shingle).
  *  - MinHash + LSH banding (scale path): k=16 min-hashes, 8 bands × 2
  *    rows; candidates only meet within a band bucket, then exact-verify.
  *    At 100 TB the shingle self-join above is infeasible (hot shingles
  *    explode); banding bounds the join to near-certain candidates.
  *    Planted near-dups in the test data sit at Jaccard ≥ 0.88, where
  *    P(candidate) = 1-(1-s²)^8 ≈ 1 — recall asserted in DedupSpec.
  *  - SimHash: 64-bit weighted-token signature; near-dups differ in ≤ k
  *    bits. Emitted as doc→signature (the index table); pairing is a
  *    banded hamming join ([[simhashPairs]]).
  */
object DedupOps extends QueryPack {

  /** THE normalization under every content identity in the library —
    * shared (package-visible) so TextOps' fingerprints and corpus-select
    * dedup verdict cannot drift from the dedup pack's definition.
    */
  private[functions] def normText: Column =
    regexp_replace(trim(lower(col("text"))), "\\s+", " ")

  /** Content identity: sha-256 of [[normText]] — exact-dedup key. */
  private[functions] def contentSha: Column = sha2(normText, 256)

  /** doc_id → 3-token shingles (exploded, WITH duplicates — narrow, no
    * shuffle) for any frame with (doc_id, text): the composed reference
    * form the shingle kernels are spec-checked against.
    */
  private[graft] def shingledOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(normText, " ").as("toks"))
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), greatest(size(col("toks")) - lit(2), lit(1))),
        i => concat_ws(" ", slice(col("toks"), i, lit(3))))).as("shingle"))

  /** [[shingledOf]] through the `word_shingles` native kernel (round 22,
    * guide §4): the composed index-transform evaluates interpreted per
    * shingle; the kernel emits the identical array in one codegen pass
    * (TextKernelsSpec pins equality). [[shingledOf]] stays the composed
    * reference — MinhashSigSpec builds the minhash reference signatures
    * from it so the kernel contracts remain independent.
    */
  private[graft] def shingledKernelOf(docs: DataFrame): DataFrame = {
    GraftFunctions.install(docs.sparkSession)
    docs
      .select(col("doc_id"), split(normText, " ").as("toks"))
      .select(col("doc_id"),
        explode(call_function("word_shingles", col("toks"))).as("shingle"))
  }

  /** doc_id → distinct 3-token shingles (exploded). */
  private def shingled(spark: SparkSession, dir: String): DataFrame =
    shingledKernelOf(Tables.documents(spark, dir)).distinct()

  /** Exact dedup: canonical id per normalized-content hash. */
  def exactDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"content_sha")
    Tables.documents(spark, dir)
      .select($"doc_id", contentSha.as("content_sha"))
      .withColumn("canonical_id", min($"doc_id").over(w))
      .withColumn("n_copies", count(lit(1)).over(w))
      .select($"doc_id", $"content_sha", $"canonical_id", $"n_copies")
      .orderBy($"doc_id")
  }

  /** Exact n-gram Jaccard near-dup pairs (threshold 0.5). The all-pairs
    * shingle self-join is the oracle-checked baseline — and the known
    * 100 TB killer (hot shingles explode the join). With
    * `graft.sim.exact=false` the SAME stats are computed on the MinHash
    * band-bucket candidate slice instead ([[minhashCandidates]]) — the
    * path [[minhashLsh]] always uses — so the self-join never touches the
    * full corpus. ExactnessSpec asserts row-identical output on the test
    * data (banding recall is total at Jaccard ≥ 0.5 there, per DedupSpec).
    * [[connectedComponents]] consumes this, so the knob makes clustering
    * scale-safe too.
    */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    if (!Knobs.SimExact(spark))
      return jaccardStats(spark, dir, minhashCandidates(spark, dir))
        .filter($"jaccard" >= JaccardTheta)
        .select($"d1", $"d2", $"common", $"n1", $"n2", $"jaccard")
        .orderBy($"d1", $"d2")
    val sh = shingled(spark, dir)
    val counts = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val common = sh.select($"doc_id".as("d1"), $"shingle")
      .join(sh.select($"doc_id".as("d2"), $"shingle"), Seq("shingle"))
      .filter($"d1" < $"d2")
      .groupBy($"d1", $"d2").agg(count(lit(1)).as("common"))
    common
      .join(counts.select($"doc_id".as("d1"), $"n".as("n1")), Seq("d1"))
      .join(counts.select($"doc_id".as("d2"), $"n".as("n2")), Seq("d2"))
      .withColumn("jaccard", $"common" / ($"n1" + $"n2" - $"common"))
      .filter($"jaccard" >= JaccardTheta)
      .select($"d1", $"d2", $"common", $"n1", $"n2", $"jaccard")
      .orderBy($"d1", $"d2")
  }

  /** Signature length at the MinHash route's default shape, 8 bands x 2
    * rows = 16 hashes. */
  val NumHashes: Int = Knobs.MinHash.tables * Knobs.MinHash.planes

  /** The Jaccard threshold every minhash-candidate consumer filters at
    * ([[ngramJaccard]], [[minhashLsh]], and [[connectedComponents]]
    * through them). Single-sourced here because the candidate self-join's
    * size-ratio prefilter is lossless ONLY against this bound: J ≥ θ ⟹
    * min(n1,n2)/max(n1,n2) ≥ θ (common ≤ min, so min·(1+θ) ≥ θ·(n1+n2) ≥
    * θ·(min+max) ⟹ min ≥ θ·max). A consumer filtering looser than θ must
    * not reuse the prefiltered candidates.
    */
  val JaccardTheta = 0.5

  /** MinHash signatures mh_0..mh_{n-1}, COMPOSED REFERENCE FORM. Each
    * shingle STRING is hashed once (xxhash64); the n hash functions re-hash
    * that single long with the function index — a fixed-width long hash is
    * far cheaper than hashing the variable-length string n×, and unlike a
    * linear h1+i·h2 family the re-hash keeps the functions independent
    * across LSH bands (a linear family measurably lost recall on the
    * planted pairs). `min` is duplicate-insensitive, so this consumes the
    * RAW shingle stream: the aggregation is fully map-combinable.
    *
    * The DEPLOYED path is [[minhashSigsOf]] — the `minhash_sig` native
    * kernel computing the identical signature in one pass per document,
    * with no shingle explode and no shuffle at all. This composed form
    * remains as the semantic definition the kernel is spec-checked against
    * (MinhashSigSpec asserts bit-equality on the fixtures and on
    * adversarial token shapes).
    */
  private[graft] def minhashSignatures(sh: DataFrame, numHashes: Int): DataFrame = {
    val h = xxhash64(col("shingle"))
    val aggs = (0 until numHashes).map { i =>
      min(xxhash64(h, lit(i))).as(s"mh_$i")
    }
    sh.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** doc_id → mh_0..mh_{n-1} via the one-pass `minhash_sig` kernel
    * ([[graft.expr.MinhashSig]]): signature computed inside the scan's
    * whole-stage codegen — no shingle explode (row amplification ~one per
    * token) and, unlike [[minhashSignatures]]'s groupBy, NO corpus-wide
    * shuffle. The first shuffle on the candidate path becomes the
    * (band,bucket) groupBy over `bands` rows per doc. Bit-identical to the
    * composed form by the kernel's compatibility contract.
    */
  private[graft] def minhashSigsOf(docs: DataFrame, numHashes: Int,
      withCard: Boolean = false): DataFrame = {
    GraftFunctions.install(docs.sparkSession)
    // composed-path parity: a null text still yields ONE empty shingle
    // there (greatest(null,1)=1 and concat_ws on a null array is ""), so
    // feed the kernels "" — identical signature (and card 1), doc retained
    val in = coalesce(normText, lit(""))
    // `withCard` switches to the FUSED `minhash_sig_card` kernel: the
    // doc's distinct-shingle count (the size-ratio prefilter's input,
    // [[minhashCandidatesPlan]]) rides as slot numHashes of the signature
    // array — one tokenization and one string hash per shingle, instead
    // of a second full `shingle_card` pass over the same bytes
    val sigFn = if (withCard) "minhash_sig_card" else "minhash_sig"
    val cardCols = if (withCard)
      Seq(col("sig").getItem(numHashes).as("n_sh")) else Nil
    docs
      .select(col("doc_id"),
        call_function(sigFn, in, lit(numHashes)).as("sig"))
      .select((col("doc_id") +: cardCols) ++
        (0 until numHashes).map(i => col("sig").getItem(i).as(s"mh_$i")): _*)
  }

  /** MinHash+LSH near-dup: band-bucket candidates, exact-verify, emit pairs
    * with their true Jaccard. Hash-gated by EQUIVALENCE: candidates are
    * exact-verified so precision is 1.0 by construction, and banding recall
    * at Jaccard ≥ 0.5 is total on this corpus (DedupSimSpec asserts
    * LSH ≡ exact; the banded gate run re-proves it at every SF) — so the
    * plain exact-Jaccard SQL is a valid oracle for THIS output, and a
    * stronger check than rows-only: it pins that the sketch path returns
    * exactly the right pairs, not just the right number of them.
    *
    * Shuffle budget (the 100 TB view): signatures are computed by the
    * one-pass `minhash_sig` kernel inside the scan — ZERO corpus-wide
    * shuffle on the whole candidate path (the first shuffle is the
    * (band,bucket) self-join over `bands` rows per doc). Everything
    * downstream — shingle sets, Jaccard sizes and intersections — runs on
    * the candidate slice only: one set per candidate document, reached by
    * broadcasting the candidate doc-id set into a semi-join against a
    * re-scan of the documents. Banding exists precisely to make that slice
    * tiny relative to corpus.
    */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    jaccardStats(spark, dir, minhashCandidates(spark, dir))
      .filter($"jaccard" >= JaccardTheta)
      .select($"d1", $"d2", $"jaccard")
      .orderBy($"d1", $"d2")
  }

  /** Band-bucket candidate (d1 < d2) pairs from the MinHash signatures,
    * each pair once ([[minhashCandidatesPlan]]).
    */
  private def minhashCandidates(spark: SparkSession, dir: String): DataFrame =
    // localCheckpoint instead of CacheManager .cache(): the pair set is
    // reused by several downstream subtrees, but a CacheManager entry is
    // pinned until an explicit unpersist — repeated invocations in a long
    // session would accumulate storage. The checkpoint's backing blocks
    // are released by the ContextCleaner as soon as the returned plan is
    // unreferenced. Lazy, but not free to build: under AQE the checkpoint's
    // shuffle stages (the signature/band stage) run while the frame is
    // constructed, and the first consumer (jaccardStats' candidate doc-id
    // broadcast) reads the materialized blocks; the signature/band stage
    // runs once per pass either way (LazyCheckpointSpec).
    minhashCandidatesPlan(spark, dir).localCheckpoint(false)

  /** The candidate-generation subtree WITHOUT the closing checkpoint
    * boundary — [[minhashCandidates]] minus its `localCheckpoint`, exposed
    * so plan dumps (DumpPlans) can show the signature/banding stages that
    * the checkpoint otherwise collapses to `Scan ExistingRDD`.
    *
    * The banded self-join ([[Banding.selfJoin]]) over each document's
    * `bands` 64-bit band hashes ([[Banding.minhash]]), not
    * collect_set-then-explode²: that form holds every bucket's doc list in
    * one aggregation buffer and expands |bucket|² pairs from a single row,
    * and a degenerate band value (near-empty documents share signatures)
    * is an unbounded array no executor survives. The pairing holds one row
    * per (document, band) instead and walks each bucket's pairs in a loop
    * (a hot bucket is the bucket cap's job). It keeps each pair once, at
    * its first agreeing band ([[graft.expr.LshFirstShared]], the rule
    * every banded route shares), so no pair distinct runs. With
    * `graft.sim.prefilter` on, each doc's distinct-shingle count n_sh (ONE
    * long, from the fused `minhash_sig_card` kernel in the scan) rides the
    * shuffle, and pairs failing the lossless bound
    * min(n1,n2) ≥ JaccardTheta·max(n1,n2) are rejected inside the
    * pairing, before the verify (ExactnessSpec: prefiltered ≡ unfiltered).
    *
    * With [[Knobs.DedupBucketCap]] > 0 the band stream goes through the
    * pairing's bucket cap ([[Banding.capBuckets]]): a band whose bucket the
    * cap dropped does not count as agreeing, so a pair whose first shared
    * bucket was dropped is kept at its next shared one. The cap's lazy
    * `localCheckpoint` lets its consumers (the sizes aggregation and the
    * cap's semi-join) read one materialized stream instead of each
    * re-running the scan+signature subtree (PlanSpec pins the single
    * pass). On the very first action AQE may submit the two leaf stages
    * that share the stream concurrently, so a partition can be computed
    * twice in that race — a bounded first-run cost, chosen over an eager
    * checkpoint whose construction-time job would make plan dumps and
    * analysis-only tests run Spark jobs. A dump with the cap set shows the
    * capped subtree above `Scan ExistingRDD`; dump with the cap unset (the
    * default) to see the full lazy pipeline.
    */
  private[graft] def minhashCandidatesPlan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (bands, rows) = Knobs.MinHash.bands(spark)
    val pf = Knobs.SimPrefilter(spark)
    val sigs = minhashSigsOf(Tables.documents(spark, dir), bands * rows,
      withCard = pf)
    val cap = Knobs.DedupBucketCap(spark)
    // sentinel pass-through: a doc past the fused kernel's CardCapShingles
    // carries CardUnknown (0) instead of a count — such rows must never be
    // rejected (the prefilter is optional per row; the verify recomputes
    // true sizes for survivors). 0 can't collide with a real count (every
    // doc has ≥ 1 shingle).
    val unknown = lit(graft.expr.MinhashSig.CardUnknown)
    val sizeOk = Option.when(pf)($"ns1" === unknown || $"ns2" === unknown ||
      least($"ns1", $"ns2") >= lit(JaccardTheta) * greatest($"ns1", $"ns2"))
    Banding.selfJoin(sigs, "doc_id" -> "d", Banding.minhash(bands, rows),
        carry = if (pf) Seq("ns" -> $"n_sh") else Nil,
        cap = Option.when(cap > 0)(Knobs.DedupBucketCap -> cap), test = sizeOk)
      .select($"d1", $"d2")
  }

  /** Exact Jaccard stats (common, n1, n2, jaccard) for the given candidate
    * (d1, d2) pairs only. Each candidate document gets ONE row, its
    * distinct shingle set, computed from a re-scan cut to the candidate
    * doc-id slice (a broadcast semi-join on ids), never for the full
    * corpus. A pair joins the two sets by id and intersects them:
    * common = |s1 ∩ s2|, n = |s|. That replaces a row per shingle, with its
    * distinct, per-document size and (pair × shingle) join, by a row per
    * document and a row per pair.
    *
    * With [[Knobs.DedupHashVerify]] on (default), a set is `shingle_set`'s sorted
    * xxhash64 keys — 8 bytes a shingle where strings are ~15–30 B. Jaccard
    * then drifts from the string-set value only if xxhash64 collides among
    * a candidate document's shingles (~n²/2^64 per doc — the same accepted
    * class as the ShingleCard note), and the prefilter's n_sh counts the
    * SAME hash sets, so the lossless size bound holds exactly even under a
    * collision.
    *
    * A document with null text has no shingles, so it yields no pair.
    */
  private def jaccardStats(spark: SparkSession, dir: String,
      candidates: DataFrame): DataFrame = {
    import spark.implicits._
    // candidate-slice only; localCheckpoint over .cache() for the same
    // ContextCleaner-managed lifetime as minhashCandidates. Lazy: the
    // first join leg materializes the sets, the second reads the persisted
    // blocks, so the slice scan runs once per pass (LazyCheckpointSpec)
    val sets = candidateSets(spark, dir, candidates).localCheckpoint(false)
    def side(i: Int): DataFrame = sets.select($"doc_id".as(s"d$i"), $"set".as(s"s$i"))
    // NO broadcast hint on the candidate PAIR set: it is
    // candidate-proportional, and a forced broadcast of it measured fatal
    // on a boilerplate corpus at the 16x1 recall-total shape (37 M pairs →
    // notEnoughMemoryToBuildAndBroadcastTableError on the driver). AQE
    // broadcasts these joins at runtime when the sides are genuinely
    // small, and shuffles them when they aren't; the id-width candDocs
    // semi-join in candidateSets keeps its hint because it IS the slice
    // contract (ids only, never pair-shaped).
    // the sizes come out of ONE generator row: computed in a Project, they
    // would be inlined into the consumers' jaccard filter, which is pushed
    // into the join condition, so every kept pair would intersect twice
    candidates.join(side(1), Seq("d1")).join(side(2), Seq("d2"))
      .select($"d1", $"d2", inline(array(struct(
        size(array_intersect($"s1", $"s2")).cast("long").as("common"),
        size($"s1").cast("long").as("n1"), size($"s2").cast("long").as("n2")))))
      .withColumn("jaccard", $"common" / ($"n1" + $"n2" - $"common"))
  }

  /** (doc_id, set): the distinct shingle set of each document named in
    * `candidates` with non-null text — [[jaccardStats]]' slice before its
    * checkpoint, exposed so plan checks and dumps can see the scan the
    * checkpoint otherwise collapses to `Scan ExistingRDD`.
    */
  private[graft] def candidateSets(spark: SparkSession, dir: String,
      candidates: DataFrame): DataFrame = {
    import spark.implicits._
    val candDocs = candidates
      .select(explode(array($"d1", $"d2")).as("doc_id")).distinct()
    val set =
      if (Knobs.DedupHashVerify(spark)) call_function("shingle_set", normText)
      else array_distinct(call_function("word_shingles", split(normText, " ")))
    Tables.documents(spark, dir)
      .where($"text".isNotNull)
      .join(broadcast(candDocs), Seq("doc_id"), "left_semi")
      .select($"doc_id", set.as("set"))
  }

  /** 64-bit SimHash signatures as a LONG column over any frame with
    * (doc_id, text): bit b set iff Σ_tokens count·(±1) > 0, sign from bit b
    * of a 64-bit hash of the token. The hash is md5-DERIVED (top 8 digest
    * bytes, assembled from two 32-bit `conv` halves so no ANSI overflow):
    * md5 exists bit-identically in every engine, which is what lets the
    * DuckDB oracle recompute the signature bit-for-bit. xxhash64 is ~5×
    * cheaper per token and is the swap-in when cross-engine
    * reproducibility of the signature doesn't matter; the plan shape
    * (map-combinable vote sums, one shuffle) is identical either way.
    */
  def simhashSig(docs: DataFrame): DataFrame = {
    val tokenCounts = docs
      .select(col("doc_id"), explode(split(normText, " ")).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("cnt"))
      .withColumn("md", md5(col("token")))
      .withColumn("th",
        shiftleft(conv(substring(col("md"), 1, 8), 16, 10).cast("long"), 32)
          .bitwiseOR(conv(substring(col("md"), 9, 8), 16, 10).cast("long")))
    val votes = (0 until 64).map { b =>
      sum(when(shiftright(col("th"), b).bitwiseAND(lit(1L)) === 1L, col("cnt"))
        .otherwise(-col("cnt"))).as(s"v_$b")
    }
    val sig = (0 until 64).map { b =>
      when(col(s"v_$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
    tokenCounts.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), sig.as("sig"))
  }

  /** doc_id → 64-bit SimHash signature via the one-pass `simhash_sig`
    * kernel ([[graft.expr.SimhashSig]]): computed inside the scan — no
    * token explode and NEITHER of the composed form's two corpus-wide
    * shuffles (the (doc,token) count groupBy and the 64-vote groupBy).
    * Bit-identical by the kernel's compatibility contract (SimhashSigSpec);
    * the `text IS NOT NULL` filter mirrors the composed form, where a null
    * text explodes to nothing and the doc never reaches the frame. Past
    * that filter the signature is never null, and the `coalesce` says so:
    * a nullable `sig` under a null-intolerant consumer (the pairing's
    * hamming test) has the optimizer infer IsNotNull(sig) and push it
    * below the fan-out as a second kernel call per document.
    */
  private[graft] def simhashSigsOf(docs: DataFrame): DataFrame = {
    GraftFunctions.install(docs.sparkSession)
    docs
      .where(col("text").isNotNull)
      .select(col("doc_id"),
        coalesce(call_function("simhash_sig", normText), lit(0L)).as("sig"))
  }

  /** SimHash index table (doc_id → signature hex), the artifact a
    * hamming-distance pairing job consumes. Hash-gated: the DuckDB oracle
    * rebuilds the md5-derived signature bit-for-bit (see [[simhashSig]]).
    */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    simhashSigsOf(Tables.documents(spark, dir))
      .select($"doc_id", lower(lpad(hex($"sig"), 16, "0")).as("simhash_hex"))
      .orderBy($"doc_id")
  }

  val SimhashBands = 4
  val SimhashMaxHamming = 3

  /** SimHash near-dup PAIRING — the consumer of the [[simhash]] index
    * table: all pairs within hamming distance ≤ 3 of the 64-bit signature.
    * Banded by pigeonhole: split the signature into 4 bands of 16 bits;
    * any pair differing in ≤ 3 bits must agree EXACTLY on at least one
    * band, so band-equality buckets have recall 1 by theorem (not by
    * tuning) and the all-pairs O(n²) popcount becomes O(Σ bucket²) with
    * one shuffle on (band, value) — the same construction the reference's
    * dedup pipelines used over MapReduce sort buckets. The bands are the
    * keys of the shared banded self-join ([[Banding.selfJoin]],
    * [[Banding.simhash]]), which keeps each pair at its first agreeing
    * band, so no pair distinct runs; each side carries the signature, and
    * the hamming bound is the pairing's own test.
    */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // fan out: unlike [[simhash]] (index only, where the exchange measured
    // costlier than the kernel), the pairing pays the sig kernel AND the
    // band self-join above one scan task — fan-out measured 1.0 -> 0.6-0.7 s
    val sigs = simhashSigsOf(graft.core.Fanout.maybeFanout(
      Tables.documents(spark, dir), col("doc_id")))
    val hamming = expr("bit_count(s1 ^ s2)")
    Banding.selfJoin(sigs, "doc_id" -> "d", Banding.simhash(SimhashBands),
        carry = Seq("s" -> $"sig"), test = Some(hamming <= SimhashMaxHamming))
      // the pairs leave through an exchange of their own, so the final
      // sort's range sampling reads it instead of pairing the bands again
      .select($"d1", $"d2", $"s1", $"s2")
      .repartition($"d1", $"d2")
      .select($"d1", $"d2", hamming.cast("int").as("hamming"))
      .orderBy($"d1", $"d2")
  }

  /** Near-dup cosine floor, shared by the float verify and the banded
    * route's int8 prefilter (lossless only at the same θ). */
  val CosDedupThreshold = 0.9

  /** Embedding-cosine near-dup: canonical id = min vec_id among neighbors
    * with cosine ≥ 0.9, self included. The pairs come from
    * [[SimilarityOps.cosinePairs]] on the `cosdedup` route, each unordered
    * pair scored once: one explode emits both orientations, and the self
    * rows are unioned in (a vector is its own neighbor even when its
    * cosine with itself is not 1, as for a zero vector). A tight 0.9
    * threshold (26°) tolerates 4-bit tables, so 8 tables × 4 planes:
    * candidate volume O(Σ bucket²) instead of the n² cross join.
    * ExactnessSpec asserts the two routes agree on the test data.
    * Reference analogue: none (north-star extension).
    */
  def embeddingCosineDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    SimilarityOps.cosinePairs(spark, dir, Knobs.CosDedup, CosDedupThreshold)
      .select(explode(array(struct($"v1", $"v2"), struct($"v2".as("v1"), $"v1".as("v2")))).as("o"))
      .select($"o.v1".as("v1"), $"o.v2".as("v2"))
      .union(Tables.embeddings(spark, dir).select($"vec_id".as("v1"), $"vec_id".as("v2")))
      .groupBy($"v1")
      .agg(min($"v2").as("canonical_id"), (count(lit(1)) - 1).as("n_near_dups"))
      .select($"v1".as("vec_id"), $"canonical_id", $"n_near_dups")
      .orderBy($"vec_id")
  }

  /** Exact dedup with a KEEP POLICY: per content hash keep the longest
    * document (ties → min doc_id) — the realistic corpus policy ("keep the
    * most complete copy"), vs [[exactDedup]]'s neutral min-id canonical.
    */
  def exactDedupKeepLongest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // keep-policy argmax ("longest, ties to min id") via arg_max_long —
    // flat primitive buffers keep the plan a streaming HashAggregate over
    // the corpus; the max_by(struct, struct) form planned as SortAggregate
    // and sorted every partition's document stream (SCALE.md round 7).
    // n_chars rides as the double score (int64 lengths are far below the
    // 2^53 lossless bound) and is cast back on the way out.
    Tables.documents(spark, dir)
      .select($"doc_id", $"n_chars", sha2(normText, 256).as("content_sha"))
      .groupBy($"content_sha")
      .agg(expr("arg_max_long(doc_id, CAST(n_chars AS DOUBLE))").as("b"))
      .select($"b.id".as("doc_id"), $"content_sha",
        $"b.score".cast("long").as("n_chars"))
      .orderBy($"doc_id")
  }

  /** Hard cap on large-star/small-star rounds. [[starComponents]] needs
    * O(log² n) rounds worst-case (O(log n) observed — StarComponentsSpec
    * pins a 300-node path at ≤ 12), so 64 is unreachable for any corpus
    * that fits on hardware; hitting it means a logic bug, and the loop
    * FAILS LOUDLY rather than emitting fractured clusters (the silent
    * 25-round min-label cap was round 11's one `weak` mark).
    */
  private val MaxStarRounds = 64

  /** One large-star + small-star contraction round over a canonical
    * (lo < hi, distinct) edge frame — the loop body of [[starComponents]],
    * exposed so plan tooling can dump a round's physical plan (the loop
    * runs during query CONSTRUCTION, so the declared query's explain never
    * shows it).
    *
    * Shuffle budget (round 22, guide §2.4): THREE exchanges per round where
    * the round-21 form paid six (sym groupBy(u), sym⋈lMin on u, large-star
    * distinct on (lo,hi), ls groupBy(hi), ls⋈sMin on hi, final distinct):
    *  - large-star: ONE `repartition(u)` serves both the neighborhood-min
    *    aggregation and the re-link join (both sides arrive hash-partitioned
    *    on u, so neither plans its own exchange — "two operations keyed the
    *    same way share one exchange"). The join stays a JOIN (shuffle_hash,
    *    no sort) rather than a window: large-star groups by u over the
    *    SYMMETRIC edge set, and a component's min-node neighborhood is the
    *    whole component — a window would funnel that hot key through one
    *    task with no recourse, while AQE's skew handling can split a join.
    *  - small-star: ONE `repartition(hi)` serves the large-star output's
    *    distinct (hash(hi) co-locates equal (lo,hi) pairs, so the aggregate
    *    needs no exchange of its own) AND the per-hi min window. Grouping
    *    here is by the LARGER endpoint, whose neighborhoods are usually
    *    small (star arms group singly), so the window's one-task-per-key
    *    shape is usually safe where it wasn't for large-star. That is not
    *    an invariant. A hub whose id is its component's MAX collects its
    *    whole neighborhood under one hi, and the window then funnels that
    *    group through one task: no map-side partial aggregation, and no
    *    AQE skew split (a window is not a join). Rows are still right
    *    (StarComponentsSpec); only the task is hot. If a stage profile ever
    *    shows it, compute the per-hi min with a partial-aggregating
    *    `groupBy(hi)` and broadcast that table back. The window also
    *    replaces the join outright: each row emits (m, lo) when lo ≠ m,
    *    and the unique lo = m row emits (m, hi) — exactly the old
    *    join-branch ∪ sMin rows.
    *  - the closing distinct keys on the NEW (lo, hi), so its exchange is
    *    semantically required (convergence is an exact set test).
    * Output is row-identical to the round-21 form (StarComponentsSpec pins
    * fixpoints and round counts; the per-round edge SET is unchanged, so
    * round counts cannot drift).
    */
  private[graft] def contractionRound(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // large-star: symmetric neighborhoods; m = min(N(u) ∪ {u}) via the
    // group min, then each larger neighbor re-links to m. m ≤ u < v, so
    // the (m, v) output is already lo<hi-canonical and never a self-loop.
    val sym = edges.select($"lo".as("u"), $"hi".as("v"))
      .union(edges.select($"hi".as("u"), $"lo".as("v")))
      .repartition($"u")
    val lMin = sym.groupBy($"u").agg(min($"v").as("mn"))
      .select($"u", least($"u", $"mn").as("m"))
    val ls = sym.join(lMin.hint("shuffle_hash"), Seq("u")).filter($"v" > $"u")
      .select($"m".as("lo"), $"v".as("hi"))
    // small-star on the large-star output: one exchange on the larger
    // endpoint hi carries the dedup AND the per-hi min; the row with
    // lo = m is unique per hi after the distinct, so the two output
    // branches partition the windowed rows exactly
    val w = Window.partitionBy($"hi")
    ls.repartition($"hi").distinct()
      .withColumn("m", min($"lo").over(w))
      .select(when($"lo" === $"m", struct($"m".as("lo"), $"hi".as("hi")))
        .otherwise(struct($"m".as("lo"), $"lo".as("hi"))).as("e"))
      .select($"e.lo".as("lo"), $"e.hi".as("hi"))
      .distinct()
  }

  /** Connected-components core: alternating large-star/small-star edge
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SOCC'14 — a public algorithm) over an undirected edge set.
    * Returns each node's component label = min node id in its component,
    * plus the round count (exposed for the convergence-rate spec).
    *
    * Why not min-label propagation (the round-11 form): that loop needs
    * O(graph diameter) rounds, and a near-dup CHAIN (A~B~C~… through
    * shared boilerplate) makes diameter unbounded — at 25 rounds it exited
    * SILENTLY un-converged, fracturing clusters with no error. Star
    * contraction halves path lengths every alternation:
    *  - large-star: every node u links each STRICTLY LARGER neighbor v to
    *    m = min(N(u) ∪ {u});
    *  - small-star: orienting edges toward the larger endpoint u, u and
    *    each smaller neighbor link to m = min of the small neighborhood.
    * Both steps preserve connectivity (each dropped edge is re-expressed
    * through m), keep every intermediate edge (m, v) with m < v, and the
    * fixpoint is a star per component centered at its min id — the SAME
    * min-id semantics as label propagation, reached in O(log) rounds
    * instead of O(diameter). Each round is two groupBy+join shuffles on
    * id-width rows; `localCheckpoint` truncates lineage per round
    * (the iterative-algorithm pattern Pregel/GraphFrames use).
    * Deployment caveat: localCheckpoint stores blocks on executors, so
    * an executor loss mid-job forfeits them (no lineage left to
    * recompute) — right for local[32] and on-demand clusters, but on a
    * PREEMPTIBLE cluster substitute reliable `checkpoint` with a
    * `sparkContext.setCheckpointDir` to durable storage, at one HDFS
    * write per round (the standard Pregel production posture).
    *
    * Convergence test is EXACT, not a checksum: both edge sets are
    * distinct, so |next| = |cur| ∧ next∖cur = ∅ ⟺ next = cur — a hash
    * signature could collide into false convergence (a quiet wrong answer,
    * the exact failure class this rewrite removes). (next∖cur = ∅ means
    * next ⊆ cur; with equal cardinalities of distinct sets that IS set
    * equality, so the left_anti emptiness probe below is the same test
    * `except(...).isEmpty` ran, minus except's extra distinct shuffle.)
    *
    * Job budget per round (round 13, closing the r12 verdict's one
    * remaining CC inefficiency — ~4 driver actions/round of fixed
    * overhead): the new edge set is LAZILY localCheckpoint'd and the
    * `count()` action materializes checkpoint AND cardinality in ONE job;
    * the set-equality probe only runs in rounds where the cardinality
    * matched (at most the final round plus checksum-unreachable ties), and
    * each superseded round's checkpoint blocks are unpersisted
    * DETERMINISTICALLY (not left to ContextCleaner GC timing — executor
    * block-store usage stays O(current round), flat in round count).
    */
  private[graft] def starComponents(nodes: DataFrame, pairs: DataFrame): (DataFrame, Int) = {
    val spark = nodes.sparkSession
    import spark.implicits._
    var edges = pairs
      .select(least($"d1", $"d2").as("lo"), greatest($"d1", $"d2").as("hi"))
      .filter($"lo" =!= $"hi").distinct().localCheckpoint(false)
    var nCur = edges.count() // materializes the lazy checkpoint, same job
    var rounds = 0
    var converged = nCur == 0L
    while (!converged) {
      if (rounds >= MaxStarRounds)
        throw new IllegalStateException(
          s"connected components: star contraction still changing after $rounds rounds " +
            s"(${nCur} edges) — O(log² n) convergence makes this unreachable; logic bug")
      val next = contractionRound(edges).localCheckpoint(false)
      val nNext = next.count() // one job: compute, persist blocks, count
      converged = nNext == nCur &&
        next.join(edges, Seq("lo", "hi"), "left_anti").isEmpty
      // `next` is fully materialized and the probe (if any) has run, so
      // this round's input edges are dead — release their blocks now
      unpersistCheckpoint(edges)
      edges = next
      nCur = nNext
      rounds += 1
    }
    // fixpoint edges are stars (lo = component min); min-per-hi guards the
    // join against any duplicate star arms, singletons label themselves
    val labels = nodes.select($"doc_id")
      .join(edges.groupBy($"hi".as("doc_id")).agg(min($"lo").as("mn")),
        Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"mn", $"doc_id").as("label"))
    (labels, rounds)
  }

  /** Release the executor blocks behind a localCheckpoint'd frame the
    * moment a contraction round supersedes it. The plan behind such a
    * frame is exactly the `LogicalRDD` wrapping the persisted RDD, so the
    * unpersist is a direct handle release — without it the blocks survive
    * until ContextCleaner notices the dropped reference at some future GC,
    * and a long contraction accumulates every round's edge set in the
    * executor block store (the r12 advice finding). Non-blocking: the
    * caller never re-reads the superseded frame — Spark logs a WARN that
    * the truncated lineage "cannot be recomputed after unpersisting",
    * which is precisely the point: the frame is dead. No-op on any other
    * plan shape (defensive only — every caller passes a checkpointed
    * frame).
    */
  private def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }

  /** Near-dup CLUSTERS: connected components over the ≥0.5-Jaccard pair
    * graph, cluster id = min doc_id in the component. Pairwise canonicals
    * aren't transitive (A~B, B~C but A≁C still belong together); dedup
    * pipelines cluster before keeping one doc per cluster. The fixpoint is
    * computed by [[starComponents]] (O(log) alternating star rounds —
    * diameter-safe, fail-loud). Oracle: DuckDB recursive CTE
    * (reachability → min) — same fixpoint, declaratively.
    */
  def connectedComponents(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = ngramJaccard(spark, dir).select($"d1", $"d2")
    val nodes = Tables.documents(spark, dir).select($"doc_id")
    val (labels, _) = starComponents(nodes, pairs)
    labels.select($"doc_id", $"label".as("cluster_id"))
      .withColumn("is_canonical", ($"doc_id" === $"cluster_id").cast("boolean"))
      .orderBy($"doc_id")
  }

  /** The end of the dedup pipeline: ONE representative per near-dup
    * cluster, chosen by a keep policy (longest, ties → min doc_id — same
    * policy as [[exactDedupKeepLongest]] but over [[connectedComponents]]
    * clusters instead of exact-hash groups). This is the op that actually
    * shrinks the corpus; everything upstream only discovers structure.
    * The argmax is `arg_max_long` — a streaming HashAggregate with one
    * winner per (cluster, partition) in the shuffle; the struct-buffer
    * `max_by` form would SortAggregate the whole document stream
    * (SCALE.md round 7).
    */
  def clusterKeepBest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    connectedComponents(spark, dir)
      .join(Tables.documents(spark, dir).select($"doc_id", $"n_chars"), Seq("doc_id"))
      .groupBy($"cluster_id")
      .agg(expr("arg_max_long(doc_id, CAST(n_chars AS DOUBLE))").as("b"),
        count(lit(1)).as("cluster_size"))
      .select($"cluster_id", $"b.id".as("kept_doc_id"),
        $"b.score".cast("long").as("n_chars"), $"cluster_size")
      .orderBy($"cluster_id")
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_cluster_keep_best" -> (clusterKeepBest _),
    "dedup_connected_components" -> (connectedComponents _),
    "dedup_exact" -> (exactDedup _),
    "dedup_exact_keep_longest" -> (exactDedupKeepLongest _),
    "dedup_ngram_jaccard" -> (ngramJaccard _),
    "dedup_minhash_lsh" -> (minhashLsh _),
    "dedup_simhash" -> (simhash _),
    "dedup_simhash_pairs" -> (simhashPairs _),
    "dedup_embedding_cosine" -> (embeddingCosineDedup _))

  /** Shared CTE prefix rebuilding the 64 per-bit vote sums (`v_0..v_63`)
    * of the md5-derived SimHash — consumed by both the index oracle
    * (hex digits) and the pairing oracle (bands + hamming). */
  private val duckSimhashVotes: String = {
    val votes = (0 until 64).map(b =>
      s"SUM(CASE WHEN (th >> $b) & 1 = 1 THEN cnt ELSE -cnt END) AS v_$b")
      .mkString(",\n    ")
    s"""WITH nt AS (
       |  SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS toks
       |  FROM documents),
       |tok AS (
       |  SELECT doc_id, t AS token, COUNT(*) AS cnt
       |  FROM nt, UNNEST(toks) AS u(t) GROUP BY 1, 2),
       |h AS (
       |  SELECT doc_id, cnt,
       |    CAST('0x' || substr(md5(token), 1, 16) AS UBIGINT) AS th
       |  FROM tok),
       |v AS (
       |  SELECT doc_id,
       |    $votes
       |  FROM h GROUP BY doc_id)""".stripMargin
  }

  /** DuckDB rebuild of the md5-derived SimHash, bit-for-bit: same token
    * counts, same top-8-digest-byte hash (hex-string cast — DuckDB reads
    * '0x…' into UBIGINT), same vote sums; the output hex is assembled
    * digit-by-digit from the vote signs (DuckDB's `<<` range-checks at bit
    * 63, so no shift-based assembly).
    */
  private val duckSimhash: String = {
    val digits = (1 to 16).map { i =>
      val base = 4 * (16 - i)
      val dv = (3 to 0 by -1)
        .map(k => s"(CASE WHEN v_${base + k} > 0 THEN ${1 << k} ELSE 0 END)")
        .mkString(" + ")
      s"substr('0123456789abcdef', ($dv) + 1, 1)"
    }.mkString(" ||\n  ")
    s"""$duckSimhashVotes
       |SELECT doc_id,
       |  $digits AS simhash_hex
       |FROM v ORDER BY doc_id""".stripMargin
  }

  /** Banded hamming pairing replayed from the votes: same 4×16-bit bands,
    * same pigeonhole candidates, hamming as the sum of band popcounts. */
  private val duckSimhashPairs: String = {
    def bandExpr(t: Int): String = (0 until 16)
      .map(k => s"(CASE WHEN v_${16 * t + k} > 0 THEN ${1 << k} ELSE 0 END)")
      .mkString(" + ")
    val bandCols = (0 until SimhashBands).map(t => s"(${bandExpr(t)}) AS b$t").mkString(",\n    ")
    val unioned = (0 until SimhashBands)
      .map(t => s"SELECT doc_id, $t AS t, b$t AS bv FROM b")
      .mkString("\n  UNION ALL ")
    val hamming = (0 until SimhashBands)
      .map(t => s"bit_count(xor(x.b$t, y.b$t))").mkString(" + ")
    s"""$duckSimhashVotes,
       |b AS (
       |  SELECT doc_id,
       |    $bandCols
       |  FROM v),
       |e AS (
       |  $unioned),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, c.doc_id AS d2
       |  FROM e a JOIN e c ON a.t = c.t AND a.bv = c.bv AND a.doc_id < c.doc_id)
       |SELECT d1, d2, hamming FROM (
       |  SELECT d1, d2, CAST($hamming AS INT) AS hamming
       |  FROM cand JOIN b x ON x.doc_id = cand.d1
       |            JOIN b y ON y.doc_id = cand.d2)
       |WHERE hamming <= $SimhashMaxHamming ORDER BY d1, d2""".stripMargin
  }

  /** Shared recursive-CTE prefix: shingles → ≥0.5-Jaccard edges →
    * reachability (`r(node, reach)`), the fixpoint both cluster oracles
    * aggregate over.
    */
  private lazy val duckCCReach: String =
    s"""${duckShingles.replace("WITH nt AS", "WITH RECURSIVE nt AS")},
       |pairs AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS common
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |jp AS (
       |  SELECT d1, d2 FROM pairs
       |  JOIN cnt ca ON ca.doc_id = d1 JOIN cnt cb ON cb.doc_id = d2
       |  WHERE common * 1.0 / (ca.n + cb.n - common) >= 0.5),
       |e AS (SELECT d1 AS src, d2 AS dst FROM jp
       |      UNION ALL SELECT d2, d1 FROM jp),
       |r AS (
       |  SELECT doc_id AS node, doc_id AS reach FROM documents
       |  UNION
       |  SELECT r.node, e.dst FROM r JOIN e ON e.src = r.reach)""".stripMargin

  private val duckShingles =
    """WITH nt AS (
      |  SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
      |  FROM nt, UNNEST(range(1, GREATEST(len(toks) - 2, 1) + 1)) AS u(i)),
      |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)""".stripMargin

  override def oracle: Map[String, String] = Map(
    "dedup_exact" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    sha256(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS content_sha
        |  FROM documents)
        |SELECT doc_id, content_sha,
        |  MIN(doc_id) OVER (PARTITION BY content_sha) AS canonical_id,
        |  COUNT(*) OVER (PARTITION BY content_sha) AS n_copies
        |FROM h ORDER BY doc_id""".stripMargin,
    "dedup_exact_keep_longest" ->
      """WITH h AS (
        |  SELECT doc_id, n_chars,
        |    sha256(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS content_sha
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, content_sha, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY content_sha
        |                       ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM h)
        |SELECT doc_id, content_sha, n_chars FROM r WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""$duckShingles,
         |pairs AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS common
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT d1, d2, common, ca.n AS n1, cb.n AS n2,
         |  common * 1.0 / (ca.n + cb.n - common) AS jaccard
         |FROM pairs JOIN cnt ca ON ca.doc_id = d1 JOIN cnt cb ON cb.doc_id = d2
         |WHERE common * 1.0 / (ca.n + cb.n - common) >= 0.5
         |ORDER BY d1, d2""".stripMargin,
    // Valid by the equivalence argument on minhashLsh's scaladoc: exact-
    // verified candidates (precision 1.0) + total banding recall at ≥0.5 on
    // this corpus (spec-asserted at every SF) ⇒ the LSH output IS the exact
    // ≥0.5 pair set.
    "dedup_minhash_lsh" ->
      s"""$duckShingles,
         |pairs AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS common
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT d1, d2, common * 1.0 / (ca.n + cb.n - common) AS jaccard
         |FROM pairs JOIN cnt ca ON ca.doc_id = d1 JOIN cnt cb ON cb.doc_id = d2
         |WHERE common * 1.0 / (ca.n + cb.n - common) >= 0.5
         |ORDER BY d1, d2""".stripMargin,
    "dedup_simhash" -> duckSimhash,
    "dedup_simhash_pairs" -> duckSimhashPairs,
    "dedup_connected_components" ->
      s"""$duckCCReach
         |SELECT node AS doc_id, MIN(reach) AS cluster_id,
         |  (node = MIN(reach)) AS is_canonical
         |FROM r GROUP BY node ORDER BY doc_id""".stripMargin,
    "dedup_cluster_keep_best" ->
      s"""$duckCCReach,
         |m AS (SELECT node AS doc_id, MIN(reach) AS cluster_id FROM r GROUP BY node),
         |j AS (
         |  SELECT m.cluster_id, m.doc_id, d.n_chars
         |  FROM m JOIN documents d ON d.doc_id = m.doc_id),
         |rk AS (
         |  SELECT cluster_id, doc_id, n_chars,
         |    COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
         |    ROW_NUMBER() OVER (PARTITION BY cluster_id
         |                       ORDER BY n_chars DESC, doc_id) AS rn
         |  FROM j)
         |SELECT cluster_id, doc_id AS kept_doc_id, n_chars, cluster_size
         |FROM rk WHERE rn = 1 ORDER BY cluster_id""".stripMargin,
    "dedup_embedding_cosine" ->
      """WITH p AS (
        |  SELECT a.vec_id AS v1, b.vec_id AS v2
        |  FROM embeddings a JOIN embeddings b
        |    ON a.vec_id = b.vec_id
        |    OR list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                              CAST(b.embedding AS DOUBLE[])) >= 0.9)
        |SELECT v1 AS vec_id, MIN(v2) AS canonical_id, COUNT(*) - 1 AS n_near_dups
        |FROM p GROUP BY v1 ORDER BY vec_id""".stripMargin)
}
