package graft.functions

import graft.QueryPack
import graft.core.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text pipeline operators.
  *
  * Reference parity (SURVEY.md §2.3, §2.11):
  *  - TokenCountMapper + LongSumReducer (WordCount) → explode(split).groupBy.count
  *  - Grep (two chained MR jobs: regex-extract→sum, then swap→sort-desc) →
  *    one declarative plan; no intermediate HDFS materialization (the
  *    reference wrote the first job's output to disk — SURVEY §4.2).
  *  - Logalyzer (grep+sort) → filter(regexp)+orderBy (covered by grep here)
  *
  * Training-data extensions (north-star mandate): token counting (whitespace
  * and BPE-ish regex), language-ID by stopword profile, quality scoring,
  * document fingerprinting. All are narrow per-row ops or
  * explode→aggregate pipelines: at 100 TB they scan once, shuffle only
  * (token, partial-count) pairs, and stay in whole-stage codegen.
  */
object TextOps extends QueryPack {

  private def tokens(c: Column): Column = split(c, "\\s+")

  /** Non-empty lowercase tokens. */
  // array_remove, not filter(_ =!= ""): identical output on split() tokens
  // (split never yields nulls; both drop exactly the "" elements) but
  // array_remove participates in codegen where the filter lambda is a
  // CodegenFallback that kicks the WHOLE enclosing project out of
  // whole-stage codegen (round 22 — found by TextKernelsSpec's codegen pin)
  private def cleanToks: Column = array_remove(tokens(lower(col("text"))), "")

  /** Word bigrams of a token array (only full-width ones) — COMPOSED
    * REFERENCE FORM. The deployed path is the `word_bigrams` native kernel
    * ([[graft.expr.WordBigrams]]), bit-equal by TextKernelsSpec, which
    * holds this definition as the semantics; these HOFs evaluate
    * interpreted (CodegenFallback), which is why production callers use
    * the kernel.
    *
    * QUADRATIC-EVAL HAZARD (round 12, found by the decontam stress corpus):
    * `toks` is referenced INSIDE the index-transform lambda, and
    * higher-order functions evaluate interpreted with no common-
    * subexpression elimination — every lambda application re-evaluates the
    * whole `toks` expression tree. Pass a BOUND column (bind the array
    * with `.select(...as("toks"))` first) and each slice is an O(1) array
    * read; pass a composite like `cleanToks` (split+filter over the raw
    * text) and an n-token document costs O(n²) token work — measured 13
    * MINUTES for five 50k-token docs where the bound form takes
    * milliseconds. Same rule for every `slice(toks, i, …)` lambda in this
    * file and for [[graft.functions.DedupOps.shingledOf]] (already bound).
    * HofBindingSpec pins all callers.
    */
  private[graft] def bigramsOf(toks: Column): Column = filter(
    transform(
      sequence(lit(1), greatest(size(toks) - lit(1), lit(1))),
      i => concat_ws(" ", slice(toks, i, lit(2)))),
    b => size(split(b, " ")) === 2)

  /** Max per-word count as a run-length fold over the SORTED token array —
    * narrow, no (doc, word) shuffle. COMPOSED REFERENCE FORM for the
    * `rep_stats` kernel's top_word_n (TextKernelsSpec pins equality);
    * production callers use the kernel because `aggregate`/`array_sort`
    * HOFs evaluate interpreted per row. */
  private[graft] def topRunOf(toks: Column): Column = aggregate(
    array_sort(toks),
    struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
    (acc, x) => {
      val newRun = when(x === acc.getField("prev"), acc.getField("run") + lit(1L))
        .otherwise(lit(1L))
      struct(x.as("prev"), newRun.as("run"),
        greatest(acc.getField("best"), newRun).as("best"))
    },
    acc => acc.getField("best"))

  /** The [[qualityScore]] keep verdict as a single boolean column.
    * Use it on a frame read through [[graft.core.Tables]], whose load
    * installs [[graft.plans.GraftFunctions]]. */
  private def qualityKeepC: Column = {
    val toks = array_remove(tokens(col("text")), "")
    val nTokens = size(toks)
    val meanLen = (col("n_chars") - (nTokens - lit(1))).cast("double") / nTokens
    // count_in kernel ≡ size(filter(isin)) (TextKernelsSpec): the isin
    // lambda was an interpreted CodegenFallback per token
    val stopRatio = call_function("count_in", toks, typedLit(stopEn))
      .cast("double") / nTokens
    (nTokens >= 10) && (stopRatio >= 0.01) && (meanLen <= 12.0)
  }

  /** The [[repetitionStats]] keep verdict as a single boolean column, via
    * the one-pass `rep_stats` kernel (round 22 — the composed
    * `topRunOf`/`bigramsOf` HOFs ran interpreted per row; the kernel is
    * bit-equal by TextKernelsSpec and runs inside whole-stage codegen).
    * Use it on a frame read through [[graft.core.Tables]], whose load
    * installs [[graft.plans.GraftFunctions]]. */
  private def repetitionKeepC(toks: Column): Column = {
    val rs = call_function("rep_stats", toks)
    val topFrac = round(rs.getField("top_word_n").cast("double") / size(toks), 6)
    val dupBigramFrac = round(lit(1.0) - rs.getField("n_distinct_bigrams").cast("double") /
      greatest(rs.getField("n_bigrams"), lit(1L)), 6)
    topFrac <= 0.2 && dupBigramFrac <= 0.5
  }

  /** WordCount: the canonical pipeline. */
  def wordCount(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(explode(tokens($"text")).as("word"))
      .filter($"word" =!= "")
      .groupBy($"word").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"word")
  }

  /** Grep parity: extract-all(pattern) → count → sort desc (job2's swap+sort). */
  def grep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(explode(expr("regexp_extract_all(text, '(s\\\\w+k)', 1)")).as("match"))
      .groupBy($"match").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"match")
  }

  /** Token counting: whitespace tokens and BPE-ish regex tokens
    * (letter runs / digit runs / single other chars — the GPT-2 pre-tokenizer
    * shape without the library).
    */
  def tokenCount(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id",
        size(array_remove(tokens($"text"), "")).as("n_ws_tokens"),
        size(expr("regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\\\s]', 0)")).as("n_bpe_tokens"))
      .orderBy($"doc_id")
  }

  private val stopEn = Seq("the", "a", "of", "and", "to", "in", "is", "it")

  /** Quality scoring: length/token/stopword stats per document — the
    * classic pre-training filters (Gopher/C4-style), exact-arithmetic so the
    * oracle hash-matches: ratios are int-sum / int-count divisions.
    */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = array_remove(tokens($"text"), "")
    // count_in / count_longer kernels ≡ the composed size(filter(...))
    // forms (TextKernelsSpec) — the isin/length lambdas ran interpreted
    Tables.documents(spark, dir)
      .select($"doc_id", $"n_chars",
        size(toks).as("n_tokens"),
        call_function("count_in", toks, typedLit(stopEn)).as("n_stopwords"),
        call_function("count_longer", toks, lit(8)).as("n_long_tokens"))
      // zero-token docs: ratios are explicitly NULL on BOTH sides (Spark's
      // div-by-zero null vs DuckDB's IEEE inf/nan would otherwise diverge);
      // keep stays false either way (n_tokens >= 10 short-circuits)
      .withColumn("mean_token_len", when($"n_tokens" === 0, lit(null).cast("double"))
        .otherwise(($"n_chars" - ($"n_tokens" - lit(1))).cast("double") / $"n_tokens"))
      .withColumn("stopword_ratio", when($"n_tokens" === 0, lit(null).cast("double"))
        .otherwise($"n_stopwords".cast("double") / $"n_tokens"))
      .withColumn("keep",
        ($"n_tokens" >= 10) && ($"stopword_ratio" >= 0.01) && ($"mean_token_len" <= 12.0))
      .orderBy($"doc_id")
  }

  private val langStops: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "un"),
    "de" -> Seq("der", "die", "und", "das", "von", "mit", "den"))

  /** Language-ID: n-gram/stopword heuristic — count stopword hits per
    * language profile, pick argmax with fixed precedence (de<en<es<fr<zh,
    * 'und' = unknown when all scores are 0); CJK detected by codepoint class.
    * Deterministic, SQL-expressible, embarrassingly parallel.
    */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = array_remove(tokens($"text"), "")
    // count_in kernel per profile ≡ size(filter(isin)) (TextKernelsSpec):
    // five interpreted stopword lambdas per doc become five hash probes
    // per token inside whole-stage codegen
    val scoreCols = Seq(
      $"doc_id", $"lang".as("labeled_lang"),
      call_function("count_cp_range", $"text", lit(0x4e00), lit(0x9fff)).as("s_zh")) ++
      langStops.toSeq.sortBy(_._1).map { case (l, ws) =>
        call_function("count_in", toks, typedLit(ws)).as(s"s_$l")
      }
    // the round-21 scan fan-out is REMOVED (round 22): it existed for the
    // five interpreted stopword lambdas (~0.9 s fused); with the count_in
    // kernel the fused compute no longer fills the exchange it cost —
    // A/B: fan-out ON 0.68/0.78 s vs OFF 0.56/0.68 s warmed profile
    val scored = Tables.documents(spark, dir).select(scoreCols: _*)
    scored.withColumn("pred_lang",
      when($"s_zh" > 0, lit("zh"))
        .when(greatest($"s_de", $"s_en", $"s_es", $"s_fr") === lit(0), lit("und"))
        .when($"s_de" >= greatest($"s_en", $"s_es", $"s_fr"), lit("de"))
        .when($"s_en" >= greatest($"s_es", $"s_fr"), lit("en"))
        .when($"s_es" >= $"s_fr", lit("es"))
        .otherwise(lit("fr")))
      .select($"doc_id", $"labeled_lang", $"pred_lang")
      .orderBy($"doc_id")
  }

  /** Document fingerprinting: md5 of normalized text (exact-dup key) plus a
    * shingle-min fingerprint (min md5 over 3-token shingles — a 1-permutation
    * MinHash, stable under small edits).
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val norm = regexp_replace(trim(lower($"text")), "\\s+", " ")
    // min_md5_shingle kernel ≡ array_min(transform(shingles, md5))
    // (TextKernelsSpec): the composed form built the shingle array through
    // an interpreted transform, md5'd each shingle through the interpreted
    // HOF eval path, materialized 32-char hex strings per shingle and
    // scanned them with array_min — the kernel digests each window and
    // keeps the unsigned-min digest (hex order ≡ digest-byte order)
    // fan out: per-shingle md5 is still the dominant per-row cost —
    // re-A/B'd with the kernel live, kept (see OPTIMIZATION_r22.md)
    graft.core.Fanout.maybeFanout(Tables.documents(spark, dir), $"doc_id")
      .select($"doc_id", norm.as("norm"), tokens(norm).as("toks"))
      .select($"doc_id",
        md5($"norm").as("doc_md5"),
        call_function("min_md5_shingle", $"toks").as("shingle_min_md5"))
      .orderBy($"doc_id")
  }

  /** Top word bigrams per language — corpus n-gram profiling (the stats
    * behind language-model tokenizer/vocab work). Explode → count → per-key
    * top-k via window; at scale the bigram count is map-combined and only
    * (bigram, partial-count) pairs shuffle.
    */
  def ngramFreq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // bind the token array before the bigram lambda (quadratic-eval
    // hazard — see bigramsOf, whose width filter replaces the old
    // post-explode split-width check)
    val counts = Tables.documents(spark, dir)
      .select($"lang", array_remove(tokens(lower($"text")), "").as("toks"))
      // word_bigrams kernel ≡ the interpreted bigramsOf transform
      // (TextKernelsSpec), inside whole-stage codegen
      .select($"lang", explode(call_function("word_bigrams", $"toks")).as("bigram"))
      .groupBy($"lang", $"bigram").agg(count(lit(1)).as("n"))
    // bounded heap per lang: at corpus scale the per-language vocabulary is
    // unbounded — a window rank would shuffle and sort the whole vocabulary
    val topk = org.apache.spark.sql.functions.udaf(new TopKStrAgg(5))
    counts.groupBy($"lang")
      .agg(topk($"n".cast("double"), $"bigram").as("top"))
      .select($"lang", posexplode($"top"))
      .select($"lang", ($"pos" + 1).cast("int").as("rank"),
        $"col.key".as("bigram"), $"col.score".cast("long").as("n"))
      .orderBy($"lang", $"rank")
  }

  /** TF-IDF top-3 terms per document — the classic salience score a corpus
    * pipeline uses for keyword extraction / topic features. Two hash
    * aggregations (term frequency per doc, document frequency per term) and
    * one vocabulary-sized join; the corpus-wide doc count rides in as a
    * broadcast single row. Per-doc top-3 goes through the bounded-heap
    * [[TopKStrAgg]] — map-side heaps of ≤3 entries, never a full
    * (doc, vocab) window sort. Scores are rounded to 6dp BEFORE ranking so
    * Spark and the oracle rank identical values (ln differs in the last ulp
    * across engines; two mathematically-equal scores computed as tf·ln(N/df)
    * with different factors could otherwise order differently).
    *
    * At 100 TB: tf is the only corpus-sized shuffle (map-combined); df is
    * vocabulary-sized; the tf⋈df join shuffles on term with AQE free to
    * broadcast df when it fits.
    */
  def tfidf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val tf = docs.select($"doc_id", explode(cleanToks).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val nDocs = docs.select(countDistinct($"doc_id").as("n_docs"))
    val scored = tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", round($"tf" * log($"n_docs".cast("double") / $"df"), 6))
    val topk = udaf(new TopKStrAgg(3))
    scored.groupBy($"doc_id")
      .agg(topk($"tfidf", $"term").as("top"))
      .select($"doc_id", posexplode($"top"))
      .select($"doc_id", ($"pos" + 1).cast("int").as("rank"),
        $"col.key".as("term"), $"col.score".as("tfidf"))
      .orderBy($"doc_id", $"rank")
  }

  val CmDepth = 4
  val CmWidth = 256

  /** The count-min bucket family: row r hashes `term` to column
    * md5("r:term")[0:8] mod width. md5-derived like [[DedupOps.simhashSig]]
    * so the DuckDB oracle replays every cell bit-for-bit.
    */
  // COMPOSED REFERENCE FORM for the `cm_cells` kernel (TextKernelsSpec
  // pins equality); production uses the kernel — this form materializes a
  // 32-char hex string and base-16-parses 8 chars per (token × row)
  private[graft] def cmBuckets(term: Column): Column =
    array((0 until CmDepth).map { r =>
      struct(lit(r).as("r"),
        (conv(substring(md5(concat(lit(s"$r:"), term)), 1, 8), 16, 10)
          .cast("long") % CmWidth).as("c"))
    }: _*)

  /** Count-min sketch frequency estimation — the sublinear-memory
    * heavy-hitter primitive a 100 TB token-frequency pass uses when the
    * vocabulary doesn't fit (the exact groupBy here is web-scale n-grams
    * there). Depth×width = 4×256 counters; est(term) = min over rows of
    * its cell, always ≥ the true count (cells only ever overcount).
    *
    * Scale shape: the sketch build shuffles ≤ depth·width = 1024 cells no
    * matter the corpus size (map-combined groupBy on (r,c)); the probe
    * side broadcasts those 1024 cells into the vocabulary scan. The exact
    * count rides along as the audit column — the query IS the
    * sketch-vs-truth comparison a pipeline runs before trusting est.
    * OpsExtrasSpec asserts the never-undercount invariant.
    */
  def countMinFreq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // cm_cells kernel ≡ cmBuckets (TextKernelsSpec): digest bytes read
    // directly instead of hex-string materialization + conv re-parse per
    // (token × row); the md5 cells themselves are the declared result.
    // fan out: 4 md5 digests per token still dominate — measured and kept
    // (Fanout scaladoc; guide §2.5); cell counts are order-insensitive so
    // the fan-out is result-transparent
    val cmCells = call_function("cm_cells", $"term", lit(CmDepth), lit(CmWidth))
    val toks = graft.core.Fanout.maybeFanout(Tables.documents(spark, dir), $"doc_id")
      .select(explode(cleanToks).as("term"))
    val cells = toks
      .select(explode(cmCells).as("rc"))
      .groupBy($"rc.r".as("r"), $"rc.c".as("c"))
      .agg(count(lit(1)).as("cnt"))
    val exact = toks.groupBy($"term").agg(count(lit(1)).as("exact"))
    exact
      .select($"term", $"exact", explode(cmCells).as("rc"))
      .select($"term", $"exact", $"rc.r".as("r"), $"rc.c".as("c"))
      .join(broadcast(cells), Seq("r", "c"))
      .groupBy($"term", $"exact")
      .agg(min($"cnt").as("est"))
      .orderBy($"term")
  }

  /** Statistical LM quality score — the CCNet-style perplexity filter, here
    * with an add-1-smoothed bigram model trained on the corpus itself (the
    * in-domain self-scoring pass that flags outlier documents). Per doc:
    * mean over its bigrams of ln((c(w1 w2)+1) / (c(w1)+V)).
    *
    * Scale shape: the model is two vocabulary-sized map-combined
    * aggregations (bigram and unigram counts) — the corpus shuffles only
    * token keys, never documents; scoring joins the doc's bigram stream to
    * the model on those keys (AQE broadcasts the model when it fits, the
    * usual case — a 1M-type vocabulary is MBs). The per-doc mean goes
    * through decimal so the sum is order-independent: engines' ln differs
    * in the last ulp, which decimal(28,12) quantization absorbs long
    * before the 6dp output.
    *
    * The regex tokenization is the dominant per-row cost and three
    * consumers need the token stream (bigram counts, unigram counts, doc
    * scoring), so the token arrays are materialized ONCE via
    * localCheckpoint and every consumer reads the cached partitions
    * (measured 4.64 → 1.30 s at sf0.1). |V| falls out of the unigram
    * model's row count — no separate countDistinct corpus pass. The
    * materialization is corpus-sized (same tradeoff as any persisted
    * tokenization stage); at 100 TB either spill-backed storage covers it
    * or the checkpoint is dropped and tokenization recomputed — a
    * CPU-vs-storage dial, not a plan change.
    */
  def bigramLmScore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val docs = Tables.documents(spark, dir)
    val toksDf = docs.select($"doc_id", cleanToks.as("toks")).localCheckpoint()
    // word_bigrams kernel, not the interpreted bigramsOf transform (round
    // 22, guide §4): the bigram stream is derived TWICE from the
    // checkpointed tokens (model counts + doc scoring), so the per-row
    // interpreted lambda cost was paid on both subtrees — profile: the two
    // stages deriving it were 0.72 s + 0.43 s of this query's 1.6 s wall.
    // Bit-equal by the kernel contract (TextKernelsSpec).
    val docBigrams = toksDf.select($"doc_id",
      explode(call_function("word_bigrams", $"toks")).as("bigram"))
    val bg = docBigrams.groupBy($"bigram").agg(count(lit(1)).as("c2"))
    val uni = toksDf.select(explode($"toks").as("w1"))
      .groupBy($"w1").agg(count(lit(1)).as("c1"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    // fold counts + smoothing + ln into ONE vocabulary-sized model table
    // (logp per distinct bigram, computed once) — the corpus-side bigram
    // stream then makes a single model join instead of a bigram join, a
    // unigram join and a per-occurrence ln
    val model = bg
      .withColumn("w1", split($"bigram", " ")(0))
      .join(uni, "w1")
      .crossJoin(broadcast(vocab))
      .select($"bigram", log(($"c2" + 1).cast("double") / ($"c1" + $"v")).as("logp"))
    docBigrams
      // no broadcast HINT on the model: a forced BroadcastExchange holds
      // the whole probe stage behind the driver collect and measured ~60%
      // SLOWER here (7.7s vs 4.6s at sf0.1); AQE already flips the post-
      // shuffle join to broadcast-hash when runtime stats show the model
      // is small, without serializing the stages
      .join(model, "bigram")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        (sum($"logp".cast(DecimalType(28, 12))).cast("double") /
          count(lit(1))).as("alp"))
      .select($"doc_id", $"n_bigrams", round($"alp", 6).as("avg_logp"))
      .orderBy($"doc_id")
  }

  /** Deterministic train/val/test split — the assignment a training
    * pipeline must hold stable across runs, engines, and cluster sizes so
    * a document never migrates between splits (eval leakage). Bucket =
    * first md5 byte of the doc id; hex-string thresholds ('e6' = 230/256 ≈
    * 90%, 'f3' = 243/256 ≈ +5%) compare identically in every engine, no
    * hex-to-int conversion needed. Pure narrow map — no shuffle at any
    * scale.
    */
  def trainSplit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bucket = substring(md5($"doc_id".cast("string")), 1, 2)
    Tables.documents(spark, dir)
      .select($"doc_id", $"lang", bucket.as("bucket"),
        when(bucket < "e6", "train")
          .when(bucket < "f3", "val")
          .otherwise("test").as("split"))
      .orderBy($"doc_id")
  }

  /** md5-order selection key (md5(doc_id) ‖ zero-padded doc_id): with a
    * constant score the heap keeps the k smallest keys in UTF-8 order;
    * doc_id zero-padded to the max long width (19 digits) so string order
    * == numeric order on the tiebreak and the round-trip never truncates.
    * [[selKeyDocId]] is the inverse; the 32+19 layout lives only here.
    */
  private def selKeyC: Column = concat(md5(col("doc_id").cast("string")),
    lpad(col("doc_id").cast("string"), 19, "0"))

  /** Recover doc_id from a [[selKeyC]] value. */
  private def selKeyDocId(key: Column): Column =
    substring(key, 33, 19).cast("bigint")

  /** Class-balanced subsample: cap each language at 30 documents, chosen
    * by md5 order (deterministic, unbiased w.r.t. content). The per-class
    * selection uses the bounded-heap [[TopKStrAgg]] over a fixed-width
    * (md5 ‖ zero-padded doc_id) sort key — map-side heaps keep ≤ 30 rows
    * per (lang, partition) in flight, where a per-class row_number window
    * would shuffle every document. The oracle is the window form, holding
    * the heap to the declarative semantics.
    */
  def balancedSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cap = 30
    val topk = org.apache.spark.sql.functions.udaf(new TopKStrAgg(cap))
    Tables.documents(spark, dir)
      .groupBy($"lang")
      .agg(topk(lit(0.0), selKeyC).as("sel"))
      .select($"lang", posexplode($"sel"))
      .select($"lang", ($"pos" + 1).cast("int").as("rank"),
        selKeyDocId($"col.key").as("doc_id"))
      .orderBy($"lang", $"rank")
  }

  /** Domain reweighting (source-mix resampling): draw a half-corpus budget
    * split equally across `source` domains, each domain capped at its
    * availability — the deterministic skeleton of DoReMi-style mix tuning,
    * where the weights come from a model instead of uniform. Selection
    * within a domain is by md5 order (deterministic, content-unbiased,
    * engine-stable), like [[balancedSample]] but with DATA-DEPENDENT
    * quotas: per-source counts come back to the driver first (tiny model
    * state, one row per domain — the kmeansCentroids pattern), then one
    * bounded-heap pass selects. Map-side heaps keep ≤ 2×max-quota rows per
    * (source, partition) with O(1) amortized inserts (see BoundedTopK);
    * the corpus itself never wide-shuffles.
    */
  def sourceMixResample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val counts = docs.groupBy($"source").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    val budget = counts.map(_._2).sum / 2
    val base = budget / counts.size
    val quotas = counts.map { case (s, n) => (s, math.min(n, base)) }
    val capMax = quotas.map(_._2).max.toInt
    val topk = org.apache.spark.sql.functions.udaf(new TopKStrAgg(capMax))
    docs.groupBy($"source")
      .agg(topk(lit(0.0), selKeyC).as("sel"))
      .select($"source", posexplode($"sel"))
      .select($"source", ($"pos" + 1).cast("long").as("rank"),
        selKeyDocId($"col.key").as("doc_id"))
      .join(broadcast(quotas.toSeq.toDF("source", "quota")), Seq("source"))
      .filter($"rank" <= $"quota")
      .select($"source", $"rank".cast("int").as("rank"), $"doc_id")
      .orderBy($"source", $"rank")
  }

  /** Per-corpus-doc count of distinct 3-gram overlaps with the eval set —
    * the shared core of [[decontaminate]] and [[corpusSelect]]. */
  private def evalOverlaps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    // shingledOf binds the token array before the shingle lambda — the
    // linear form (see bigramsOf's quadratic-eval hazard note; this site
    // cost O(tokens²) per doc until round 12, invisible at gate doc sizes,
    // 13 min for five 50k-token eval docs on the decontam stress corpus)
    val evalGrams = DedupOps.shingledKernelOf(docs.filter($"doc_id" < 5))
      .select($"shingle").distinct()
    val corpus = DedupOps.shingledKernelOf(docs.filter($"doc_id" >= 5))
    val matched =
      if (!graft.core.Knobs.TextDecontamBloom(spark)) corpus.join(broadcast(evalGrams), Seq("shingle"))
      else {
        // checkpoint: the gram set feeds the count, the bloom build, and
        // the exact join — one computation, ContextCleaner-managed blocks
        val g = evalGrams.localCheckpoint(true)
        // the filter is built over xxhash64(gram) LONGS and probed by the
        // native `bloom_probe` kernel (graft.expr.BloomProbe — Spark's
        // BloomFilterMightContain semantics with the filter as a compact
        // expression FIELD, so plan strings don't render the filter as
        // megabytes of hex) — the probe stays inside the scan stage's
        // whole-stage codegen instead of boxing every corpus shingle
        // through a ScalaUDF (r12 verdict #3; this is the single
        // hottest row stream in the engine when the knob is on). Hashing
        // to 8-byte longs also shrinks the shipped filter input; the fpp
        // budget is unchanged and false positives still die in the exact
        // string join below, so correctness stays knob-independent
        // (ExactnessSpec).
        val bf = g.select(xxhash64($"shingle").as("h"))
          .stat.bloomFilter("h", math.max(g.count(), 1L), 0.01)
        val bytes = {
          val bos = new java.io.ByteArrayOutputStream()
          bf.writeTo(bos)
          bos.toByteArray
        }
        // the probe rides the scan stage: the ~99% of corpus shingles that
        // miss the eval set die before the (now possibly shuffled) exact
        // join ever sees them
        corpus.filter(call_function("bloom_probe", lit(bytes), xxhash64($"shingle")))
          .join(g, Seq("shingle"))
      }
    matched
      .distinct() // matched slice only — the full shingle stream never shuffles
      .groupBy($"doc_id").agg(count(lit(1)).as("n_overlap"))
  }

  /** Benchmark decontamination: flag corpus documents that share 3-token
    * shingles with an evaluation set (doc_id < 5 stands in for the held-out
    * benchmark). The classic eval-leakage gate every pre-training pipeline
    * runs before a data release.
    *
    * 100 TB shape: the eval side is SMALL by nature (benchmarks are finite)
    * — its distinct n-grams broadcast, and the corpus-side RAW shingle
    * stream meets them in a narrow broadcast hash join, so only the MATCHED
    * slice is ever distinct'd/shuffled; the corpus itself is one scan with
    * no wide exchange. When the eval-gram set outgrows the broadcast budget
    * the join degrades to a SHUFFLE of the full corpus shingle stream — the
    * dominant cost at 100 TB, and almost all of it misses. The
    * `graft.text.decontam.bloom` path (round 12, r11 verdict #3) is built
    * for that regime: a bloom filter over the eval grams — ~10 bits per
    * gram at 1% fpp vs ~25 B per broadcast string, so it fits executors
    * long after the string set doesn't — sits in the corpus-side SCAN
    * stage and kills misses before any exchange; the surviving ~matches+1%
    * then meet the eval grams in a hint-free exact join (AQE picks the
    * strategy), so false positives cannot reach the output. Correctness is
    * knob-independent (ExactnessSpec), the bloom-below-join plan shape is
    * PlanSpec-pinned, and the outgrown-broadcast A/B is in SCALE.md
    * round 12.
    */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).filter($"doc_id" >= 5).select($"doc_id")
      .join(evalOverlaps(spark, dir), Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"n_overlap", lit(0L)).as("n_overlap"))
      .withColumn("contaminated", $"n_overlap" >= 3) // tunable strictness
      .orderBy($"doc_id")
  }

  /** THE end-to-end pipeline query: the keep/drop verdict that materializes
    * a training corpus — quality × repetition × decontamination × exact
    * dedup (canonical-copy-only), composed the way a release pipeline runs
    * them. Fused into ONE corpus scan for the three narrow verdicts plus a
    * sha-window for the dedup verdict (1 shuffle) and the broadcast-join
    * overlap count (matched slice only) — not four separate passes; at
    * 100 TB the scan is the dominant cost and it happens once.
    */
  def corpusSelect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"content_sha")
    Tables.documents(spark, dir).filter($"doc_id" >= 5)
      // the bound token array feeds the quality AND repetition verdicts
      .withColumn("toks", cleanToks)
      // empty docs carry no quality/repetition verdicts (0/0 fractions) and
      // the oracle's inner join to the repetition CTE drops them — mirror it
      .filter(size($"toks") >= 1)
      .withColumn("pass_quality", qualityKeepC)
      .withColumn("pass_repetition", repetitionKeepC($"toks"))
      .withColumn("content_sha", DedupOps.contentSha)
      .withColumn("pass_dedup", $"doc_id" === min($"doc_id").over(w))
      .join(evalOverlaps(spark, dir), Seq("doc_id"), "left")
      .withColumn("pass_decontamination", coalesce($"n_overlap", lit(0L)) < 3)
      .withColumn("keep", $"pass_quality" && $"pass_repetition" &&
        $"pass_decontamination" && $"pass_dedup")
      .select($"doc_id", $"pass_quality", $"pass_repetition",
        $"pass_decontamination", $"pass_dedup", $"keep")
      .orderBy($"doc_id")
  }

  /** Gopher-style repetition metrics per document: duplicate-word fraction,
    * top-word fraction, duplicate-bigram fraction, and the keep/drop
    * verdict. Entirely NARROW — duplicate fractions via `array_distinct`,
    * and the top-word count via a run-length fold (`aggregate`) over the
    * SORTED token array, all inside whole-stage codegen: zero shuffles at
    * any corpus size (the declarative alternative — two-level groupBy on
    * (doc, word) — shuffles every token; per-row arrays are bounded by
    * document length, which is the right budget). The oracle IS that
    * two-level groupBy form in DuckDB, holding the fold to the declarative
    * semantics.
    */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // all five statistics from ONE pass over the token array via the
    // `rep_stats` kernel (round 22, guide §4): the composed form paid an
    // interpreted index-transform per bigram, two array_distincts, an
    // array_sort and an interpreted run-length fold per document —
    // per-row CPU at any scale (the round-21 fan-out only spread it over
    // local cores). Bit-equal by the kernel contract (TextKernelsSpec);
    // subexpression elimination evaluates the struct once per row.
    // Measured (fan-out OFF, single scan task, warmed profile, sf0.1):
    // HOF form 1.59–1.91 s → kernel 0.71–0.76 s. The round-21 fan-out is
    // REMOVED here: with the interpreted kernels gone it measured
    // flat-to-worse (ON 0.79–0.84 vs OFF 0.66–0.76 s — the added exchange
    // now costs more than the remaining fused compute), and dropping it
    // deletes a corpus exchange the gate no longer needs at any scale.
    Tables.documents(spark, dir)
      .withColumn("toks", cleanToks)
      // zero-token docs have no repetition fractions (0/0) and no rows in
      // the oracle's token-stream CTEs — drop them on BOTH sides
      .filter(size($"toks") >= 1)
      .withColumn("rs", call_function("rep_stats", $"toks"))
      .select($"doc_id",
        $"rs.n_tokens".as("n_tokens"),
        $"rs.n_distinct_words".as("n_distinct_words"),
        $"rs.n_bigrams".as("n_bigrams"),
        $"rs.n_distinct_bigrams".as("n_distinct_bigrams"),
        // max per-word count == max run length over the sorted tokens
        $"rs.top_word_n".as("top_word_n"))
      .withColumn("dup_word_frac",
        round(lit(1.0) - $"n_distinct_words".cast("double") / $"n_tokens", 6))
      .withColumn("top_word_frac",
        round($"top_word_n".cast("double") / $"n_tokens", 6))
      .withColumn("dup_bigram_frac",
        round(lit(1.0) - $"n_distinct_bigrams".cast("double") /
          greatest($"n_bigrams", lit(1L)), 6))
      .withColumn("keep", $"top_word_frac" <= 0.2 && $"dup_bigram_frac" <= 0.5)
      .orderBy($"doc_id")
  }

  /** Sequence chunking, concatenate-then-cut style: lay the corpus's
    * tokens out in stable doc_id order and cut a training row every 512
    * tokens — `seq_id` is the training row containing each document's
    * FIRST token. Documents may straddle row boundaries (exactly how LLM
    * pipelines pack: concatenate, then split at the budget), so a row can
    * carry the tail of the straddling document beyond the cut; seq_id
    * answers "which row does this document start in".
    *
    * The cumulative token count is a DISTRIBUTED PREFIX SCAN — the one
    * primitive Spark's declarative surface lacks. Both passes (partition
    * totals, running emit) run over the SAME cached RDD: RangePartitioner
    * seeds its boundary sampling with the rdd id, so two separately
    * planned RDDs could range-partition differently at scale and the
    * offsets would land on the wrong partitions. One shuffle, one small
    * totals job, one `mapPartitionsWithIndex` emit — the declarative
    * alternative (an unpartitioned running-sum window) moves the corpus
    * through one reducer.
    */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val budget = 512L
    val base = Tables.documents(spark, dir)
      .select($"doc_id",
        size(array_remove(tokens($"text"), "")).cast("long").as("n_tokens"))
      .repartitionByRange($"doc_id")
      .sortWithinPartitions($"doc_id")
      .rdd
    // RDD-level persist (NOT a SQL CacheManager entry): both passes below
    // share one materialization, and the blocks are released by the
    // ContextCleaner once the returned DataFrame (whose lineage holds the
    // only reference) is garbage-collected — no unbounded accumulation
    // across repeated invocations.
    base.cache()
    val totals = base
      .mapPartitionsWithIndex((pid, it) =>
        Iterator(pid -> it.map(_.getLong(1)).sum))
      .collect().toMap
    val offsets = (0 until base.getNumPartitions)
      .scanLeft(0L)((acc, p) => acc + totals.getOrElse(p, 0L))
    val bOff = spark.sparkContext.broadcast(offsets)
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("n_tokens", LongType, nullable = false),
      StructField("cum_tokens", LongType, nullable = false),
      StructField("seq_id", LongType, nullable = false)))
    val rows = base.mapPartitionsWithIndex { (pid, it) =>
      var cum = bOff.value(pid)
      it.map { r =>
        val n = r.getLong(1)
        cum += n
        Row(r.getLong(0), n, cum, (cum - n) / budget)
      }
    }
    spark.createDataFrame(rows, schema).orderBy($"doc_id")
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_corpus_select" -> (corpusSelect _),
    "text_decontaminate" -> (decontaminate _),
    "text_repetition_stats" -> (repetitionStats _),
    "text_source_mix_resample" -> (sourceMixResample _),
    "text_pack_sequences" -> (packSequences _),
    "text_train_split" -> (trainSplit _),
    "text_balanced_sample" -> (balancedSample _),
    "text_ngram_freq" -> (ngramFreq _),
    "text_tfidf" -> (tfidf _),
    "text_countmin" -> (countMinFreq _),
    "text_bigram_lm_score" -> (bigramLmScore _),
    "text_wordcount" -> (wordCount _),
    "text_grep" -> (grep _),
    "text_token_count" -> (tokenCount _),
    "text_quality_score" -> (qualityScore _),
    "text_lang_id" -> (langId _),
    "text_fingerprint" -> (fingerprint _))

  private val duckToks = "list_filter(string_split_regex(text, '\\s+'), t -> t <> '')"

  override def oracle: Map[String, String] = Map(
    "text_corpus_select" ->
      s"""WITH nt AS (
         |  SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS toks
         |  FROM documents),
         |sh AS (
         |  SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
         |  FROM nt, UNNEST(range(1, GREATEST(len(toks) - 2, 1) + 1)) AS u(i)),
         |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 5),
         |ov AS (
         |  SELECT s.doc_id, COUNT(*) AS n_overlap
         |  FROM sh s JOIN ev USING (shingle) WHERE s.doc_id >= 5 GROUP BY 1),
         |tl AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
         |  FROM documents WHERE doc_id >= 5),
         |w AS (
         |  SELECT doc_id, tok, COUNT(*) AS c
         |  FROM tl, UNNEST(toks) AS u(tok) GROUP BY 1, 2),
         |ws AS (
         |  SELECT doc_id, SUM(c) AS n_tokens, MAX(c) AS top_word_n
         |  FROM w GROUP BY doc_id),
         |bg AS (
         |  SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS bigram
         |  FROM tl, UNNEST(range(1, GREATEST(len(toks) - 1, 1) + 1)) AS u(i)
         |  WHERE len(toks) >= 2 AND i <= len(toks) - 1),
         |bs AS (
         |  SELECT doc_id, COUNT(*) AS n_bigrams,
         |    COUNT(DISTINCT bigram) AS n_distinct_bigrams
         |  FROM bg GROUP BY doc_id),
         |rep AS (
         |  SELECT ws.doc_id,
         |    (ROUND(CAST(top_word_n AS DOUBLE) / n_tokens, 6) <= 0.2
         |     AND ROUND(1.0 - CAST(COALESCE(bs.n_distinct_bigrams, 0) AS DOUBLE)
         |               / GREATEST(COALESCE(bs.n_bigrams, 0), 1), 6) <= 0.5) AS pass_repetition
         |  FROM ws LEFT JOIN bs ON ws.doc_id = bs.doc_id),
         |qt AS (
         |  SELECT doc_id,
         |    CAST(len($duckToks) AS INT) AS n_tokens,
         |    CAST(len(list_filter($duckToks,
         |      t -> t IN ('the','a','of','and','to','in','is','it'))) AS INT) AS n_stopwords,
         |    n_chars
         |  FROM documents WHERE doc_id >= 5),
         |qual AS (
         |  SELECT doc_id,
         |    (n_tokens >= 10 AND CAST(n_stopwords AS DOUBLE) / n_tokens >= 0.01
         |     AND CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens <= 12.0) AS pass_quality
         |  FROM qt),
         |dd AS (
         |  SELECT doc_id,
         |    sha256(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS content_sha
         |  FROM documents WHERE doc_id >= 5),
         |ded AS (
         |  SELECT doc_id,
         |    doc_id = MIN(doc_id) OVER (PARTITION BY content_sha) AS pass_dedup
         |  FROM dd)
         |SELECT qual.doc_id, pass_quality, pass_repetition,
         |  COALESCE(ov.n_overlap, 0) < 3 AS pass_decontamination, pass_dedup,
         |  (pass_quality AND pass_repetition AND COALESCE(ov.n_overlap, 0) < 3
         |   AND pass_dedup) AS keep
         |FROM qual JOIN rep USING (doc_id) JOIN ded USING (doc_id)
         |LEFT JOIN ov ON ov.doc_id = qual.doc_id
         |ORDER BY qual.doc_id""".stripMargin,
    "text_decontaminate" ->
      """WITH nt AS (
        |  SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
        |  FROM nt, UNNEST(range(1, GREATEST(len(toks) - 2, 1) + 1)) AS u(i)),
        |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 5),
        |ov AS (
        |  SELECT s.doc_id, COUNT(*) AS n_overlap
        |  FROM sh s JOIN ev USING (shingle) WHERE s.doc_id >= 5 GROUP BY 1)
        |SELECT d.doc_id, COALESCE(ov.n_overlap, 0) AS n_overlap,
        |  COALESCE(ov.n_overlap, 0) >= 3 AS contaminated
        |FROM documents d LEFT JOIN ov USING (doc_id)
        |WHERE d.doc_id >= 5 ORDER BY doc_id""".stripMargin,
    "text_source_mix_resample" ->
      """WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
        |p AS (SELECT (SELECT SUM(n) FROM c) // 2 AS b,
        |             (SELECT COUNT(*) FROM c) AS ns),
        |q AS (SELECT source, LEAST(n, (SELECT b // ns FROM p)) AS quota FROM c),
        |k AS (
        |  SELECT source, doc_id,
        |    md5(CAST(doc_id AS VARCHAR)) || lpad(CAST(doc_id AS VARCHAR), 19, '0') AS key
        |  FROM documents),
        |r AS (
        |  SELECT source, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY key) AS rank
        |  FROM k)
        |SELECT r.source AS source, CAST(rank AS INT) AS rank, doc_id
        |FROM r JOIN q ON r.source = q.source
        |WHERE rank <= quota ORDER BY r.source, rank""".stripMargin,
    "text_repetition_stats" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, tok, COUNT(*) AS c
        |  FROM t, UNNEST(toks) AS u(tok) GROUP BY 1, 2),
        |ws AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |    CAST(COUNT(*) AS BIGINT) AS n_distinct_words,
        |    CAST(MAX(c) AS BIGINT) AS top_word_n
        |  FROM w GROUP BY doc_id),
        |b AS (
        |  SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS bigram
        |  FROM t, UNNEST(range(1, GREATEST(len(toks) - 1, 1) + 1)) AS u(i)
        |  WHERE len(toks) >= 2 AND i <= len(toks) - 1),
        |bs AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |    CAST(COUNT(DISTINCT bigram) AS BIGINT) AS n_distinct_bigrams
        |  FROM b GROUP BY doc_id),
        |j AS (
        |  SELECT ws.doc_id, n_tokens, n_distinct_words,
        |    COALESCE(bs.n_bigrams, 0) AS n_bigrams,
        |    COALESCE(bs.n_distinct_bigrams, 0) AS n_distinct_bigrams,
        |    top_word_n
        |  FROM ws LEFT JOIN bs ON ws.doc_id = bs.doc_id)
        |SELECT doc_id, n_tokens, n_distinct_words, n_bigrams, n_distinct_bigrams,
        |  top_word_n,
        |  ROUND(1.0 - CAST(n_distinct_words AS DOUBLE) / n_tokens, 6) AS dup_word_frac,
        |  ROUND(CAST(top_word_n AS DOUBLE) / n_tokens, 6) AS top_word_frac,
        |  ROUND(1.0 - CAST(n_distinct_bigrams AS DOUBLE) / GREATEST(n_bigrams, 1), 6) AS dup_bigram_frac,
        |  (ROUND(CAST(top_word_n AS DOUBLE) / n_tokens, 6) <= 0.2
        |   AND ROUND(1.0 - CAST(n_distinct_bigrams AS DOUBLE) / GREATEST(n_bigrams, 1), 6) <= 0.5) AS keep
        |FROM j ORDER BY doc_id""".stripMargin,
    "text_pack_sequences" ->
      s"""WITH t AS (
         |  SELECT doc_id, CAST(len($duckToks) AS BIGINT) AS n_tokens
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(SUM(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
         |  FROM t)
         |SELECT doc_id, n_tokens, cum_tokens,
         |  CAST((cum_tokens - n_tokens) // 512 AS BIGINT) AS seq_id
         |FROM c ORDER BY doc_id""".stripMargin,
    "text_train_split" ->
      """SELECT doc_id, lang,
        |  substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'train'
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'f3' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_balanced_sample" ->
      """WITH k AS (
        |  SELECT lang, doc_id,
        |    md5(CAST(doc_id AS VARCHAR)) || lpad(CAST(doc_id AS VARCHAR), 19, '0') AS key
        |  FROM documents),
        |r AS (
        |  SELECT lang, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY key) AS rank
        |  FROM k)
        |SELECT lang, CAST(rank AS INT) AS rank, doc_id
        |FROM r WHERE rank <= 30 ORDER BY lang, rank""".stripMargin,
    "text_ngram_freq" ->
      """WITH t AS (
        |  SELECT lang, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |b AS (
        |  SELECT lang, array_to_string(toks[i:i+1], ' ') AS bigram
        |  FROM t, UNNEST(range(1, GREATEST(len(toks) - 1, 1) + 1)) AS u(i)
        |  WHERE len(toks) >= 2 AND i <= len(toks) - 1),
        |c AS (SELECT lang, bigram, COUNT(*) AS n FROM b GROUP BY lang, bigram),
        |r AS (SELECT lang, bigram, n,
        |        ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS rank
        |      FROM c)
        |SELECT lang, CAST(rank AS INT) AS rank, bigram, n
        |FROM r WHERE rank <= 5 ORDER BY lang, rank""".stripMargin,
    "text_bigram_lm_score" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS bigram
        |  FROM t, UNNEST(range(1, GREATEST(len(toks) - 1, 1) + 1)) AS u(i)
        |  WHERE len(toks) >= 2 AND i <= len(toks) - 1),
        |bg AS (SELECT bigram, COUNT(*) AS c2 FROM b GROUP BY bigram),
        |u1 AS (
        |  SELECT UNNEST(toks) AS w1 FROM t),
        |uni AS (SELECT w1, COUNT(*) AS c1 FROM u1 GROUP BY w1),
        |v AS (SELECT COUNT(DISTINCT w1) AS v FROM u1),
        |s AS (
        |  SELECT b.doc_id,
        |    ln(CAST(bg.c2 + 1 AS DOUBLE) / (uni.c1 + v.v)) AS logp
        |  FROM b JOIN bg USING (bigram)
        |         JOIN uni ON uni.w1 = string_split(b.bigram, ' ')[1]
        |         CROSS JOIN v)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  ROUND(CAST(SUM(CAST(logp AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6) AS avg_logp
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_countmin" ->
      """WITH tk AS (
        |  SELECT UNNEST(list_filter(string_split_regex(lower(text), '\s+'),
        |    t -> t <> '')) AS term
        |  FROM documents),
        |rc AS (
        |  SELECT term, r,
        |    CAST('0x' || substr(md5(concat(CAST(r AS VARCHAR), ':', term)), 1, 8)
        |      AS BIGINT) % 256 AS c
        |  FROM tk, UNNEST(range(0, 4)) AS u(r)),
        |cells AS (SELECT r, c, COUNT(*) AS cnt FROM rc GROUP BY r, c),
        |exact AS (SELECT term, COUNT(*) AS exact FROM tk GROUP BY term),
        |probe AS (
        |  SELECT e.term, e.exact, r,
        |    CAST('0x' || substr(md5(concat(CAST(r AS VARCHAR), ':', e.term)), 1, 8)
        |      AS BIGINT) % 256 AS c
        |  FROM exact e, UNNEST(range(0, 4)) AS u(r))
        |SELECT p.term, p.exact, MIN(cells.cnt) AS est
        |FROM probe p JOIN cells ON cells.r = p.r AND cells.c = p.c
        |GROUP BY p.term, p.exact ORDER BY p.term""".stripMargin,
    "text_tfidf" ->
      """WITH tk AS (
        |  SELECT doc_id, UNNEST(list_filter(string_split_regex(lower(text), '\s+'),
        |    t -> t <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tk GROUP BY doc_id, term),
        |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
        |s AS (SELECT doc_id, tf.term,
        |        ROUND(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
        |      FROM tf JOIN dfq USING (term) CROSS JOIN n),
        |r AS (SELECT doc_id, term, tfidf,
        |        ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
        |      FROM s)
        |SELECT doc_id, CAST(rank AS INT) AS rank, term, tfidf
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "text_wordcount" ->
      """SELECT word, COUNT(*) AS n
        |FROM (SELECT UNNEST(string_split_regex(text, '\s+')) AS word FROM documents)
        |WHERE word <> '' GROUP BY word ORDER BY n DESC, word""".stripMargin,
    "text_grep" ->
      """SELECT m AS match, COUNT(*) AS n
        |FROM (SELECT UNNEST(regexp_extract_all(text, '(s\w+k)', 1)) AS m FROM documents)
        |GROUP BY m ORDER BY n DESC, m""".stripMargin,
    "text_token_count" ->
      s"""SELECT doc_id,
         |  CAST(len($duckToks) AS INT) AS n_ws_tokens,
         |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]', 0)) AS INT) AS n_bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,
    "text_quality_score" ->
      s"""WITH t AS (
         |  SELECT doc_id, n_chars,
         |    CAST(len($duckToks) AS INT) AS n_tokens,
         |    CAST(len(list_filter($duckToks,
         |      t -> t IN ('the','a','of','and','to','in','is','it'))) AS INT) AS n_stopwords,
         |    CAST(len(list_filter($duckToks, t -> len(t) > 8)) AS INT) AS n_long_tokens
         |  FROM documents)
         |SELECT doc_id, n_chars, n_tokens, n_stopwords, n_long_tokens,
         |  CASE WHEN n_tokens = 0 THEN NULL
         |       ELSE CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens END AS mean_token_len,
         |  CASE WHEN n_tokens = 0 THEN NULL
         |       ELSE CAST(n_stopwords AS DOUBLE) / n_tokens END AS stopword_ratio,
         |  (n_tokens >= 10 AND CAST(n_stopwords AS DOUBLE) / n_tokens >= 0.01
         |   AND CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens <= 12.0) AS keep
         |FROM t ORDER BY doc_id""".stripMargin,
    "text_lang_id" ->
      s"""WITH s AS (
         |  SELECT doc_id, lang AS labeled_lang,
         |    len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]', 0)) AS s_zh,
         |    len(list_filter($duckToks, t -> t IN ('der','die','und','das','von','mit','den'))) AS s_de,
         |    len(list_filter($duckToks, t -> t IN ('the','and','of','to','a','in','is'))) AS s_en,
         |    len(list_filter($duckToks, t -> t IN ('el','la','de','que','y','en','los'))) AS s_es,
         |    len(list_filter($duckToks, t -> t IN ('le','la','de','et','les','des','un'))) AS s_fr
         |  FROM documents)
         |SELECT doc_id, labeled_lang,
         |  CASE WHEN s_zh > 0 THEN 'zh'
         |       WHEN GREATEST(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
         |       WHEN s_de >= GREATEST(s_en, s_es, s_fr) THEN 'de'
         |       WHEN s_en >= GREATEST(s_es, s_fr) THEN 'en'
         |       WHEN s_es >= s_fr THEN 'es'
         |       ELSE 'fr' END AS pred_lang
         |FROM s ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      """WITH n AS (
        |  SELECT doc_id, regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS norm
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, norm, string_split(norm, ' ') AS toks FROM n)
        |SELECT doc_id, md5(norm) AS doc_md5,
        |  list_min(list_transform(
        |    list_transform(range(1, GREATEST(len(toks) - 2, 1) + 1),
        |      i -> array_to_string(toks[i:i+2], ' ')),
        |    s -> md5(s))) AS shingle_min_md5
        |FROM t ORDER BY doc_id""".stripMargin)
}
