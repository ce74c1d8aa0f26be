package graft.functions

import graft.QueryPack
import graft.core.{Knobs, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (north-star extension,
  * SURVEY.md §7.2 step 8).
  *
  * Three tiers:
  *  - `sim_cosine_topk`: brute-force exact top-k via the native codegen
  *    [[graft.expr.CosineSimilarity]] — the correctness baseline. Queries
  *    are broadcast, so the candidate side streams through one codegen
  *    stage: at 100 TB this is a single scan, no shuffle.
  *  - `sim_ann_lsh`: random-hyperplane LSH — each vector hashed to a
  *    16-bit signature bucket; candidates only meet within a bucket. This
  *    is the scale path: the all-pairs O(n²) becomes O(Σ bucket²), one
  *    shuffle on bucket id.
  *  - `sim_pairs_threshold`: all pairs above a cosine threshold
  *    (embedding near-dup dedup) — exact small-n form; at scale the same
  *    verify step runs on LSH candidates instead of all pairs.
  *
  * Hyperplanes are a fixed seeded constant (reproducible across runs and
  * cluster sizes — an index built today must match one built tomorrow).
  */
object SimilarityOps extends QueryPack {

  /** Embedding dimension — aliased to the plane family's so a change to
    * either is a change to both (a mismatch is a per-row runtime throw). */
  val Dim: Int = graft.expr.Hyperplanes.Dim
  val NPlanes = 16
  /** Wider family for the candidate-generator configs; the first `NPlanes`
    * are the same planes `annLsh` has always used (same seeded stream —
    * extending the family appends planes, it never changes existing ones,
    * so every gate-validated config is byte-identical). 128 planes admit
    * the 8×8 deployment shapes a clustered corpus wants (SCALE.md rounds
    * 6–7): more buckets per table than clusters, or Σ|bucket|² degenerates
    * toward n².
    */
  val NPlanesMax: Int = graft.expr.Hyperplanes.Max

  /** Seeded Rademacher (±1) hyperplanes: deterministic, no data dependence.
    * Canonical storage is [[graft.expr.Hyperplanes]] (primitive float[][]
    * for the `lsh_buckets` kernel); this is the Seq view the oracle-SQL
    * generator and tools consume.
    */
  lazy val hyperplanes: Seq[Seq[Float]] =
    graft.expr.Hyperplanes.planes.toSeq.map(_.toSeq)

  /** Banded candidate pairs: distinct (v1 < v2) id pairs that share at
    * least one (table, bucket) under `b.tables` tables of `b.planes`
    * hyperplane sign bits each, probing `b.probeBits` neighbor buckets and
    * capped at `b.bucketCap` (the route's knobs, [[Knobs.LshRoute]]). The
    * dial every LSH consumer turns:
    * more planes per table → smaller buckets → cheaper but lower recall;
    * more tables → more chances to collide → higher recall. Callers pick
    * per threshold (near-dup at 0.9 tolerates 4-bit tables; a loose 0.4
    * threshold needs 2-bit ones).
    *
    * Scale shape: the [[bandedSelfJoin]] (one narrow shuffle of
    * (table,bucket,id) rows, each pair emitted once at its canonical
    * discovery, with no pair distinct on any route), then one exchange of
    * id PAIRS only — vectors are NOT carried past the join (re-joined by
    * id afterwards by callers that need them). A multi-probe discovery can
    * come from the higher id's side, so the pair leaves as
    * (least, greatest).
    *
    * `prefilterTheta`: threshold consumers (pairs ≥ θ) pass their float
    * cosine threshold here; each vector's `int8_enc` blob (d code bytes +
    * 16 — vs 256+ for the float array) then rides through the bucket
    * shuffle, and `int8_keep(b1, b2, θ)` rejects provably-below-θ pairs
    * INSIDE the self-join stage, before the pair exchange. A recall-heavy
    * shape (16×2 at θ=0.4) admits nearly all n² pairs as candidates — the
    * pair exchange and the downstream float-array verify joins were
    * the query's dominant cost, and both now see only near-threshold
    * survivors. Lossless by the [[graft.expr.Int8Blob]] margin bound, so
    * every ExactnessSpec invariant is unchanged. Top-1/argmax consumers
    * have no threshold to prefilter against and pass None.
    */
  def lshCandidateIds(spark: SparkSession, dir: String, b: Knobs.Banding,
      prefilterTheta: Option[Double] = None): DataFrame = {
    import spark.implicits._
    val theta = prefilterTheta.filter(_ => Knobs.SimPrefilter(spark))
    // the prefilter blob is computed ONCE per vector, below the bucket
    // explode, and rides the (tbl,bucket) shuffle. The coalesce makes the
    // column provably non-null, or the nullIntolerant int8_keep join
    // filter infers an IsNotNull(blob) constraint that re-runs the encoder
    // in a Filter below the Project (Filter/Project don't share
    // subexpressions — the best_cell lesson). int8_enc is null only for a
    // null embedding, and those rows generate ZERO bucket rows anyway, so
    // the empty-blob sentinel can never reach int8_keep.
    val blob = theta.map(_ =>
      "b" -> coalesce(expr("int8_enc(embedding)"), lit(Array.emptyByteArray)))
    val pairs = bandedSelfJoin(spark, dir, b.tables, b.planes, b.probeBits, blob.toSeq,
      cap = b.cap,
      test = theta.map(t => call_function("int8_keep", $"b1", $"b2", lit(t))))
    // unprobed, every pair leaves as v1 < v2 already; least/greatest there
    // would only add the consumers' inferred IsNotNull tests to the join
    (if (b.probeBits == 0) pairs.select($"v1", $"v2")
     else pairs.select(least($"v1", $"v2").as("v1"), greatest($"v1", $"v2").as("v2")))
      // The pairs leave through an exchange of their own: a consumer that
      // samples them (a sort's range bounds) reuses it instead of running
      // the self-join again.
      .repartition($"v1", $"v2")
  }

  /** The banded self-join behind every embedding LSH route: one row per
    * candidate pair, at the pair's canonical discovery, carrying `v1`,
    * `v2`, the `within` columns and each `carry` column twice (suffixed
    * `1` and `2`).
    *
    * Each vector's `lsh_probes(embedding, nTables, planesPerTable,
    * probeBits)` array (`pr`, stride `1 + probeBits`; the base bucket of
    * each table, then its Hamming-1 neighbors on the lowest-|dot| planes —
    * [[graft.expr.LshProbes]]) is computed once, below the explode, and
    * posexploded into one (tbl, bucket) row per slot. The join is (every
    * slot of v1) ⋈ (the base slot of v2) on (tbl, bucket, within...), so a
    * pair meets once per table where the base buckets collide and once per
    * flip of either vector into the other's base bucket. The one
    * de-duplication rule: a row is kept only when it is the pair's
    * canonical discovery (`lsh_first_shared` over both rows' arrays —
    * first table, then base–base, then a flip from the lower id, then one
    * from the higher), so every pair leaves the join once and no pair
    * distinct (a 64 MB Tungsten page per task) runs. A base–base row is
    * canonical only as v1 < v2; unprobed, every row is base–base, so the
    * cheaper `<` runs first and `lsh_first_shared` is passed its result as
    * `true` rather than testing it again.
    *
    * `cap` is a route's bucket-cap knob and its value ([[Knobs.LshRoute]]):
    * the shared [[DedupOps.capBuckets]] helper counts base slots per
    * (tbl, bucket), drops every slot row in an over-cap bucket, and its
    * over-cap keys ride into `lsh_first_shared` as a reference array, so a
    * pair whose first shared bucket was dropped is kept at the next one.
    * The generator runs its own `lsh_probes` call: exploding the carried
    * `pr` column instead makes the optimizer infer size/IsNotNull filters
    * on it, pushed below the Project as two more kernel calls per vector.
    * `test` (the int8 prefilter) joins the canonical tests in ONE filter,
    * cheapest first: split over several filters, the later ones are
    * pushed in ahead of the earlier.
    *
    * Each side is hinted shuffle_hash: both are the SAME corpus-sized
    * relation, so broadcast is never the scale-correct strategy — yet a
    * session with a generous broadcast threshold (SCALE.md round 10's
    * exact baselines ran at 256 MB) broadcast the blob-carrying side, and
    * at 20k vectors that 135 MB broadcast measured 5× slower than the
    * shuffle join (SCALE.md round 10). The side's exchange is sized by the
    * caller when the input cannot fill the cores ([[graft.core.Fanout]]):
    * the join's work is Σ bucket², not bytes, but AQE sizes the exchange
    * by bytes and merged it into ONE task on small corpora (SCALE.md "The
    * banded self-join runs on every core"). At scale, and on the capped
    * route's checkpoint (no input files), the side passes through and
    * AQE's merging and skew split decide. Unprobed, both sides read one
    * exchange, planned once and reused. The renames stay below it, in the
    * scan's generated stage: above it they add two generated stages to
    * the self-join.
    */
  private def bandedSelfJoin(spark: SparkSession, dir: String,
      nTables: Int, planesPerTable: Int, probeBits: Int,
      carry: Seq[(String, Column)], within: Seq[String] = Nil,
      cap: Option[(Knobs.Cap, Int)] = None, test: Option[Column] = None): DataFrame = {
    val stride = 1 + probeBits
    // the kernel checks the shape (planes available, probeBits in range)
    val probes = expr(s"lsh_probes(embedding, $nTables, $planesPerTable, $probeBits)")
    // carried columns are materialized BEFORE the posexplode select: listed
    // in the same select, the generator would be extracted underneath them
    // and they would be re-evaluated per generated row (t× per vector); as
    // pass-through columns they land in the Generate's requiredChildOutput
    val ids = col("vec_id") +: within.map(col)
    val slots = Tables.embeddings(spark, dir)
      .select((ids :+ col("embedding")) ++ carry.map { case (n, c) => c.as(n) } :+
        probes.as("pr"): _*)
      .select((ids ++ carry.map(c => col(c._1)) :+ col("pr")) :+
        posexplode(probes).as(Seq("pos", "bucket")): _*)
      // unprobed, a slot IS its table; `pos`, unlike `div`, is non-null,
      // so the join infers no IsNotNull(tbl) filter into the scan stage
      .withColumn("tbl", if (probeBits == 0) col("pos") else expr(s"pos div $stride").cast("int"))
    val keys = Seq("tbl", "bucket") ++ within
    val isBase = col("pos") % stride === 0
    val capped = for ((dial, c) <- cap)
      yield DedupOps.capBuckets(slots, keys, c, dial, counted = isBase)
    val stream = capped.fold(slots)(_._1)
    val overCap = capped.toSeq.flatMap(_._2.collect()
      .map(r => graft.expr.LshFirstShared.key(r.getInt(0), r.getInt(1))))
    // only v1's slot position is read (the canonical test); unprobed it is
    // the table, so both sides carry the same columns and share one exchange
    def side(i: Int, rows: DataFrame, slot: Column*): DataFrame =
      graft.core.Fanout.maybeFanout(rows.select((keys.map(col) ++ slot :+
          col("vec_id").as(s"v$i") :+ col("pr").as(s"k$i")) ++
          carry.map { case (n, _) => col(n).as(s"$n$i") }: _*),
        keys.map(col): _*)
      .hint("shuffle_hash")
    val (v1, v2) = (col("v1"), col("v2"))
    val (left, right, slot) =
      if (probeBits == 0) (side(1, stream), side(2, stream), col("tbl"))
      else (side(1, stream, col("pos").as("pos1")), side(2, stream.filter(isBase)), col("pos1"))
    // unprobed, the `<` pre-test below has already established v1 < v2
    val canonical = call_function("lsh_first_shared", col("k1"), col("k2"),
      if (probeBits == 0) lit(true) else v1 < v2, lit(probeBits), typedLit(overCap)) === slot
    left.join(right, keys)
      .filter((Option.when(probeBits == 0)(v1 < v2) ++ Seq(canonical) ++ test).reduce(_ && _))
  }

  /** Per-vector L2 norm, precomputed ONCE in the narrow scan so per-pair
    * scoring pays one accumulator instead of three: the `cosine_sim`
    * kernel re-derives BOTH norms inside every pair evaluation, which is
    * the right shape for a one-shot pair but 3× too much work for the
    * all-pairs / scored-self-join legs that score Θ(n²/L) or Θ(Σ|bucket|²)
    * pairs against the same vectors.
    */
  private[graft] def normCol: Column = expr("sqrt(dot_product(embedding, embedding))")

  /** Precomputed-norm cosine — BIT-IDENTICAL to `cosine_sim(e1, e2)`:
    * the dot accumulates in the same left-to-right order, each norm is the
    * same `Math.sqrt` of the same left-to-right Σx² the kernel computes
    * per pair, and `dot / (n1 * n2)` is the kernel's own final expression
    * (it multiplies the two square roots before dividing). The `when`
    * reproduces the kernel's zero-norm → 0.0 convention — without it a
    * 0/0 would yield NaN, which Spark orders ABOVE every real and would
    * silently pass ≥θ filters. Bit-identity is what keeps every oracle
    * hash and ExactnessSpec row unchanged when a leg switches form.
    */
  private[graft] def cosPre(e1: String, e2: String, n1: String, n2: String): Column =
    when(col(n1) === 0.0 || col(n2) === 0.0, lit(0.0))
      .otherwise(expr(s"dot_product($e1, $e2)") / (col(n1) * col(n2)))

  /** One side of a precomputed-norm pair-scoring leg: (vec_id, embedding,
    * nrm) renamed for the join plus any carried columns. The rename triple
    * is [[cosPre]]'s input contract — one helper instead of hand-kept
    * copies at every leg (a drifted alias on one site would break that
    * leg's bit-identity silently). Input must already carry `nrm`
    * ([[normCol]]).
    */
  private[graft] def vecSide(en: DataFrame, v: String, e: String, n: String,
      extra: (String, String)*): DataFrame =
    en.select(Seq(col("vec_id").as(v), col("embedding").as(e), col("nrm").as(n)) ++
      extra.map { case (c, a) => col(c).as(a) }: _*)

  /** Scored LSH neighbor pairs for the top-1/argmax family: (v1,
    * within..., v2, cos) rows, each candidate pair once in each
    * orientation. The float vectors and their norms ride the narrow n·t-row
    * bucket shuffle of the [[bandedSelfJoin]] once, the cosine runs in the
    * self-join stage once per pair, and one explode in the same stage
    * emits both orientations — a union would run the self-join again for
    * its second child, reusing only the exchanges below it. There is no
    * candidate distinct and no per-pair float join; the argmax's partial
    * aggregate then reduces in-stage to one row per (v1, partition).
    *
    * Same hyperplane family, same kernels, same cosine expression as the
    * candidate route — for any fixed pair the emitted cos is bit-identical
    * (cosPre), so argmax results match the candidate form exactly
    * (ExactnessSpec and the annLsh oracle pin it).
    */
  private[graft] def lshScoredNeighbors(spark: SparkSession, dir: String,
      nTables: Int, planesPerTable: Int, within: Seq[String] = Nil,
      probeBits: Int = 0): DataFrame = {
    import spark.implicits._
    // the cosine is projected BEFORE the explode, so it runs once per pair
    bandedSelfJoin(spark, dir, nTables, planesPerTable, probeBits,
        Seq("e" -> $"embedding", "n" -> normCol), within)
      .select((Seq($"v1", $"v2") ++ within.map(col)) :+
        cosPre("e1", "e2", "n1", "n2").as("cos"): _*)
      .select((within.map(col) :+ $"cos") :+ explode(array(struct($"v1", $"v2"),
        struct($"v2".as("v1"), $"v1".as("v2")))).as("o"): _*)
      .select(($"o.v1".as("v1") +: within.map(col)) :+ $"o.v2".as("v2") :+ $"cos": _*)
  }

  /** Brute-force exact top-k: broadcast queries, one codegen scoring scan,
    * then the bounded-heap [[BoundedTopK.ranked]] per query id — map-side
    * partial heaps mean the shuffle carries ≤ k rows per (query,
    * partition), versus the window row_number form which shuffles EVERY
    * scored candidate to rank it. Same output (heap order = window order:
    * score desc, id asc), oracle-checked either way.
    */
  def cosineTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    BoundedTopK.ranked(scoredQueries(spark, dir), Seq("q_id"), "cos", "c_id", 3)
      .select($"q_id", $"rank", $"c_id", round($"cos", 6).as("cos"))
      .orderBy($"q_id", $"rank")
  }

  /** (c_id, q_id, cos) for every corpus vector against each of the five
    * query vectors (`vec_id < 5`) other than itself: the queries are
    * broadcast, so the corpus streams through one codegen scoring scan.
    */
  private def scoredQueries(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
    val q = e.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    e.select($"vec_id".as("c_id"), $"embedding".as("c_emb"))
      .join(broadcast(q), $"c_id" =!= $"q_id")
      .select($"c_id", $"q_id", expr("cosine_sim(q_emb, c_emb)").as("cos"))
  }

  val NTables = 4
  val PlanesPerTable = 4 // NPlanes = NTables * PlanesPerTable

  /** Random-hyperplane LSH ANN, banded: 4 hash tables of 4 planes each.
    * A vector lands in one bucket per table; candidates are pairs sharing
    * ANY (table, bucket) — the OR-of-ANDs construction that trades a
    * constant factor of duplication for recall. All-pairs O(n²) becomes
    * O(Σ bucket²) with one shuffle on (table, bucket).
    * Hash-gated since round 2: the seeded hyperplanes are inlined as
    * constants into the DuckDB oracle, which replays the bucketing exactly;
    * DedupSimSpec additionally asserts recall vs the brute-force baseline.
    */
  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the scored form: cosine runs inside the bucket self-join stage
    // ([[lshScoredNeighbors]]), once per pair, with no per-pair float join
    val pairs = lshScoredNeighbors(spark, dir, NTables, PlanesPerTable)
    // per-v1 argmax via the flat-buffer arg_max_long aggregate — the
    // max_by(struct, struct) form this replaces carried struct buffers,
    // which disqualify HashAggregate and plan as SortAggregate: the whole
    // scored-pair stream gets sorted per partition (measured >90 GB of
    // spill at 250k vectors, SCALE.md round 7). arg_max_long keeps the
    // identical (cos desc, v2 asc) semantics in two primitive buffer
    // slots, so the plan is a streaming partial→final HashAggregate.
    pairs.groupBy($"v1")
      .agg(expr("arg_max_long(v2, cos)").as("b"))
      .select($"v1".as("vec_id"), $"b.id".as("nearest_in_bucket"), round($"b.score", 6).as("cos"))
      .orderBy($"vec_id")
  }

  /** `sim_pairs_threshold`'s cosine floor — shared between the final float
    * verify and the banded route's int8 prefilter so the two can never
    * drift apart (the prefilter bound is only lossless at the SAME θ). */
  val PairsThreshold = 0.4

  /** Cosine-threshold pairs: `(v1, v2, carried..., cos)` for every pair of
    * embeddings with v1 < v2 and cosine ≥ `theta`, each unordered pair
    * once. Every `(column, prefix)` in `carry` rides along as `<prefix>1`
    * (v1's value) and `<prefix>2` (v2's).
    *
    * Exact (`graft.sim.exact`): the all-pairs `v1 < v2` theta join, scoring
    * C(n,2) pairs with precomputed norms and [[cosPre]] (bit-identical to
    * `cosine_sim`, ~3× less per-pair work). Banded: the `route`'s
    * candidates with θ handed to the int8 prefilter ([[lshCandidateIds]]
    * `prefilterTheta`), so provably-below-θ pairs die in the self-join
    * stage, and the pair exchange and the two float-array re-joins see only
    * near-threshold survivors — few enough that the plain `cosine_sim`
    * kernel verifies them. Both cosines are symmetric in their arguments,
    * so a consumer that wants both orientations of a pair emits them from
    * this one row instead of scoring the pair twice.
    */
  private[functions] def cosinePairs(spark: SparkSession, dir: String, route: Knobs.LshRoute,
      theta: Double, carry: (String, String)*): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
    def carried(i: Int) = carry.map { case (c, p) => c -> s"$p$i" }
    val pairs =
      if (Knobs.SimExact(spark)) {
        val en = e.withColumn("nrm", normCol)
        vecSide(en, "v1", "e1", "n1", carried(1): _*)
          .join(vecSide(en, "v2", "e2", "n2", carried(2): _*), $"v1" < $"v2")
          .withColumn("cos", cosPre("e1", "e2", "n1", "n2"))
      } else {
        def side(i: Int) = e.select(Seq($"vec_id".as(s"v$i"), $"embedding".as(s"e$i")) ++
          carried(i).map { case (c, a) => col(c).as(a) }: _*)
        lshCandidateIds(spark, dir, route(spark), prefilterTheta = Some(theta))
          .join(side(1), Seq("v1"))
          .join(side(2), Seq("v2"))
          .withColumn("cos", expr("cosine_sim(e1, e2)"))
      }
    pairs.filter($"cos" >= theta)
      .select(Seq($"v1", $"v2") ++ (carried(1) ++ carried(2)).map(a => col(a._2)) :+ $"cos": _*)
  }

  /** Embedding near-dup: all pairs with cosine >= 0.4, from [[cosinePairs]]
    * on the `pairs` route. Exact form is the all-pairs join (oracle-checked
    * baseline); banded, the only corpus-wide work is the (table,bucket)
    * shuffle. 0.4 is a loose threshold (66°), so the candidate config is
    * recall-heavy: 16 tables of 2 sign bits (covers every qualifying test
    * pair — tools/lsh_recall.py); at that recall the candidate set is
    * nearly all n² pairs, which is why the int8 prefilter carries the
    * banded route.
    */
  def pairsAboveThreshold(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    cosinePairs(spark, dir, Knobs.Pairs, PairsThreshold, "label" -> "l")
      .select($"v1", $"v2", $"l1", $"l2", round($"cos", 6).as("cos"))
      .orderBy($"v1", $"v2")
  }

  /** Label-filtered search: nearest same-label neighbor per vector —
    * the "find me more like this, within this class" pipeline query.
    * Exact form joins all pairs within a label (oracle baseline); with
    * `graft.sim.exact=false` the argmax runs over banded LSH candidates
    * filtered to the label — top-1 retrieval has no threshold to lean on,
    * so it gets the most recall-heavy shape, 32 single-plane hemispheres
    * (covers every vector's true same-label nearest at every SF;
    * tools/lsh_recall.py + ExactnessSpec).
    */
  def nearestSameLabel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
    // per-v1 argmax via arg_max_long (cos desc, v2 asc — identical to the
    // max_by(struct, struct) it replaced): flat primitive buffers keep the
    // plan a streaming HashAggregate; the struct-buffer form planned as
    // SortAggregate and sorted the Θ(n²/L) pair stream per partition,
    // spilling >90 GB at 250k vectors (SCALE.md round 7). The shuffle
    // still carries one row per (v1, partition), never the scored pairs.
    // pairs carry precomputed norms (n1, n2): the all-pairs legs score
    // Θ(n²/L) pairs, so cosPre's one-accumulator form is ~3× less per-pair
    // work than the cosine_sim kernel, bit-identically (see cosPre)
    def argmaxOf(pairs: DataFrame): DataFrame = pairs
      .withColumn("cos", cosPre("e1", "e2", "n1", "n2"))
      .groupBy($"v1", $"label")
      .agg(expr("arg_max_long(v2, cos)").as("b"))
    val en = e.withColumn("nrm", normCol)
    val best =
      if (Knobs.SimExact(spark)) {
        val a = vecSide(en, "v1", "e1", "n1", "label" -> "label")
        val b = vecSide(en, "v2", "e2", "n2", "label" -> "label")
        argmaxOf(a.join(b, Seq("label")).filter($"v1" =!= $"v2"))
      } else {
        // per-label index: buckets pair within a label only (same coverage
        // for same-label pairs as a global index, ~|labels|× less volume).
        // The scored form ([[lshScoredNeighbors]]): cosine in the
        // self-join stage, once per pair, no per-pair float joins
        val r = Knobs.SameLabel
        val band = r(spark)
        val banded = lshScoredNeighbors(spark, dir, band.tables, band.planes,
            within = Seq("label"), probeBits = band.probeBits)
          .groupBy($"v1", $"label")
          .agg(expr("arg_max_long(v2, cos)").as("b"))
        val rescue = r.rescue(spark)
        if (rescue <= 0.0) banded
        else {
          // Rescue tier: top-1 retrieval has no threshold to hide behind —
          // a vector whose banded best lands BELOW `rescue` (or that got no
          // candidates at all) has a real chance its true neighbor was
          // missed, because low-cosine results and LSH misses are the same
          // population: isolated vectors (SCALE.md round 6/7 — d≤1 probing
          // saturates near 0.91 on the crossover corpus). Those vectors get
          // an exact per-label re-scan; everything the index answered
          // CONFIDENTLY (≥ rescue, where banded recall is near-total on a
          // shape-matched corpus) keeps its banded answer. Cost is the
          // quadratic tail only: |unresolved| × label-slice, and unresolved
          // is the isolated minority, tunable by the knob. Eager
          // localCheckpoint so the banded subtree runs once for both the
          // keep and the anti-join sides. NOTE the eager checkpoint makes
          // BUILDING this DataFrame run the banded subtree as Spark jobs —
          // construction is an action, not a free plan; callers that build
          // the query twice pay twice.
          //
          // NaN guard: Spark orders NaN greater than everything, so a NaN
          // banded score (zero-norm embedding → cosine 0/0) would pass
          // `>= rescue` and keep a meaningless answer; isnan() routes
          // degenerate scores into the rescued tail with the misses.
          val resolved = banded
            .filter($"b.score" >= rescue && !isnan($"b.score"))
            .localCheckpoint(true)
          // GUARD (round 8): the tier's premise — unresolved probes are
          // the isolated MINORITY — was previously unenforced, so a
          // mis-set floor on an LSH-hostile corpus silently broadcast
          // most of the corpus (a driver/executor-memory bomb). Both
          // counts are cheap here: `resolved` is already materialized and
          // the corpus count is a pruned parquet scan. Above the refusal
          // knob the tier fails loud, naming the advisor; between the
          // broadcast-safe bound and the knob it degrades to a shuffled
          // rescue join instead of a broadcast.
          val total = e.count()
          val unresolved = total - resolved.count()
          val frac = if (total == 0) 0.0 else unresolved.toDouble / total
          val maxFrac = r.rescueMaxFrac(spark)
          if (frac > maxFrac) sys.error(
            f"rescue tier: $unresolved of $total vectors (${frac * 100}%.1f%% > " +
              f"${r.rescueMaxFrac.key}=$maxFrac%.2f) fell below the " +
              s"confidence floor ${r.rescue.key}=$rescue — the banded " +
              "index shape does not fit this corpus. Re-shape with " +
              s"BandTuner.suggest (${r.bands.key} / " +
              s"${r.probe.key}), lower the rescue floor, or raise " +
              s"${r.rescueMaxFrac.key} to accept a shuffled " +
              "(non-broadcast) rescue join.")
          // broadcast only while the tail honors the premise; a fatter
          // (but knob-accepted) tail ships through a shuffle join, which
          // is slower but cannot exhaust driver/executor memory. Safe to
          // hint: `resolved` is an eager localCheckpoint, so the broadcast
          // ships materialized rows, not a pending aggregation subtree.
          val probesBase = vecSide(
            en.join(resolved.select($"v1".as("vec_id")), Seq("vec_id"), "left_anti"),
            "v1", "e1", "n1", "label" -> "label")
          val probes =
            if (frac <= r.BroadcastSafeFrac) broadcast(probesBase) else probesBase
          val tail = probes
            .join(vecSide(en, "v2", "e2", "n2", "label" -> "label"), Seq("label"))
            .filter($"v1" =!= $"v2")
          resolved.union(argmaxOf(tail))
        }
      }
    best
      .select($"v1".as("vec_id"), $"label", $"b.id".as("nearest"), round($"b.score", 6).as("cos"))
      .orderBy($"vec_id")
  }

  val IvfCells = 16
  val NProbe = 2

  /** Per-row nearest-centroid argmax via the native [[graft.expr.BestCell]]
    * kernel — centroids are driver model state (k rows), so shipping them
    * inside the expression (primitive float[][] reference objects) lets
    * every corpus-side consumer compute its argmax per ROW instead of
    * exploding a (corpus × k) join and re-grouping. Ties go to the LOWEST
    * cent_id (ids sorted ascending + strict `>` in the kernel — same
    * contract as the `max_by (score, -id)` form this grew out of).
    *
    * History of this column (each step measured): r5 replaced the
    * broadcast-join + re-group corpus Exchange with an inline-literal
    * `array_max(transform(...))`; r6 replaced THAT with the native kernel,
    * because higher-order functions are codegen-fallback — the composed
    * argmax evaluated 16 interpreted cosine kernels over boxed literals
    * per corpus row, the same pathology `lsh_buckets` fixed for bucketing
    * (SCALE.md round 6). The kernel also hoists the k centroid norms out
    * of the per-row loop entirely.
    *
    * SIZE BOUND: the centroid matrix serializes into every task binary
    * (~4 bytes/float). Keep k·dim ≤ [[InlineCentroidFloatLimit]] (~4 MB);
    * above that, move the model into a real Spark broadcast variable read
    * by the expression. Enforced with a require so an oversized model
    * fails loud at plan build, not as a mysteriously slow stage.
    *
    * `private[graft]` so PlanSpec pins the PRODUCTION expression shape
    * (single-eval argmax) rather than a hand-copied replica that could
    * drift.
    */
  val InlineCentroidFloatLimit: Int = 1 << 20 // 1M floats ≈ 4 MB per task binary

  private[graft] def bestCellCol(cents: Seq[(Int, Seq[Float])], emb: Column): Column = {
    // fail loud on an empty model (the old join form silently returned an
    // empty result on an empty centroid table)
    require(cents.nonEmpty, "bestCellCol needs at least one centroid")
    val floats = cents.iterator.map(_._2.size.toLong).sum
    require(floats <= InlineCentroidFloatLimit,
      s"centroid model has $floats floats > task-binary bound " +
        s"$InlineCentroidFloatLimit (~4 MB): use a broadcast " +
        "variable-backed Expression for a model this large")
    val sorted = cents.sortBy(_._1)
    // model state rides as foldable literal args; the registry builder
    // unpacks them into the kernel's primitive arrays at analysis time
    call_function("best_cell", emb,
      typedLit(sorted.map(_._1)), typedLit(sorted.map(_._2)))
  }

  /** IVF probe plan shared by the first-K and k-means centroid variants.
    * Cell assignment is a per-row argmax over the inline centroid literal
    * ([[bestCellCol]]) — the corpus is NEVER shuffled: the old
    * broadcast-join + groupBy(vec_id) form moved every (vec_id, embedding)
    * row through an Exchange just to re-assemble what was computable in
    * place. The final search argmax is `arg_max_long` grouped by q_id —
    * a streaming partial→final HashAggregate, one row per (query,
    * partition) in the shuffle (the struct-buffer `max_by` it replaced
    * planned as SortAggregate; SCALE.md round 7). The
    * probe ranking stays a window: it runs on the tiny query side, not the
    * corpus.
    */
  private def ivfSearch(e: DataFrame, cents: Seq[(Int, Seq[Float])]): DataFrame = {
    import e.sparkSession.implicits._
    val inverted = e
      .withColumn("b", bestCellCol(cents, $"embedding"))
      // coalesce makes the join key provably non-null: without it the inner
      // join infers an IsNotNull(cell) filter whose predicate re-evaluates
      // the ENTIRE argmax expression below the Project — the k-kernel
      // argmax would run twice per corpus row (Filter/Project don't share
      // subexpressions). best_cell is null only when the embedding itself
      // is null (nullIntolerant), so -1 never appears on real rows.
      .select(coalesce($"b.cent_id", lit(-1)).as("cell"), $"vec_id", $"embedding")
    val centsDf = cents.toDF("cent_id", "cent")
    val q = e.filter($"vec_id" < 5).select($"vec_id".as("q_id"), $"embedding".as("q_emb"))
    val wP = Window.partitionBy($"q_id").orderBy($"csim".desc, $"cent_id")
    val probes = q.join(broadcast(centsDf))
      .withColumn("csim", expr("cosine_sim(q_emb, cent)"))
      .withColumn("rn", row_number().over(wP)).filter($"rn" <= NProbe)
      .select($"q_id", $"q_emb", $"cent_id".as("cell"))
    broadcast(probes).join(inverted, Seq("cell")).filter($"vec_id" =!= $"q_id")
      .withColumn("cos", expr("cosine_sim(q_emb, embedding)"))
      .groupBy($"q_id")
      // arg_max_long over max_by(struct,struct): streaming HashAggregate
      // instead of a SortAggregate over the probe×cell candidate stream
      .agg(expr("arg_max_long(vec_id, cos)").as("b"))
      .select($"q_id", $"b.id".as("nearest_ivf"), round($"b.score", 6).as("cos"))
      .orderBy($"q_id")
  }

  /** IVF (inverted-file) ANN — the other standard scale path next to LSH:
    * coarse-quantize every vector to its nearest of `IvfCells` centroids
    * (the inverted file, built once: a per-row argmax against the inline
    * centroid literal, no shuffle of the corpus), then each query probes
    * only its `NProbe` nearest cells. Search cost drops from O(n) per
    * query to O(n·nprobe/cells) with recall controlled by nprobe.
    *
    * Centroids here are DELIBERATELY the first `IvfCells` vectors, and
    * this is a pinned design decision, not a leftover (r10 verdict #4
    * adjudicated): first-K centroids are the ONLY centroid choice the
    * DuckDB oracle can rebuild bit-for-bit, which makes `sim_ann_ivf` the
    * one query where the ENTIRE IVF machinery — inverted-file assignment,
    * cell probing, in-cell search, tie-breaks — is hash-checked
    * end-to-end against an independent engine every round. Trained
    * centroids cannot be replayed exactly (float-iterative Lloyd rounds),
    * so the trained path [[annIvfKmeans]] necessarily downgrades its gate
    * row to a tolerance witness; routing THIS query through the trained
    * centroids would delete the exact-replay check without adding
    * coverage the witness doesn't already have. The two queries are a
    * pair by construction: identical plan shape (the centroids are a
    * broadcast literal either way), exact-replay oracle here, production
    * quantizer + recall witness there. DedupSimSpec asserts recall vs the
    * brute-force `sim_cosine_topk` baseline for both.
    */
  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
    // first-K placeholder centroids: k rows of driver model state, same
    // collect-to-driver convention as the trained k-means centroids
    val cents = e.filter($"vec_id" < IvfCells)
      .select($"vec_id", $"embedding").orderBy($"vec_id").collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Float](1))).toSeq
    ivfSearch(e, cents)
  }

  /** Default relative-improvement threshold for Lloyd convergence, and the
    * divide-guard floor under it — shared with KMeansSpec so the test pins
    * the SAME stopping rule the production default uses. */
  val KmTol = 1e-4
  val KmTolFloor = 1e-12

  /** Lloyd k-means coarse quantizer — the production centroid builder the
    * first-`IvfCells` placeholder in [[annIvf]] points at. Per round:
    * assignment is ONE narrow scan with a per-row argmax of k cosine sims
    * against the inline centroid literal ([[bestCellCol]] — no join, no
    * shuffle); the refit shuffles only (cell, dim) partial
    * sums (map-combined, ≤ k·dim·partitions rows in flight — corpus never
    * reshuffles); the k·dim result returns to the driver like any ML model
    * parameter (same shape as MLlib's treeAggregate loop). Means are
    * decimal-exact so centroids are bit-reproducible across partitionings.
    *
    * This is SPHERICAL k-means: the refit averages L2-NORMALIZED vectors
    * (the mean direction), which is the true maximizer of the cosine
    * objective for arbitrary input norms — a raw arithmetic mean would
    * weight each vector by its length and only coincide on unit-norm
    * inputs. cosine_sim is scale-invariant in the centroid, so on
    * unit-norm embeddings the two refits assign identically.
    *
    * SEEDING is k-means++-style but deterministic: one corpus scan draws an
    * md5-ordered oversample of `8·k` candidates to the driver (the k-means||
    * oversample-then-reduce shape — at 100 TB the sample, not the corpus,
    * comes back), then greedy farthest-first (Gonzalez) picks k mutually
    * spread candidates. No random stream, so an index built today matches
    * one built tomorrow. STOPPING is convergence-based: Lloyd rounds end
    * when the relative inertia improvement drops below `tol` (or at
    * `maxRounds`), so converged data doesn't pay for fixed extra scans.
    *
    * Returns (centroids, inertiaPerRound); inertia = Σ (1 - cos(v, cent(v))),
    * non-increasing over rounds — KMeansSpec asserts it.
    */
  def kmeansCentroids(spark: SparkSession, dir: String,
      k: Int = IvfCells, maxRounds: Int = 10,
      tol: Double = KmTol): (Seq[(Int, Seq[Float])], Seq[Double]) = {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    // persist the training input: the seeding scan plus every Lloyd round
    // re-reads it (standard iterative-ML caching — MLlib's KMeans does the
    // same). At 100 TB this is the working-set cache a real deployment
    // sizes; locally it cuts one parquet scan per round. try/finally so a
    // failed round (or a corpus smaller than k in seeding) can't leave a
    // corpus-sized CacheManager entry pinned for the rest of the session.
    val e = Tables.embeddings(spark, dir).select($"vec_id", $"embedding").persist()
    try {
    var cents: Seq[(Int, Seq[Float])] =
      seedCentroids(e, k).zipWithIndex.map { case (c, i) => (i, c) }
    val inertias = scala.collection.mutable.ArrayBuffer.empty[Double]
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      // inertia rides the refit action as an observed metric, so each Lloyd
      // round is ONE pass over the corpus (assign → observe → refit) instead
      // of two (separate inertia action + refit action). At 100 TB that
      // halves the per-round scan cost; the price is that the final
      // (converged) round computes a refit that is then discarded, which is
      // one extra aggregation over the last assignment — cheap next to a
      // second full pass per round. Output is bit-identical to the two-pass
      // form: same inertia formula (decimal-exact sum via accumulator
      // merge), same stopping rule, and the discarded refit never touches
      // `cents`.
      //
      // Assignment is a per-row argmax over the inline centroid literal
      // ([[bestCellCol]]) — fully narrow. The only shuffle in a round is
      // the refit's map-combined (cell, dim) partial sums (≤ k·dim·
      // partitions rows); the corpus itself never moves.
      val obs = org.apache.spark.sql.Observation()
      val assigned = e
        .withColumn("b", bestCellCol(cents, $"embedding"))
        .select($"b.cent_id".as("cell"), $"vec_id", $"embedding", $"b.csim".as("csim"))
        .observe(obs,
          sum((lit(1.0) - $"csim").cast(DecimalType(28, 12))).cast("double").as("inertia"))
      // refit shape: two-level (cell, pos) → cell aggregation, KEPT after a
      // measured round-22 rejection of the one-level alternative (VERDICT
      // r21 item 3). Folding the refit into ONE groupBy(cell) with a
      // decimal sum + count pair per dimension does remove a shuffle and a
      // stage per round (profile: jobs 46 → 36) and is bit-identical
      // (decimal quantization is order-independent) — but 2·dim aggregate
      // expressions per round made Catalyst re-optimize a 128-expression
      // tree every Lloyd round and the query got SLOWER end-to-end (warmed
      // profile walls 5.3 s → 6.0–6.3 s at sf0.1; per-round driver gaps ate
      // the stage win). Shuffle BYTES are the same either way (the partial
      // aggregation collapses to k·dim rows per partition before the
      // exchange), so the one-level form buys nothing at 100 TB that the
      // map-combine doesn't already — reverted, guide §1.1 ("the fresh
      // ideal is usually slower; switch back to the empirical loop").
      val refit = assigned
        // mean DIRECTION: each vector contributes x/|v| (spherical k-means).
        // Zero-norm embeddings (failed encoders) have no direction and are
        // excluded — under ANSI mode x/0 would otherwise throw
        // DIVIDE_BY_ZERO and kill the training job (KMeansSpec witnesses
        // the zero-vector corpus).
        .withColumn("vnorm", expr("sqrt(dot_product(embedding, embedding))"))
        .filter($"vnorm" > 0)
        .select($"cell", $"vnorm", posexplode($"embedding").as(Seq("pos", "x")))
        .groupBy($"cell", $"pos")
        .agg((sum(($"x".cast("double") / $"vnorm").cast(DecimalType(28, 9))).cast("double") /
          count(lit(1))).as("m"))
        .groupBy($"cell")
        .agg(transform(array_sort(collect_list(struct($"pos", $"m"))),
          s => s.getField("m").cast("float")).as("cent"))
        .collect()
        .map(r => (r.getInt(0), r.getSeq[Float](1))).toMap
      // the observed sum is null iff ZERO rows flowed through the scan —
      // seedCentroids already requires ≥k nonzero embeddings, but make the
      // invariant local instead of letting a bare cast NPE obscure it
      val inertia = obs.get("inertia") match {
        case d: java.lang.Double => d.doubleValue()
        case other => sys.error(
          s"k-means round $round observed no rows (inertia=$other): empty training input")
      }
      inertias += inertia
      converged = inertias.size >= 2 && {
        val prev = inertias(inertias.size - 2)
        prev - inertia <= tol * math.max(prev, KmTolFloor)
      }
      if (!converged) {
        // a centroid that won zero vectors this round keeps its previous
        // position (standard empty-cluster handling) — k never shrinks
        cents = cents.map { case (id, old) => (id, refit.getOrElse(id, old)) }
      }
      round += 1
    }
    (cents, inertias.toSeq)
    } finally e.unpersist()
  }

  /** Deterministic k-means++-style seeds: md5-ordered oversample (one scan,
    * `8·k` rows to the driver — model-state scale, not corpus scale), then
    * greedy farthest-first over the sample. maxBy is deterministic (first
    * max wins) and the candidate order is pinned by (md5, vec_id), so the
    * seed set is reproducible across runs and partitionings.
    */
  private def seedCentroids(e: DataFrame, k: Int): Seq[Seq[Float]] = {
    import e.sparkSession.implicits._
    // zero-norm embeddings are excluded from the oversample: cosine distance
    // to the zero vector is undefined, and a NaN distance would win every
    // farthest-first comparison (NaN sorts above all reals), seeding a
    // degenerate centroid that NaN-poisons the whole assignment. Real
    // corpora do contain zero embeddings (failed encoders); they still get
    // ASSIGNED to cells downstream, they just can't seed one.
    val cand = e.where(expr("dot_product(embedding, embedding) > 0"))
      .withColumn("h", md5(concat(lit("kmseed:"), $"vec_id")))
      .orderBy($"h", $"vec_id").limit(8 * k)
      .select($"embedding").collect().map(_.getSeq[Float](0)).toIndexedSeq
    require(cand.size >= k, s"corpus has fewer than k=$k nonzero embeddings")
    def cosDist(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) 1.0 // defensive (unreachable post-filter): vs-zero ≙ orthogonal, never NaN
      else 1.0 - dot / math.sqrt(na * nb)
    }
    val chosen = scala.collection.mutable.ArrayBuffer(cand.head)
    // track each candidate's distance to its nearest chosen seed — O(n·k)
    val minDist = scala.collection.mutable.ArrayBuffer(cand.map(cosDist(_, cand.head)): _*)
    while (chosen.size < k) {
      val next = minDist.indices.maxBy(minDist)
      chosen += cand(next)
      var i = 0
      while (i < cand.size) {
        val d = cosDist(cand(i), cand(next))
        if (d < minDist(i)) minDist(i) = d
        i += 1
      }
    }
    chosen.toSeq
  }

  /** Raw k-means IVF ANN rows (q_id, nearest_ivf, cos) — the actual
    * retrieval output; KMeansSpec pins its recall vs brute force. */
  def annIvfKmeansRaw(spark: SparkSession, dir: String): DataFrame = {
    val (km, _) = kmeansCentroids(spark, dir)
    ivfSearch(Tables.embeddings(spark, dir), km)
  }

  /** IVF ANN over k-means centroids — [[annIvf]] with the trained coarse
    * quantizer instead of the first-16 placeholder. Same plan shape (the
    * centroids are a broadcast literal either way). The trained centroids
    * have no engine-exact DuckDB replay (float-iterative Lloyd rounds), so
    * the gate row is a tolerance WITNESS instead of the raw ANN output:
    * per query, the brute-force exact nearest (independently recomputed by
    * the oracle, round-before-rank so a sub-ulp cosine divergence can't
    * flip it) plus one in-engine assertion that the k-means IVF probe
    * recovered an exact-top-3 neighbor for ≥3 of the 5 queries — the same
    * bound KMeansSpec pins, hash-checked on every gate run. The raw ANN rows
    * remain available via [[annIvfKmeansRaw]]; KMeansSpec exercises them.
    */
  def annIvfKmeans(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ivf = annIvfKmeansRaw(spark, dir)
      .select($"q_id", $"nearest_ivf")
    // exact brute-force top-3 per query, the cosineTopK shape on the
    // 6dp-rounded cosine; a hit is an IVF answer among the three
    val exact = BoundedTopK.ranked(
      scoredQueries(spark, dir).withColumn("cos", round($"cos", 6)), Seq("q_id"), "cos", "c_id", 3)
    val hits = exact.join(ivf, Seq("q_id"))
      .groupBy($"q_id")
      .agg(max(when($"rank" === 1, $"c_id")).as("exact_nearest"),
        max(($"c_id" === $"nearest_ivf").cast("int")).as("hit"))
    val recallOk = hits.agg((sum($"hit") >= 3).as("recall3_ok"))
    hits.select($"q_id", $"exact_nearest").crossJoin(broadcast(recallOk))
      .orderBy($"q_id")
  }

  /** Symmetric-int8 frame shared by [[quantizeInt8]] and
    * [[topkInt8Rescore]]: the input plus `emb` (double[]), `scale`
    * (max|x|/127) and `q` (clamped round(x/scale) as long[]). Narrow —
    * adds no shuffle to whatever consumes it.
    */
  private def int8Frame(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, dir)
      .withColumn("emb", transform($"embedding", _.cast("double")))
      .withColumn("scale",
        aggregate($"emb", lit(0.0), (s, x) => greatest(s, abs(x))) / 127.0)
      .withColumn("q", transform($"emb", x =>
        when($"scale" === 0.0, lit(0.0))
          .otherwise(least(greatest(round(x / $"scale", 0), lit(-127.0)), lit(127.0)))
          .cast("long")))
  }

  /** Symmetric per-vector int8 quantization — the compression step an
    * embedding store applies before indexing (4× smaller than float32,
    * SIMD-friendly dot products). scale = max|x|/127 per vector;
    * q_i = clamp(round(x_i/scale), ±127). Output is the quantization
    * audit a pipeline materializes: the scale, two integer checksums of
    * the quantized vector, and the cosine between the original and its
    * dequantization (scale-invariant, so computed against the raw int8
    * codes) — the per-vector fidelity number that decides whether int8 is
    * safe for a given corpus.
    *
    * Scale shape: purely narrow — one codegen scan, no shuffle, no join;
    * higher-order `transform`/`aggregate` over the array stay inside
    * whole-stage codegen. At 100 TB this is the ideal map-only operator.
    */
  def quantizeInt8(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = int8Frame(spark, dir)
      .withColumn("qd", transform($"q", _.cast("double")))
    // explicit Σ folds (left-to-right over the array) on BOTH sides — the
    // oracle mirrors with list_dot_product so the 6dp rounding is the only
    // tolerance in play
    e.select(
        $"vec_id",
        round($"scale", 9).as("scale"),
        aggregate($"q", lit(0L), (s, x) => s + x).as("q_sum"),
        aggregate($"q", lit(0L), (s, x) => s + abs(x)).as("q_l1"),
        // explicit NULL for the zero vector: cos(0,0) is undefined, and the
        // engines' implicit behaviors diverge (Spark SQL div-by-zero → null,
        // DuckDB IEEE → NaN) — both sides CASE it to NULL instead
        when($"scale" === 0.0, lit(null).cast("double")).otherwise(round(
          aggregate(zip_with($"emb", $"qd", (a, b) => a * b), lit(0.0), (s, v) => s + v) /
            (sqrt(aggregate($"emb", lit(0.0), (s, v) => s + v * v)) *
             sqrt(aggregate($"qd", lit(0.0), (s, v) => s + v * v))), 6)).as("cos_q"))
      .orderBy($"vec_id")
  }

  val RescoreCandidates = 10

  /** Two-stage retrieval: int8-quantized scan then full-precision rescore —
    * the standard memory-bandwidth play (a 100 TB float32 corpus is 25 TB
    * as int8; the first pass streams a quarter of the bytes and the exact
    * kernel only ever sees `RescoreCandidates` rows per query). Stage 1
    * scores every candidate with the all-integer dot product (exact in
    * int64, scaled by the two per-vector scales) and keeps top-10 per query
    * via the bounded heap; stage 2 re-scores ONLY those pairs with float
    * cosine and emits top-3.
    *
    * The DuckDB oracle replays both stages — including the int8 codes and
    * the estimated-score ranking — so the gate checks the retrieval
    * mechanics, not merely that rescoring rescues the right answer.
    */
  def topkInt8Rescore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val f = int8Frame(spark, dir)
    val qs = f.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"q".as("q_q"), $"scale".as("q_scale"))
    val est = f.select($"vec_id".as("c_id"), $"q".as("c_q"), $"scale".as("c_scale"))
      .join(broadcast(qs), $"c_id" =!= $"q_id")
      // int64 dot of the codes is exact; the double product with the two
      // scales is the same left-associated expression the oracle computes
      .withColumn("est",
        aggregate(zip_with($"q_q", $"c_q", (a, b) => a * b), lit(0L), (s, v) => s + v)
          .cast("double") * $"q_scale" * $"c_scale")
    val cand = BoundedTopK.ranked(est, Seq("q_id"), "est", "c_id", RescoreCandidates)
      .select($"q_id", $"c_id")
    // full-precision rescore of the <= 5×10 survivors: candidates broadcast
    // into one corpus scan, queries broadcast in after
    val rescored = Tables.embeddings(spark, dir).select($"vec_id".as("c_id"), $"embedding".as("c_emb"))
      .join(broadcast(cand), Seq("c_id"))
      .join(broadcast(Tables.embeddings(spark, dir).filter($"vec_id" < 5)
        .select($"vec_id".as("q_id"), $"embedding".as("q_emb"))), Seq("q_id"))
      // round BEFORE ranking (both engines rank the same 6dp value, ties by
      // c_id) — a sub-ulp cosine divergence between Spark's codegen kernel
      // and DuckDB's list_cosine_similarity on a near-tie can't flip ranks
      .withColumn("cos", round(expr("cosine_sim(q_emb, c_emb)"), 6))
    BoundedTopK.ranked(rescored, Seq("q_id"), "cos", "c_id", 3)
      .orderBy($"q_id", $"rank")
  }

  /** Per-label embedding centroids, element-wise — the class-centroid
    * builder behind IVF coarse quantizers and nearest-centroid classifiers.
    * posexplode → groupBy(label, pos) shuffles (dim × n_labels) partial
    * sums, map-combined; the mean is decimal-exact (float → double widen →
    * decimal sum → one division) so it's bit-reproducible across engines
    * and partitionings.
    */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    Tables.embeddings(spark, dir)
      .select($"label", posexplode($"embedding").as(Seq("pos", "x")))
      .groupBy($"label", $"pos")
      .agg((sum($"x".cast("double").cast(DecimalType(28, 9))).cast("double") /
        count(lit(1))).as("mean_x"))
      .select($"label", $"pos".cast("int").as("pos"), round($"mean_x", 6).as("mean_x"))
      .orderBy($"label", $"pos")
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_label_centroids" -> (labelCentroids _),
    "sim_cosine_topk" -> (cosineTopK _),
    "sim_ann_lsh" -> (annLsh _),
    "sim_ann_ivf" -> (annIvf _),
    "sim_ann_ivf_kmeans" -> (annIvfKmeans _),
    "sim_pairs_threshold" -> (pairsAboveThreshold _),
    "sim_nearest_same_label" -> (nearestSameLabel _),
    "sim_quantize_int8" -> (quantizeInt8 _),
    "sim_topk_int8_rescore" -> (topkInt8Rescore _))

  /** The 16 ann planes as a DuckDB VALUES list — the oracle replays the
    * exact bucketing. Safe because bucket signs have slack: min |dot| over
    * every (vector, plane) on the test data is 3.5e-4, ten orders above
    * double rounding (tools/lsh_recall.py measured it), so Spark's codegen
    * kernel and DuckDB's list_dot_product agree on every sign.
    */
  private lazy val planesSqlValues: String =
    hyperplanes.take(NPlanes).zipWithIndex.map { case (p, i) =>
      s"($i, [${p.map(v => if (v > 0) "1" else "-1").mkString(",")}]::DOUBLE[])"
    }.mkString(", ")

  override def oracle: Map[String, String] = Map(
    "sim_ann_lsh" ->
      s"""WITH planes(pid, plane) AS (VALUES $planesSqlValues),
         |b AS (
         |  SELECT e.vec_id, p.pid // $PlanesPerTable AS tbl,
         |    SUM(CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]), p.plane) > 0
         |             THEN 1 << (p.pid % $PlanesPerTable) ELSE 0 END) AS bucket
         |  FROM embeddings e, planes p
         |  GROUP BY e.vec_id, p.pid // $PlanesPerTable),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS v1, c.vec_id AS v2
         |  FROM b a JOIN b c ON a.tbl = c.tbl AND a.bucket = c.bucket
         |                   AND a.vec_id <> c.vec_id),
         |s AS (
         |  SELECT cand.v1, cand.v2,
         |    list_cosine_similarity(CAST(e1.embedding AS DOUBLE[]),
         |                           CAST(e2.embedding AS DOUBLE[])) AS cos
         |  FROM cand JOIN embeddings e1 ON e1.vec_id = cand.v1
         |            JOIN embeddings e2 ON e2.vec_id = cand.v2),
         |r AS (SELECT v1, v2, cos,
         |        ROW_NUMBER() OVER (PARTITION BY v1 ORDER BY cos DESC, v2) AS rn
         |      FROM s)
         |SELECT v1 AS vec_id, v2 AS nearest_in_bucket, ROUND(cos, 6) AS cos
         |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    "sim_ann_ivf" ->
      s"""WITH cents AS (
         |  SELECT vec_id AS cent_id, embedding AS cent FROM embeddings
         |  WHERE vec_id < $IvfCells),
         |inv0 AS (
         |  SELECT c.cent_id, e.vec_id, e.embedding,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
         |      list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
         |                             CAST(c.cent AS DOUBLE[])) DESC, c.cent_id) AS rn
         |  FROM embeddings e CROSS JOIN cents c),
         |inverted AS (
         |  SELECT cent_id AS cell, vec_id, embedding FROM inv0 WHERE rn = 1),
         |q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
         |pr0 AS (
         |  SELECT q.q_id, q.q_emb, c.cent_id,
         |    ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
         |      list_cosine_similarity(CAST(q.q_emb AS DOUBLE[]),
         |                             CAST(c.cent AS DOUBLE[])) DESC, c.cent_id) AS rn
         |  FROM q CROSS JOIN cents c),
         |probes AS (
         |  SELECT q_id, q_emb, cent_id AS cell FROM pr0 WHERE rn <= $NProbe),
         |s AS (
         |  SELECT p.q_id, i.vec_id,
         |    list_cosine_similarity(CAST(p.q_emb AS DOUBLE[]),
         |                           CAST(i.embedding AS DOUBLE[])) AS cos
         |  FROM probes p JOIN inverted i ON i.cell = p.cell AND i.vec_id <> p.q_id),
         |r AS (SELECT q_id, vec_id, cos,
         |        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
         |      FROM s)
         |SELECT q_id, vec_id AS nearest_ivf, ROUND(cos, 6) AS cos
         |FROM r WHERE rn = 1 ORDER BY q_id""".stripMargin,
    // exact_nearest is DuckDB's independent brute-force answer
    // (round-before-rank on both engines); recall3_ok is Spark's in-engine
    // assertion on the k-means IVF probe — see annIvfKmeans scaladoc
    "sim_ann_ivf_kmeans" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
        |s AS (SELECT q_id, e.vec_id AS c_id,
        |        ROUND(list_cosine_similarity(CAST(q_emb AS DOUBLE[]),
        |                                     CAST(e.embedding AS DOUBLE[])), 6) AS cos
        |      FROM q JOIN embeddings e ON e.vec_id <> q_id),
        |r AS (SELECT q_id, c_id,
        |        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rn
        |      FROM s)
        |SELECT q_id, c_id AS exact_nearest, true AS recall3_ok
        |FROM r WHERE rn = 1 ORDER BY q_id""".stripMargin,
    "sim_label_centroids" ->
      """SELECT label, CAST(i AS INT) AS pos,
        |  ROUND(CAST(SUM(CAST(CAST(embedding[i + 1] AS DOUBLE) AS DECIMAL(28,9))) AS DOUBLE)
        |        / COUNT(*), 6) AS mean_x
        |FROM embeddings, UNNEST(range(0, 64)) AS u(i)
        |GROUP BY label, i ORDER BY label, pos""".stripMargin,
    "sim_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
        |s AS (SELECT q_id, e.vec_id AS c_id,
        |        list_cosine_similarity(CAST(q_emb AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])) AS cos
        |      FROM q JOIN embeddings e ON e.vec_id <> q_id),
        |r AS (SELECT q_id, c_id, cos,
        |        ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rn
        |      FROM s)
        |SELECT q_id, CAST(rn AS INT) AS rank, c_id, ROUND(cos, 6) AS cos
        |FROM r WHERE rn <= 3 ORDER BY q_id, rank""".stripMargin,
    "sim_pairs_threshold" ->
      """SELECT a.vec_id AS v1, b.vec_id AS v2, a.label AS l1, b.label AS l2,
        |  ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cos
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.4
        |ORDER BY v1, v2""".stripMargin,
    "sim_quantize_int8" ->
      """WITH s AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
        |    list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) / 127.0 AS scale
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id, emb, scale,
        |    list_transform(emb, x -> CAST(CASE WHEN scale = 0 THEN 0
        |      ELSE least(greatest(round(x / scale), -127), 127) END AS BIGINT)) AS qv
        |  FROM s)
        |SELECT vec_id, ROUND(scale, 9) AS scale,
        |  CAST(list_sum(qv) AS BIGINT) AS q_sum,
        |  CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_l1,
        |  CASE WHEN scale = 0 THEN NULL ELSE
        |    ROUND(list_dot_product(emb, CAST(qv AS DOUBLE[])) /
        |      (sqrt(list_dot_product(emb, emb)) *
        |       sqrt(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[])))), 6)
        |  END AS cos_q
        |FROM q ORDER BY vec_id""".stripMargin,
    "sim_topk_int8_rescore" ->
      s"""WITH s8 AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
         |    list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) / 127.0 AS scale
         |  FROM embeddings),
         |q8 AS (
         |  SELECT vec_id, emb, scale,
         |    list_transform(emb, x -> CAST(CASE WHEN scale = 0 THEN 0
         |      ELSE least(greatest(round(x / scale), -127), 127) END AS BIGINT)) AS qv
         |  FROM s8),
         |est AS (
         |  SELECT a.vec_id AS q_id, b.vec_id AS c_id,
         |    list_dot_product(CAST(a.qv AS DOUBLE[]), CAST(b.qv AS DOUBLE[]))
         |      * a.scale * b.scale AS est
         |  FROM q8 a JOIN q8 b ON a.vec_id < 5 AND b.vec_id <> a.vec_id),
         |cand AS (
         |  SELECT q_id, c_id FROM (
         |    SELECT q_id, c_id,
         |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY est DESC, c_id) AS rn
         |    FROM est) WHERE rn <= $RescoreCandidates),
         |r AS (
         |  SELECT cand.q_id, cand.c_id,
         |    list_cosine_similarity(CAST(e1.embedding AS DOUBLE[]),
         |                           CAST(e2.embedding AS DOUBLE[])) AS cos
         |  FROM cand JOIN embeddings e1 ON e1.vec_id = cand.q_id
         |            JOIN embeddings e2 ON e2.vec_id = cand.c_id),
         |t AS (SELECT q_id, c_id, ROUND(cos, 6) AS cos,
         |        ROW_NUMBER() OVER (PARTITION BY q_id
         |          ORDER BY ROUND(cos, 6) DESC, c_id) AS rn
         |      FROM r)
         |SELECT q_id, CAST(rn AS INT) AS rank, c_id, cos
         |FROM t WHERE rn <= 3 ORDER BY q_id, rank""".stripMargin,
    "sim_nearest_same_label" ->
      """WITH s AS (
        |  SELECT a.vec_id AS v1, a.label, b.vec_id AS v2,
        |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS cos
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id <> b.vec_id),
        |r AS (SELECT v1, label, v2, cos,
        |        ROW_NUMBER() OVER (PARTITION BY v1 ORDER BY cos DESC, v2) AS rn
        |      FROM s)
        |SELECT v1 AS vec_id, label, v2 AS nearest, ROUND(cos, 6) AS cos
        |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin)
}
