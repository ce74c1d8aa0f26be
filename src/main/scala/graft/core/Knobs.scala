package graft.core

import org.apache.spark.sql.SparkSession

/** The engine's configuration surface: every `graft.*` session key, with
  * its type, default, parse-and-validate step, expected form and one doc
  * line, declared once here and read nowhere else (the role
  * `core-default.xml` plays in Hadoop). Knobs are read once per DataFrame
  * construction, never per row.
  *
  * Deployment posture is ONE switch, [[Profile]] = `gate` (default) or
  * `deployment`. Two exactness knobs take their default from it, because
  * their right value depends on who is asking:
  *
  *  - [[SumsExact]] — decimal-routed double sums. The oracle gate needs
  *    bit-reproducible hashes; a deployment wants plain double speed
  *    (industry-standard last-ulp nondeterminism).
  *  - [[SimExact]] — all-pairs exact similarity/dedup baselines vs banded
  *    LSH candidate routes. The gate's all-pairs forms are the
  *    oracle-checkable ground truth; at deployment scale they are Θ(n²)
  *    and the banded Θ(Σ|bucket|²) routes are the only viable shape
  *    (measured crossover: SCALE.md rounds 6–7).
  *
  * An EXPLICIT setting of either always wins; otherwise the profile
  * supplies the default (`gate` → both true, `deployment` → both false).
  * The correctness gate never sets the profile (Verify pins `SimExact`
  * explicitly so the banded legs can flip it; `SumsExact` resolves through
  * the gate default), so gate results are independent of profile
  * resolution, and a production session opts into the scale posture with
  * `spark.conf.set("graft.profile", "deployment")`.
  *
  * Band shapes are deliberately NOT profile-driven: they are a corpus
  * property, declared per [[Route]] and tuned per deployment with
  * [[graft.functions.BandTuner.suggest]].
  */
object Knobs {

  /** One `graft.*` key. Reading it returns the explicit setting, parsed
    * and validated in one step, or the default when unset. A value that
    * does not parse or is out of range fails naming the key, the
    * `expected` form and the value, not with a bare `For input string`
    * that names neither.
    */
  class Knob[T] private[Knobs] (val key: String, val expected: String, val doc: String,
      default: SparkSession => T, parse: String => Option[T]) {
    def apply(spark: SparkSession): T =
      spark.conf.getOption(key).fold(default(spark))(v => parse(v).getOrElse(
        throw new IllegalArgumentException(s"$key must be $expected, got '$v'")))
  }

  private def flag(key: String, default: Boolean, doc: String): Knob[Boolean] =
    new Knob(key, "true or false", doc, _ => default, _.toBooleanOption)

  /** A bucket-cap knob (0 or less = off), with the advice its empty-index
    * tripwire ([[graft.functions.DedupOps.capBuckets]]) gives; `remedy`
    * is handed the smallest over-cap bucket.
    */
  final class Cap private[Knobs] (key: String, expected: String, doc: String,
      val remedy: Long => String)
    extends Knob[Int](key, expected, doc, _ => 0, _.toIntOption)

  val Gate = "gate"
  val Deployment = "deployment"

  val Profile: Knob[String] = new Knob("graft.profile", s"'$Gate' or '$Deployment'",
    "deployment posture: the default of both exactness knobs", _ => Gate,
    Some(_).filter(Set(Gate, Deployment)))

  private def exact(key: String, doc: String): Knob[Boolean] =
    new Knob(key, "true or false", doc, Profile(_) == Gate, _.toBooleanOption)

  /** `true` routes double sums through decimal: bit-reproducible across
    * partitionings and engines, which the hash-equality correctness gate
    * requires, at ~3x the agg cost. `false` is the plain-double deployment
    * path; Bench opts into it. */
  val SumsExact: Knob[Boolean] = exact("graft.sums.exact",
    "double sums through decimal, bit-reproducible (default from the profile)")

  /** `true` keeps the all-pairs exact similarity/dedup baselines; `false`
    * routes `sim_pairs_threshold`, `sim_nearest_same_label`,
    * `dedup_embedding_cosine` and the Jaccard family through the banded LSH
    * candidate generators — the 100 TB path. ExactnessSpec asserts the two
    * produce identical rows on the test data (the [[Route]] default shapes
    * are chosen so candidate recall is total there; `tools/lsh_recall.py`
    * is the measurement that picked them). */
  val SimExact: Knob[Boolean] = exact("graft.sim.exact",
    "all-pairs exact similarity/dedup instead of the banded LSH routes (default from the profile)")

  /** The threshold routes cut candidate pairs with the provably-lossless
    * [[graft.expr.Int8Keep]] int8 bound BEFORE the pair exchange and the
    * float verify joins, and the MinHash candidate join rejects pairs
    * failing the size-ratio bound. Answers are identical either way
    * (Int8PrefilterSpec / ExactnessSpec); the knob exists for A/B
    * measurement, not semantics. */
  val SimPrefilter: Knob[Boolean] = flag("graft.sim.prefilter", default = true,
    "lossless int8 / size-ratio candidate prefilters on the banded routes")

  /** Before the MinHash candidate self-join, DROP every (band, bucket)
    * group holding more than this many documents. The quadratic hazard it
    * bounds is measured, not hypothetical (SCALE.md round 12): on a
    * boilerplate corpus the 8×2 shape's candidate mass grows
    * ~quadratically in corpus size — shared banner shingles supply the
    * per-band minima for short documents, so a constant FRACTION of
    * same-size doc pairs collides, mass the size-ratio prefilter cannot
    * touch (equal sizes pass the bound) — and at 100k docs the uncapped
    * verify fan-out kills the local JVM outright. A bucket of c docs
    * contributes c(c−1)/2 enumerated pairs; capping bounds total
    * candidate mass to O(corpus × cap) — linear again.
    *
    * Semantics, stated honestly: capping is LOSSY, which is why the gate
    * leaves it off (the DuckDB oracle replays exact banding). A pair at
    * Jaccard j collides in each band independently with probability
    * j^rows, so a pair losing k of its colliding bands to the cap is still
    * found with 1−(1−j^rows)^(B−k) — near-dup pairs that share ANY small
    * bucket survive. What the cap removes outright is pairs ALL of whose
    * shared buckets are degenerate — i.e. documents whose similarity IS
    * the boilerplate (or thousand-fold identical copies, which exact dedup
    * upstream handles cheaper). ExactnessSpec pins both directions: a
    * permissive cap is a no-op on the gate corpus, and the capped
    * candidate set equals the independent pairs-sharing-a-small-bucket
    * reference on a boilerplate corpus. MinHash band buckets are hashed
    * band values, so the tripwire's fix is more rows per band, not more
    * buckets. */
  val DedupBucketCap: Cap = new Cap("graft.dedup.bucketcap", "an int",
    "drop MinHash (band, bucket) groups over N docs; lossy, 0 = off",
    minOver => "Nearly every band bucket is degenerate at this shape: raise the cap " +
      s"to at least the smallest over-cap bucket ($minOver) or sharpen the " +
      "bands (more rows per band via graft.sim.bands.minhash; " +
      "BandTuner.suggestMinhash names a corpus-matched shape and cap).")

  /** Verify over each candidate document's sorted set of 8-byte xxhash64
    * shingle keys (`shingle_set`) instead of its set of shingle STRINGS.
    * Off = the string-set verify, kept as the A/B control and the
    * collision-free semantic reference (ExactnessSpec asserts the two
    * paths emit identical rows). */
  val DedupHashVerify: Knob[Boolean] = flag("graft.dedup.hashverify", default = true,
    "Jaccard verify over xxhash64 shingle sets; false = shingle strings")

  /** Route `text_decontaminate`'s overlap join through a bloom prefilter
    * instead of broadcasting the eval-gram strings — the outgrow path for
    * eval sets past the broadcast budget (SCALE.md round 12). Off is right
    * whenever the grams DO broadcast (the gate, and most real benchmark
    * suites): the broadcast hash join already kills misses in-stage, and
    * the bloom would only add a probe per shingle. */
  val TextDecontamBloom: Knob[Boolean] = flag("graft.text.decontam.bloom", default = false,
    "decontamination through a bloom prefilter instead of a broadcast")

  /** A banded candidate route and its default shape, `tables` x `planes`
    * (for MinHash, bands x rows per band). Its band-shape knob
    * `graft.sim.bands.<name>` = `"<tables>x<planes>"` exists because band
    * shapes are a corpus property, not a code property: candidate volume
    * is Θ(Σ|bucket|²), so a clustered deployment corpus wants more planes
    * per table (smaller buckets) than the worst-case-uniform gate corpus.
    * The defaults are the shapes the oracle gate validates (TOTAL
    * candidate recall on the test data — tools/lsh_recall.py);
    * [[graft.functions.BandTuner.suggest]] picks a shape for a
    * deployment's own corpus, and SCALE.md rounds 6–7 hold the
    * measurements that validated its rule on a clustered corpus.
    * Positivity and parseability are validated here (an all-digit value
    * past Int range too), so every route fails with the knob error rather
    * than deep in plan build, where the MinHash route with 0 hashes would
    * die on an empty aggregate list.
    */
  class Route private[Knobs] (val name: String, val tables: Int, val planes: Int) {
    val bands: Knob[(Int, Int)] = new Knob(s"graft.sim.bands.$name",
      "'<tables>x<planes>' with both positive ints",
      s"$name band shape (default ${tables}x$planes)", _ => (tables, planes),
      _.toLowerCase.split("x") match {
        case Array(ts, ps) =>
          for (t <- ts.trim.toIntOption; p <- ps.trim.toIntOption if t > 0 && p > 0)
            yield (t, p)
        case _ => None
      })

    def knobs: Seq[Knob[_]] = Seq(bands)
  }

  /** A sign-LSH (random-hyperplane) route: besides its shape, a multi-probe
    * knob, and a bucket cap when `capped`.
    *
    * `graft.sim.probe.<name>` = number of Hamming-1 neighbor buckets to
    * visit per table on the probe side (default 0 = off, the gate posture;
    * the gate's shapes are already recall-total there). A deployment turns
    * it on to buy top-1 recall on isolated vectors WITHOUT adding tables —
    * candidate volume grows by at most (1+bits)×, concentrated on the
    * low-margin planes where misses live (SCALE.md round 7). Clamped to
    * the planes per table ([[graft.expr.LshProbes]] can only flip bits a
    * table has).
    *
    * `graft.sim.bucketcap.<name>` (default 0 = off): before the candidate
    * self-join, DROP every (table, bucket) group holding more than this
    * many vectors — the embedding-side twin of [[DedupBucketCap]] (SCALE.md
    * round 12 named the symmetric hazard; round 13 measures it). The int8
    * prefilter cannot touch this mass: a hot bucket of near-IDENTICAL
    * vectors (a thousand-fold-duplicated embedding, a zero-vector pile, a
    * template artifact) passes any cosine bound BY VALUE, so its c(c−1)/2
    * pairs all reach the pair exchange and the float verify — quadratic in
    * the duplication factor. Capping bounds candidate mass to
    * O(corpus × cap).
    *
    * Semantics, stated honestly (the MinHash cap's argument transposed):
    * capping is LOSSY, which is why the gate leaves it off. A pair at
    * cosine c collides per table with probability (1−θ/π)^planes, so a
    * pair losing k of its colliding tables to the cap is still found
    * through any surviving shared bucket — near-neighbor pairs that share
    * ANY small bucket survive. What the cap removes outright is pairs ALL
    * of whose shared buckets are degenerate — vectors whose similarity IS
    * the mass duplication, which exact dedup upstream (or
    * [[graft.functions.SimilarityOps.quantizeInt8]]-keyed grouping)
    * handles cheaper than any pairwise route. ExactnessSpec pins both
    * directions: a permissive cap is a no-op on the gate corpus, and the
    * capped candidate set equals the independent
    * pairs-sharing-a-small-bucket reference on a dense-duplicate corpus.
    *
    * PRECONDITION — a corpus-matched band shape. Sign-LSH has only
    * 2^planes buckets per table, so a cap below corpus / 2^planes puts
    * EVERY bucket over the cap and silently empties the index (SCALE.md
    * round 13: 8×4 at 20k vectors with cap 512 → 0 candidates; every
    * bucket held ~1250). The cap belongs with the shape rule of SCALE.md
    * round 6 (bucket count ≫ cluster count, via the band-shape knob and
    * [[graft.functions.BandTuner.suggest]]); on a matched shape the hot
    * cluster still collapses into ONE bucket per table (near-identical
    * vectors share every sign bit) while the background spreads, and the
    * cap separates cleanly. [[graft.functions.DedupOps.capBuckets]] fails
    * the silent-empty shape loud at construction and warns when over-cap
    * buckets hold half the rows (its scaladoc has the predicate).
    *
    * The cap is scoped per route, like the band shapes, because one
    * global value tuned for dedup's hot-bucket excision silently degraded
    * every other route in the session: a top-1 route that loses a
    * hot-bucket member's only shared bucket loses that vector's true
    * nearest outright, where dedup merely re-finds the pair through
    * transitive small buckets ([[RetiredSimBucketCap]]).
    */
  class LshRoute private[Knobs] (name: String, tables: Int, planes: Int, capped: Boolean)
      extends Route(name, tables, planes) {
    val probe: Knob[Int] = new Knob(s"graft.sim.probe.$name", "a non-negative int",
      s"$name multi-probe: Hamming-1 neighbor buckets per table (0 = off)", _ => 0,
      _.toIntOption.filter(_ >= 0))

    val bucketCap: Option[Cap] = Option.when(capped)(new Cap(s"graft.sim.bucketcap.$name",
      "an int bucket cap (<= 0 = off)",
      s"drop $name (table, bucket) groups over N vectors; lossy, 0 = off",
      minOver => "This is a band-SHAPE mismatch, not a corpus property: sign-LSH has " +
        "2^planes buckets per table, so a cap below corpus/2^planes puts " +
        s"every bucket over the cap. Raise the cap to at least the smallest " +
        s"over-cap bucket ($minOver) or sharpen the shape (more planes per " +
        "table via graft.sim.bands.<key>; BandTuner.suggest names a " +
        "corpus-matched shape and cap)."))

    override def knobs: Seq[Knob[_]] = super.knobs ++ (probe +: bucketCap.toSeq)

    /** This route's settings in `spark`. */
    def apply(spark: SparkSession): Banding = {
      val (t, p) = bands(spark)
      Banding(this, t, p, math.min(probe(spark), p), bucketCap.fold(0) { c =>
        checkRetiredSimBucketCap(spark)
        c(spark)
      })
    }
  }

  /** One sign-LSH route's resolved settings: `tables` x `planes`,
    * `probeBits` neighbor buckets per table, and `bucketCap` (0 or less =
    * off; only a route with a cap family can have one). */
  final case class Banding(route: LshRoute, tables: Int, planes: Int,
      probeBits: Int = 0, bucketCap: Int = 0) {
    require(bucketCap <= 0 || route.bucketCap.nonEmpty,
      s"the ${route.name} route has no bucket cap")

    /** The cap knob and its value, when the cap is on. */
    def cap: Option[(Cap, Int)] = route.bucketCap.filter(_ => bucketCap > 0).map(_ -> bucketCap)
  }

  /** `sim_pairs_threshold`: a loose 0.4 threshold (66°) needs 2-bit tables. */
  val Pairs = new LshRoute("pairs", 16, 2, capped = true)

  /** `dedup_embedding_cosine`: a tight 0.9 threshold (26°) tolerates
    * 4-bit tables. */
  val CosDedup = new LshRoute("cosdedup", 8, 4, capped = true)

  /** `sim_nearest_same_label`: top-1 retrieval has no threshold to lean
    * on, so the most recall-heavy shape, 32 single-plane hemispheres. */
  object SameLabel extends LshRoute("samelabel", 32, 1, capped = false) {
    /** Broadcast-safety bound for the rescue tail — the engineering limit
      * of the "isolated minority" premise, independent of what fraction
      * [[rescueMaxFrac]] accepts: past it the tail ships via shuffle join
      * even when the run is allowed to proceed, because broadcasting a
      * corpus-proportional set is a memory bomb at any knob setting. */
    val BroadcastSafeFrac = 0.05

    /** Cosine confidence floor below which a banded top-1 answer is
      * re-derived exactly (0 = off, the default). The two-tier contract:
      * banded answers ≥ floor are kept, everything else — including
      * vectors with no candidates — pays the exact label-slice scan.
      * Recall for the rescued population is 1.0 by construction; residual
      * misses need BOTH a missed true neighbor AND a spurious confident
      * stand-in above the floor (SCALE.md round 7). */
    val rescue: Knob[Double] = new Knob("graft.sim.rescue.samelabel", "a cosine in [0, 1)",
      "rescue floor: banded top-1 answers below it are re-derived exactly (0 = off)",
      _ => 0.0, _.toDoubleOption.filter(v => v >= 0.0 && v < 1.0))

    /** Largest unresolved fraction the rescue tier will run with (default
      * [[BroadcastSafeFrac]]). Above it the tier fails naming
      * [[graft.functions.BandTuner.suggest]] rather than paying a
      * corpus-proportional exact re-scan the advisor would have rejected;
      * raising it past the broadcast-safe bound swaps the broadcast for a
      * shuffle join, so accepting a fat tail costs time, never memory
      * (SCALE.md "Rescue-tier guard (round 8)"). */
    val rescueMaxFrac: Knob[Double] = new Knob("graft.sim.rescue.maxfrac.samelabel",
      "a fraction in [0, 1]", "largest unrescued fraction the rescue tier runs with",
      _ => BroadcastSafeFrac, _.toDoubleOption.filter(v => v >= 0.0 && v <= 1.0))

    override def knobs: Seq[Knob[_]] = super.knobs ++ Seq(rescue, rescueMaxFrac)
  }

  /** The MinHash candidate route, bands x rows per band: rows per band
    * trade recall for pruning exactly like planes per table (band match
    * probability is j^rows). The oracle is shape-independent (exact
    * Jaccard over the emitted pairs), so any recall-total shape
    * hash-matches; [[graft.functions.BandTuner.suggestMinhash]] picks one
    * for a corpus. */
  val MinHash = new Route("minhash", 8, 2)

  /** Every live key. */
  val all: Seq[Knob[_]] = Seq(Profile, SumsExact, SimExact, SimPrefilter, DedupBucketCap,
    DedupHashVerify, TextDecontamBloom) ++
    Seq(Pairs, SameLabel, CosDedup, MinHash).flatMap(_.knobs)

  /** Retired: `graft.sim.bucketcap` capped EVERY banded consumer in the
    * session, so a cap tuned for dedup silently degraded the top-1 routes.
    * Setting it fails with a migration message rather than capping
    * everything; a value that parses to off (≤ 0, the old default) stays
    * the no-op it always was, so a session that disabled it explicitly
    * does not crash. */
  val RetiredSimBucketCap = "graft.sim.bucketcap"

  private def checkRetiredSimBucketCap(spark: SparkSession): Unit =
    require(spark.conf.getOption(RetiredSimBucketCap).forall(_.toIntOption.exists(_ <= 0)),
      "graft.sim.bucketcap is no longer a global dial: one value capped EVERY " +
        "banded-candidate consumer in the session, so a cap tuned for dedup " +
        "silently degraded top-1 routes. Set graft.sim.bucketcap.<key> for the " +
        "consumer you mean (cosdedup or pairs).")

  /** Run `body` with `overrides` set on the session conf, then restore each
    * key's prior value (unset where it had none), also when `body` throws.
    */
  def withConf[T](spark: SparkSession, overrides: (String, String)*)(body: => T): T = {
    val prior = overrides.map { case (k, _) => k -> spark.conf.getOption(k) }
    overrides.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
