package graft.functions

import graft.core.{Fanout, Knobs}
import graft.plans.BandPairs
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The banding layer behind every LSH-style candidate route: sign-LSH over
  * embeddings, MinHash over shingles and SimHash over signatures. Each
  * family gives every row an array of band keys (one bucket per band, or
  * per table); rows meet only where a band's keys agree, and the one
  * [[selfJoin]] here builds that meeting for all three. A route differs
  * from another only in its key expression ([[signLsh]], [[minhash]],
  * [[simhash]]), what it carries through the pairing and its own pair
  * test; the pairing operator, the canonical-pair rule, the bucket cap and
  * the fan-out are decided once, here. [[BandTuner]] prices a shape by
  * exploding the same key expressions ([[slots]]), so the priced bucketing
  * is the deployed bucketing.
  */
private[graft] object Banding {

  // explicit name (not getClass, whose `$` suffix varies) so the
  // ExactnessSpec warn-tier appender can address this logger exactly
  private val log = org.slf4j.LoggerFactory.getLogger("graft.functions.Banding")

  /** A family's band-key expression: an `array<int>` or `array<bigint>`
    * of `width` keys per row. */
  final case class Keys(col: Column, width: Int)

  /** Sign-LSH keys of `embedding`: `tables` tables of `planes` hyperplane
    * sign bits, each followed by `probeBits` probe buckets
    * ([[graft.expr.LshProbes]]); `array<int>`, stride `1 + probeBits`.
    */
  def signLsh(tables: Int, planes: Int, probeBits: Int): Keys =
    Keys(expr(s"lsh_probes(embedding, $tables, $planes, $probeBits)"), tables * (1 + probeBits))

  /** MinHash band keys over the `mh_*` signature columns: band `b`'s key is
    * the xxhash64 of its `rows` consecutive min-hashes. `array<bigint>`,
    * never truncated: at 100 TB, 32-bit band keys would collide by the
    * birthday bound and flood the verify with spurious candidates.
    */
  def minhash(bands: Int, rows: Int): Keys =
    Keys(array((0 until bands).map(b =>
      xxhash64((0 until rows).map(r => col(s"mh_${b * rows + r}")): _*)): _*), bands)

  /** SimHash band keys of the 64-bit `sig`: its first `bands` 16-bit
    * slices, low slice first, as `array<int>`.
    */
  def simhash(bands: Int): Keys =
    Keys(array((0 until bands).map(t =>
      shiftright(col("sig"), 16 * t).bitwiseAND(lit(0xFFFFL)).cast("int")): _*), bands)

  /** One row per band key of `rows`: the `keep` columns plus `pos` (the
    * key's position), `bucket` (the key) and `tbl` (its table: the
    * position, or the position over the stride `1 + probeBits`).
    */
  def slots(rows: DataFrame, keep: Seq[Column], keys: Column, probeBits: Int): DataFrame =
    rows.select(keep :+ posexplode(keys).as(Seq("pos", "bucket")): _*)
      // unprobed, a slot IS its table; `pos`, unlike `div`, is non-null,
      // so no IsNotNull(tbl) filter is inferred into the scan stage
      .withColumn("tbl",
        if (probeBits == 0) col("pos") else expr(s"pos div ${1 + probeBits}").cast("int"))

  /** The banded self-join: one row per candidate pair of `rows`, at the
    * pair's canonical discovery, carrying the ids as `<as>1` and `<as>2`
    * (from `id = column -> as`), the `within` columns and each `carry`
    * column twice (suffixed `1` and `2`). Unprobed, every pair leaves as
    * `<as>1 < <as>2`.
    *
    * Each row's key array (`keys`, stride `1 + probeBits`; slot 0 of each
    * table its base bucket) is computed once, as the carried `pr`, and
    * posexploded into one (tbl, bucket) slot row per key. The generator
    * reads `pr` element by element: exploding the bare column would let
    * the optimizer infer size and IsNotNull filters on it, pushed below
    * the Project as further key computations per row.
    *
    * The slot rows are clustered on (tbl, bucket, within...) and paired by
    * [[graft.plans.BandPairs]], which groups each partition's slot rows
    * by bucket and walks each bucket's pairs once: every slot of one row
    * against the base slot of the other, so a pair meets once per table
    * where the base buckets collide and once per probe slot that lands in
    * the other row's base bucket. The one de-duplication rule keeps a pair
    * only at its canonical discovery ([[graft.expr.LshFirstShared]] over
    * both rows' arrays — first table, then base–base, then a probe from
    * the lower id, then one from the higher), so every pair leaves once
    * and no pair distinct (a 64 MB Tungsten page per task) runs. `test`
    * (the int8 prefilter, the MinHash size ratio) runs on the canonical
    * pairs only, inside the same loop.
    *
    * `cap` is a route's bucket-cap knob and its value: [[capBuckets]]
    * counts base slots per (tbl, bucket), drops every slot row in an
    * over-cap bucket, and the over-cap buckets reach the canonical rule as
    * one sorted array per table, so a pair whose first shared bucket was
    * dropped is kept at the next one.
    *
    * The slot rows are fanned out ([[graft.core.Fanout]]): the pairing's
    * work is Σ bucket², not bytes, but AQE sizes an exchange by bytes and
    * merges a small corpus's into ONE task. At scale, and on a capped
    * stream's checkpoint (no input files), the fan-out passes through and
    * the exchange the pairing's required distribution adds decides, with
    * AQE's merging. The renames stay below the exchange, in the scan's
    * generated stage.
    */
  def selfJoin(rows: DataFrame, id: (String, String), keys: Keys, probeBits: Int = 0,
      carry: Seq[(String, Column)] = Nil, within: Seq[String] = Nil,
      cap: Option[(Knobs.Cap, Int)] = None, test: Option[Column] = None): DataFrame = {
    require(cap.isEmpty || within.isEmpty, "a bucket cap counts (tbl, bucket) alone")
    val (idCol, as) = id
    val pr = col("pr")
    // carried columns are materialized BEFORE the posexplode select: listed
    // in the same select, the generator would be extracted underneath them
    // and they would be re-evaluated per generated row (t× per row); as
    // pass-through columns they land in the Generate's requiredChildOutput
    val slotRows = slots(
      rows.select(col("*") +: carry.map { case (n, c) => c.as(n) } :+ keys.col.as("pr"): _*),
      (col(idCol) +: within.map(col)) ++ carry.map(c => col(c._1)) :+ pr,
      when(pr.isNotNull, array((0 until keys.width).map(pr(_)): _*)), probeBits)
    val joinKeys = Seq("tbl", "bucket") ++ within
    val capped = for ((dial, c) <- cap) yield capBuckets(slotRows, joinKeys, c, dial,
      counted = if (probeBits == 0) lit(true) else col("pos") % (1 + probeBits) === 0)
    val stream = capped.fold(slotRows)(_._1)
    val overCap = capped.fold(Seq.empty[Seq[Long]]) { case (_, over) =>
      val byTable = over.collect().groupMap(_.getInt(0))(_.getAs[Number](1).longValue)
      (0 until byTable.keys.maxOption.fold(0)(_ + 1)).map(t =>
        byTable.getOrElse(t, Array.empty[Long]).toSeq)
    }
    val sides = (idCol -> as) +: carry.map { case (n, _) => n -> n }
    val input = stream.select(joinKeys.map(col) ++ Seq(col("pos"), pr) ++
      sides.map { case (c, n) => col(c).as(s"${n}1") }: _*)
    BandPairs(Fanout.maybeFanout(input, joinKeys.map(col): _*), joinKeys, "pos", "pr",
      probeBits, overCap, sides.map { case (_, n) => s"${n}1" -> s"${n}2" }, test)
  }

  /** The oversized-bucket drop behind every bucket-cap knob `dial`
    * ([[Knobs.DedupBucketCap]], a sign-LSH route's cap) — one
    * implementation, inside [[selfJoin]], so the routes cannot silently
    * diverge. Returns the rows of `bucketed` whose bucket holds at most
    * `cap` of the `counted` rows (a bucket with no counted row is dropped
    * too), and the over-cap `keys`, one row per dropped bucket, read from
    * the materialized sizes. The bucketed stream is materialized ONCE
    * through a `localCheckpoint` so the cap's consumers (the sizes
    * aggregation, the semi-join leg, and every self-join side downstream)
    * read persisted rows instead of each re-running the scan+signature
    * subtree (4 passes without it); the blocks are ContextCleaner-released
    * once the returned frame is unreferenced. `shuffle_hash` on the
    * (keys,count) side: it is strictly smaller than the stream it filters,
    * but corpus-proportional — broadcast is never the scale-correct
    * strategy for it. Callers gate on cap > 0.
    *
    * EMPTY-INDEX TRIPWIRE: a cap below corpus / buckets-per-table puts
    * EVERY bucket over the cap and the drop silently returns an empty
    * candidate set — a dedup run that quietly reports "no near-dups" on a
    * corpus full of them (sign-LSH 8×4 at 20k vectors with cap 512 → 0
    * candidates; every bucket held ~1250). The sizes aggregation this
    * helper computes anyway makes the check nearly free: ONE eager pass
    * over the checkpointed blocks at construction (blocks the first
    * consumer would materialize immediately after). The hard-fail is a
    * COMBINED predicate: (a) ≥ 99% of BUCKETS over the cap — the pure
    * shape mismatch, which drowns every bucket at once — OR (b) ≥ 99% of
    * the row MASS over the cap while over-cap buckets are also the
    * MAJORITY of observed buckets — the skewed mismatch, where a tail of
    * near-empty buckets keeps the bucket fraction under (a) while the
    * index still empties. Row mass alone cannot tell either footgun from
    * a legitimately extreme hot-cluster corpus — ≥ 99% of rows in hot
    * buckets on a matched shape, exactly the case the cap exists for,
    * which must run, not fail — hence the majority hatch in (b): a
    * mismatch means the MEAN bucket is over the cap, so uniform hashing
    * drowns essentially every occupied bucket, while a hot-cluster corpus
    * is bimodal — its background population outnumbers the hot buckets in
    * COUNT even when negligible in mass. The hatch deliberately measures
    * against OBSERVED (non-empty) buckets and stays at the 50% boundary:
    * a tighter hatch (10%) hard-failed legitimate multi-cluster /
    * thin-background corpora, whose observed-bucket count shrinks as
    * clusters dominate (15 clusters × 8 tables = 120 hot of ~920 observed
    * is already 13%). 99%, not 100%, on buckets in (a): the mismatch
    * drowns every bucket; a matched shape keeps its many small background
    * buckets under the cap.
    *
    * WARN TIER: below the hard-fail, a cap can still legally excise most
    * of the candidate MASS (a 90%-hot corpus drops 90% of bucketed rows
    * without tripping any guard). When over-cap buckets hold ≥ 50% of
    * bucketed rows — and the shape guard above did not fire — log a
    * WARNING with the same shape arithmetic and the BandTuner pointer,
    * from the stats row already in hand. The query proceeds: excising a
    * dominant hot cluster is the dial's documented purpose; the warning
    * makes the magnitude visible instead of silent. SCALE.md ("History
    * moved out of the scaladocs") has the measurements behind both tiers.
    */
  def capBuckets(bucketed: DataFrame, keys: Seq[String], cap: Int,
      dial: Knobs.Cap, counted: Column = lit(true)): (DataFrame, DataFrame) = {
    val bMat = bucketed.localCheckpoint(false)
    // eager checkpoint: the groupBy over the band stream runs ONCE — the
    // tripwire stats and the semi-join build side below both read the
    // materialized (keys, bkt_n) frame (one narrow row per bucket), not
    // re-run the corpus-proportional aggregation
    val sizes = bMat.filter(counted).groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("bkt_n"))
      .localCheckpoint(true)
    val bn = col("bkt_n")
    val st = sizes.agg(
      coalesce(sum(bn), lit(0L)).as("total"),
      coalesce(sum(when(bn > cap, bn)), lit(0L)).as("over"),
      count(lit(1)).as("buckets"),
      coalesce(sum(when(bn > cap, lit(1L))), lit(0L)).as("overBuckets"),
      coalesce(min(when(bn > cap, bn)), lit(0L)).as("minOver")).head
    val (total, over) = (st.getLong(0), st.getLong(1))
    val (buckets, overBuckets, minOver) =
      (st.getLong(2), st.getLong(3), st.getLong(4))
    val remedy = dial.remedy(minOver)
    val drowned = overBuckets >= 0.99 * buckets
    val massGoneBeyondHotCluster = over >= 0.99 * total && overBuckets > 0.5 * buckets
    require(total == 0L || !(drowned || massGoneBeyondHotCluster),
      s"${dial.key}=$cap would drop ${if (over == total) "ALL" else s"$over of $total"} " +
        s"bucketed rows ($overBuckets of $buckets buckets over the cap) — the " +
        "candidate index would be silently empty(ish) and the dedup would " +
        s"report no near-dups on any corpus. $remedy")
    if (total > 0L && over >= 0.5 * total) {
      // floored, not rounded: a 98.7% fraction must never print as the
      // 99% hard-fail threshold it sits below; Locale.ROOT via core.Fmt,
      // not the f-interpolator, which uses the JVM default locale (a
      // comma-decimal JVM would log '98,70%')
      val overPct = math.floor(overBuckets * 10000.0 / math.max(buckets, 1L)) / 100
      val overPctStr = graft.core.Fmt.num(overPct, 2)
      log.warn(s"${dial.key}=$cap drops $over of $total bucketed rows — over half " +
        s"the candidate mass ($overBuckets of $buckets buckets over the cap, " +
        s"smallest over-cap bucket $minOver). Legal — the guard reads " +
        s"$overPctStr% of buckets over the cap, below the footgun regime — " +
        "but verify the dial is sized to THIS corpus: a hot-cluster " +
        s"excision this large should be intentional. $remedy")
    }
    val small = sizes.filter(bn <= cap).select(keys.map(col): _*)
    (bMat.join(small.hint("shuffle_hash"), keys, "left_semi"),
      sizes.filter(bn > cap).select(keys.map(col): _*))
  }
}
