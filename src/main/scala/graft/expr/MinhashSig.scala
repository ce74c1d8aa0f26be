package graft.expr

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** minhash_sig(normalized_text, numHashes) → array<long>: the document's
  * complete MinHash signature (mh_0..mh_{numHashes-1}) in ONE pass over the
  * text bytes — no shingle explode, no per-doc aggregation, no shuffle.
  *
  * Exists for the same reason as [[LshProbes]] on the embedding side: the
  * composed form pays row amplification. `shingledOf` explodes ~one row per
  * token (a 100 TB corpus becomes a multi-PB shingle stream), and the
  * 16-way `min` groupBy that follows is the ONLY corpus-wide shuffle on the
  * MinHash candidate path. This kernel computes the same signature inside
  * the scan's whole-stage codegen, so the first shuffle on the path becomes
  * the (band,bucket) groupBy over `bands` rows per doc.
  *
  * BIT-COMPATIBILITY CONTRACT (MinhashSigSpec asserts it on the fixtures
  * and on adversarial token shapes): output equals the composed pipeline
  * `min(xxhash64(xxhash64(shingle), lit(i)))` over `shingledOf`'s 3-token
  * shingles, exactly. The input MUST already be [[DedupOps.normText]]-
  * normalized (single-space separated); the kernel's walk
  * ([[ShingleSet.hashes]]) then reproduces the composed chain byte-for-byte:
  *  - `split(text, " ")` with Java limit -1 semantics == byte segments
  *    between 0x20 bytes (0x20 never occurs inside a multi-byte UTF-8
  *    sequence, so the byte scan is exact), empty segments included;
  *  - shingle i = `concat_ws(" ", slice(toks, i, 3))` == the original byte
  *    range from token i's start to token min(i+2, last)'s end, because the
  *    joiner equals the separator;
  *  - shingle count = max(numToks - 2, 1) (short docs yield one short
  *    shingle, matching `greatest(size - 2, 1)`);
  *  - hash chain: h = XXH64(bytes, seed 42) (Spark's `xxhash64(string)`),
  *    then per function i: XXH64.hashInt(i, XXH64.hashLong(h, 42)) (Spark's
  *    `xxhash64(longCol, lit(i))` fold order), `min` over shingles.
  *
  * Null text produces a null signature (nullIntolerant). The composed path
  * keeps a null-text doc WITH one empty shingle (`greatest(null,1)` is 1
  * and `concat_ws` of a null array is ""), so callers match it by feeding
  * `coalesce(normalized, '')` — the empty string produces the identical
  * one-empty-shingle signature (see [[graft.functions.DedupOps.minhashSigsOf]]).
  */
case class MinhashSig(child: Expression, numHashes: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(numHashes > 0 && numHashes <= 1024, s"minhash_sig: bad numHashes $numHashes")

  override def prettyName: String = "minhash_sig"
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(
      MinhashSig.compute(input.asInstanceOf[UTF8String], numHashes))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // one static call per row keeps the expression inside whole-stage
    // codegen (no CodegenFallback iterator break); the loop itself is
    // hash-dominated, so JIT inlining of the helper is not load-bearing
    nullSafeCodeGen(ctx, ev, x => {
      s"""
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray(graft.expr.MinhashSig.compute($x, $numHashes));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinhashSig {
  private final val Seed = 42L // Spark's xxhash64 default seed

  /** Shingle count above which the fused kernel stops counting distinct
    * shingles and emits [[CardUnknown]] instead. The count's
    * open-addressed set is PER-ROW transient memory, 2·shingles longs, so
    * a single multi-GB document would allocate gigabytes; 2^22 shingles
    * (about a 30 MB document) caps the table at 64 MB, far past any real
    * corpus document (a long book is ~200k tokens). Above it the doc keeps
    * its exact SIGNATURE (banding is unaffected) and merely loses the
    * size-ratio prefilter, which the consumer must honor by passing
    * sentinel rows through
    * ([[graft.functions.DedupOps.minhashCandidatesPlan]]) — the verify
    * stage re-derives true sizes for survivors, so answers are identical.
    */
  final val CardCapShingles: Int = 1 << 22

  /** Sentinel in the card slot: "cardinality not computed — never reject
    * this row on the size-ratio bound". 0 is unreachable as a genuine
    * count (every document yields ≥ 1 shingle, including the empty
    * string), so the sentinel cannot collide with real data. */
  final val CardUnknown: Long = 0L

  /** One-pass signature over a normalized text's bytes. See the class doc
    * for the exact composed-pipeline chain this reproduces.
    */
  def compute(s: UTF8String, numHashes: Int): Array[Long] =
    core(s, numHashes, withCard = false)

  /** Fused signature + distinct-shingle count: slots 0..numHashes-1 are
    * the signature (bit-identical to [[compute]]), slot numHashes is
    * [[ShingleCard.compute]]'s count — or [[CardUnknown]] past
    * [[CardCapShingles]] shingles. One tokenization and one string hash
    * per shingle serve both: the card counts the hashes the signature
    * chain consumes.
    */
  def computeWithCard(s: UTF8String, numHashes: Int): Array[Long] =
    core(s, numHashes, withCard = true)

  private def core(s: UTF8String, numHashes: Int, withCard: Boolean): Array[Long] = {
    val hs = ShingleSet.hashes(s)
    val mins = new Array[Long](if (withCard) numHashes + 1 else numHashes)
    java.util.Arrays.fill(mins, 0, numHashes, Long.MaxValue)
    var sh = 0
    while (sh < hs.length) {
      val seeded = XXH64.hashLong(hs(sh), Seed)
      var i = 0
      while (i < numHashes) {
        val v = XXH64.hashInt(i, seeded)
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      sh += 1
    }
    if (withCard) mins(numHashes) =
      if (hs.length <= CardCapShingles) ShingleSet.distinctCount(hs) else CardUnknown
    mins
  }
}

/** minhash_sig_card(normalized_text, numHashes) → array<long> of
  * numHashes+1: the [[MinhashSig]] signature with the doc's distinct
  * 3-token shingle count appended — the DEPLOYED form on the prefiltered
  * candidate path ([[graft.functions.DedupOps.minhashSigsOf]] with
  * `withCard`), fusing what would otherwise be two kernels re-tokenizing
  * and re-hashing the same bytes. Spec-checked against the two standalone
  * kernels it fuses (MinhashSigSpec).
  */
case class MinhashSigCard(child: Expression, numHashes: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(numHashes > 0 && numHashes <= 1024, s"minhash_sig_card: bad numHashes $numHashes")

  override def prettyName: String = "minhash_sig_card"
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(
      MinhashSig.computeWithCard(input.asInstanceOf[UTF8String], numHashes))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      s"""
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray(graft.expr.MinhashSig.computeWithCard($x, $numHashes));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** shingle_card(normalized_text) → long: the document's DISTINCT 3-token
  * shingle count, from the same tokenize-and-hash walk as [[MinhashSig]]
  * ([[ShingleSet.hashes]]). The two kernels must agree on what a shingle
  * is, or the size-ratio prefilter would reason about different sets than
  * the signature banded on.
  *
  * It feeds the minhash candidate self-join's size-ratio prefilter:
  * J(A,B) ≥ θ implies min(|A|,|B|)/max(|A|,|B|) ≥ θ, an exact bound with
  * zero tuning, so carrying each doc's |distinct shingles| (ONE long)
  * through the (band,bucket) shuffle lets the bucket self-join reject
  * size-mismatched pairs in-stage, before the verify
  * ([[graft.functions.DedupOps]]). This standalone kernel is the SEMANTIC
  * DEFINITION the specs pin; the deployed scan uses the fused
  * [[MinhashSigCard]], which counts the same hashes.
  *
  * Distinctness is counted over the 64-bit xxhash64 of each shingle's
  * bytes, not the strings themselves: a within-doc hash collision
  * undercounts by one. That is the SAME no-collision assumption the
  * minhash signature itself already rests on (colliding shingles perturb
  * the signature and hence banding recall), and the verify counts the
  * same hash sets ([[ShingleSet]]), so bound and verify agree exactly.
  */
case class ShingleCard(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def prettyName: String = "shingle_card"
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any =
    ShingleCard.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.expr.ShingleCard.compute($x);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleCard {
  def compute(s: UTF8String): Long = ShingleSet.distinctCount(ShingleSet.hashes(s)).toLong
}

/** shingle_set(normalized_text) → array<long>: the document's sorted,
  * distinct xxhash64 3-token shingle set, the input of the per-document
  * Jaccard verify ([[graft.functions.DedupOps]]): one array per candidate
  * document, so a pair's intersection is computed from two id-keyed rows
  * instead of a row per shingle. Equals the composed
  * `array_sort(array_distinct(transform(word_shingles(split(t, " ")),
  * xxhash64)))`, and its size is [[ShingleCard]]'s count (MinhashSigSpec
  * pins both). Sorted, so a merge can intersect two sets, as a
  * prefix-filtered join would.
  */
case class ShingleSet(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def prettyName: String = "shingle_set"
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(ShingleSet.compute(input.asInstanceOf[UTF8String]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => s"""
      |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      |  .fromPrimitiveArray(graft.expr.ShingleSet.compute($x));""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The one tokenize-and-hash walk under `minhash_sig`, `minhash_sig_card`,
  * `shingle_card` and `shingle_set`. */
object ShingleSet {
  private final val Seed = 42L // Spark's xxhash64 default seed

  def compute(s: UTF8String): Array[Long] = {
    val hs = hashes(s)
    java.util.Arrays.sort(hs)
    var k = 0 // distinct values compacted to the front: k ≤ the read index
    for (h <- hs) if (k == 0 || h != hs(k - 1)) { hs(k) = h; k += 1 }
    java.util.Arrays.copyOf(hs, k)
  }

  /** xxhash64 (seed 42, Spark's `xxhash64(string)`) of each 3-token
    * shingle of a normalized text, in text order, duplicates kept. Tokens
    * are the byte segments between 0x20 bytes, empty ones included
    * (`split(text, " ")` with limit -1; 0x20 never occurs inside a
    * multi-byte UTF-8 sequence). Shingle i is the byte range from token
    * i's start to token i+2's end, which is `concat_ws(" ", slice(toks,
    * i, 3))` because the joiner equals the separator. A text of fewer
    * than three tokens is one shingle, the whole text.
    */
  def hashes(s: UTF8String): Array[Long] = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var numToks = 1
    var p = 0
    while (p < n) {
      if (Platform.getByte(base, off + p) == 0x20) numToks += 1
      p += 1
    }
    if (numToks < 3) return Array(XXH64.hashUnsafeBytes(base, off, n, Seed))
    val out = new Array[Long](numToks - 2)
    // starts of tokens j-2, j-1 and j while token j is scanned; the space
    // ending token j ≥ 2 closes shingle j-2
    var a = 0; var b = 0; var c = 0
    var j = 0
    p = 0
    while (p < n) {
      if (Platform.getByte(base, off + p) == 0x20) {
        if (j >= 2) out(j - 2) = XXH64.hashUnsafeBytes(base, off + a, p - a, Seed)
        a = b; b = c; c = p + 1; j += 1
      }
      p += 1
    }
    out(j - 2) = XXH64.hashUnsafeBytes(base, off + a, n - a, Seed)
    out
  }

  /** How many distinct values `hs` holds, in O(hs.length): an
    * open-addressed long set of capacity the smallest power of two ≥
    * 2·length (load ≤ 0.5 keeps probe chains short). 0 is the empty slot;
    * a genuine 0 is tracked by a flag. Sorting counts the same in
    * O(n log n), measurably slower on the deployed signature scan.
    */
  def distinctCount(hs: Array[Long]): Int = {
    // past 2^29 the capacity doubling below overflows: fail loudly instead
    require(hs.length <= (1 << 29),
      s"shingle_card: document has ${hs.length} shingles (limit ${1 << 29})")
    var cap = 4
    while (cap < hs.length * 2) cap <<= 1
    val table = new Array[Long](cap)
    val mask = cap - 1
    var seenZero = false
    var card = 0
    var i = 0
    while (i < hs.length) {
      val h = hs(i)
      if (h == 0L) {
        if (!seenZero) { seenZero = true; card += 1 }
      } else {
        var idx = (h ^ (h >>> 32)).toInt & mask
        while (table(idx) != 0L && table(idx) != h) idx = (idx + 1) & mask
        if (table(idx) == 0L) { table(idx) = h; card += 1 }
      }
      i += 1
    }
    card
  }
}
