package graft.expr

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}

/** The seeded Rademacher (±1) hyperplane family shared by every LSH
  * consumer — held as primitive `float[][]` so kernels index it directly.
  * scala.util.Random(42), plane-major: extending `Max` APPENDS planes
  * without changing existing ones (each plane consumes `Dim` booleans of
  * the stream in order), so every previously validated band config is
  * byte-identical under a wider family. Mirrored by tools/lsh_recall.py
  * and inlined into the DuckDB oracle as constants.
  */
object Hyperplanes {
  val Dim = 64
  val Max = 128 // admits 8×10+ shapes for 100k+-cluster corpora
  lazy val planes: Array[Array[Float]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(Max)(Array.fill(Dim)(if (rnd.nextBoolean()) 1.0f else -1.0f))
  }
}

/** lsh_probes(embedding, nTables, planesPerTable, probeBits) → array<int>
  * of `nTables * (1 + probeBits)` bucket ids, stride `1 + probeBits` per
  * table: slot 0 of each table is the base bucket — bit p is set iff
  * dot(embedding, plane[t*planesPerTable+p]) > 0 — and slots
  * 1..probeBits are its Hamming-1 neighbors for the `probeBits` planes
  * whose dot products sit CLOSEST to zero (ascending |dot|). At
  * `probeBits = 0` it is the plain one-bucket-per-table bucketing.
  *
  * Exists because the composed form — `planesPerTable × nTables` separate
  * `CASE WHEN dot_product(emb, <array literal>) > 0` column expressions —
  * pays GenericArrayData boxing on every literal element access: measured
  * 275 µs/row at 8×8/dim-64 (5.5 s for a 20k corpus, swamping the whole
  * banded pipeline; the candidate self-join itself was 0.4 s). This kernel
  * is one loop over the primitive plane matrix shipped as a reference
  * object, and the bucketing stays inside whole-stage codegen with the
  * scan. Sign math matches the composed form bit-for-bit (left-to-right
  * double accumulation over float elements), so oracle replays and every
  * gate-validated band shape are unchanged.
  *
  * The probes are query-side multi-probe LSH (Lv et al., VLDB'07, public
  * technique): a vector whose true neighbor lands one sign-flip away —
  * exactly the planes the vector nearly touches — is found by probing the
  * adjacent bucket instead of by adding whole tables. Confidence-ordered
  * probing beats flipping arbitrary planes because, conditioned on the
  * pair differing in exactly one plane, that plane is overwhelmingly one
  * the query had low margin on. Only the PROBE side of the candidate join
  * expands (`1 + probeBits` rows per table instead of 1); the index side
  * keeps its base buckets, so a probe never changes what the index stores.
  *
  * Bit-exactness contract: [[LshProbes.buckets]] is the one bucketing
  * body, so slot 0 is the same base bucket at every `probeBits`; a probed
  * run can only ADD candidate pairs, never lose one (ExactnessSpec pins
  * banded ≡ exact with the probe knob on).
  *
  * Tie/edge rules: equal
  * |dot| picks the lower plane position (strict `<` scan); NaN dots are
  * never selected while a finite candidate remains (NaN fails every `<`),
  * and an all-NaN table falls back to flipping the lowest unused
  * positions, so output length is always exactly `nTables*(1+probeBits)`.
  */
case class LshProbes(child: Expression, nTables: Int, planesPerTable: Int,
    probeBits: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(nTables > 0 && planesPerTable > 0 && planesPerTable <= 30,
    s"lsh_probes: bad shape ${nTables}x$planesPerTable")
  require(probeBits >= 0 && probeBits <= planesPerTable,
    s"lsh_probes: probeBits $probeBits must be in [0, planesPerTable=$planesPerTable]")
  require(nTables * planesPerTable <= Hyperplanes.Max,
    s"lsh_probes: need ${nTables * planesPerTable} planes, have ${Hyperplanes.Max}")

  override def prettyName: String = "lsh_probes"
  override def inputTypes = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any): Any = LshProbes.buckets(prettyName,
    a.asInstanceOf[ArrayData], Hyperplanes.planes, nTables, planesPerTable, probeBits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("lshPlanes", Hyperplanes.planes, "float[][]")
    nullSafeCodeGen(ctx, ev, x => s"""${ev.value} = graft.expr.LshProbes.buckets(
      |"$prettyName", $x, $planesRef, $nTables, $planesPerTable, $probeBits);""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LshProbes {
  /** Bucket ids of `x` under `planes`: `nTables * (1 + probeBits)` ids,
    * stride `1 + probeBits`, laid out as [[LshProbes]] describes. `fn`
    * names the calling kernel in the dimension error. The probe scratch
    * arrays exist only when `probeBits > 0`.
    */
  def buckets(fn: String, x: ArrayData, planes: Array[Array[Float]],
      nTables: Int, planesPerTable: Int, probeBits: Int): ArrayData = {
    if (x.numElements() != Hyperplanes.Dim)
      throw new IllegalArgumentException(
        s"$fn: embedding dim ${x.numElements()} != plane dim ${Hyperplanes.Dim}")
    val stride = 1 + probeBits
    val out = new Array[Int](nTables * stride)
    val dots = if (probeBits > 0) new Array[Double](planesPerTable) else null
    val used = if (probeBits > 0) new Array[Boolean](planesPerTable) else null
    var t = 0
    while (t < nTables) {
      var b = 0
      var p = 0
      while (p < planesPerTable) {
        val pl = planes(t * planesPerTable + p)
        var dot = 0.0; var i = 0
        while (i < pl.length) { dot += x.getFloat(i).toDouble * pl(i); i += 1 }
        if (dot > 0.0) b |= 1 << p
        if (probeBits > 0) { dots(p) = math.abs(dot); used(p) = false }
        p += 1
      }
      out(t * stride) = b
      var j = 0
      while (j < probeBits) {
        var best = -1; var bestV = Double.PositiveInfinity
        var k = 0
        while (k < planesPerTable) {
          if (!used(k) && dots(k) < bestV) { best = k; bestV = dots(k) }
          k += 1
        }
        if (best < 0) { // all remaining |dot| are NaN: lowest unused position
          var k2 = 0
          while (best < 0 && k2 < planesPerTable) {
            if (!used(k2)) best = k2
            k2 += 1
          }
        }
        used(best) = true
        out(t * stride + 1 + j) = b ^ (1 << best)
        j += 1
      }
      t += 1
    }
    new GenericArrayData(out)
  }
}

/** The canonical discovery of a pair in the banded self-join, or -1 when
  * the pair has none: the one canonical-pair rule of every banded route,
  * run per pair by [[graft.plans.BandPairs]].
  *
  * `x` and `y` are two rows' band-key arrays, both `array<int>` or both
  * `array<bigint>` (`wide` reads them as bigints): `lsh_probes(emb, t, p,
  * probeBits)` arrays on the embedding routes, MinHash band hashes, SimHash
  * band values. Stride `1 + probeBits`, slot 0 of each table the base
  * bucket. The pairing meets every slot of one row with the base slot of
  * the other, so it finds a pair once per table where the base buckets
  * collide and once per flip slot that lands in the other row's base
  * bucket. The canonical discovery is the first of those in this order:
  *  - the lowest table;
  *  - within it, the base–base collision, then a flip from the lower id,
  *    then a flip from the higher id (`xIsLower` says which one `x` is);
  *  - skipping any discovery whose base bucket — the bucket the two rows
  *    meet in — a bucket cap dropped: `overCap(t)` holds table `t`'s
  *    dropped buckets (widened to bigint, sorted), one array per table up
  *    to the last table with any.
  *
  * The result names the discovering slot: its position `s` in `x` when the
  * slot is `x`'s, `-2 - s` when it is `y`'s. A base–base collision is the
  * lower id's slot. A pair whose side-one slot position equals the result
  * is the one the pairing keeps, so every pair leaves once and no pair
  * distinct (a hash map per task) is needed. With `xIsLower = true,
  * probeBits = 0` and no cap it is the first table at which the two key
  * arrays agree.
  */
object LshFirstShared {
  /** A bucket cap's dropped buckets as [[compute]] reads them: one sorted
    * primitive array per table. */
  def overCapArrays(overCap: Seq[Seq[Long]]): Array[Array[Long]] =
    overCap.map(_.toArray.sorted).toArray

  def compute(x: ArrayData, y: ArrayData, xIsLower: Boolean, probeBits: Int,
      overCap: Array[Array[Long]], wide: Boolean): Int = {
    val stride = 1 + probeBits
    val n = math.min(x.numElements(), y.numElements()) / stride
    def at(a: ArrayData, i: Int): Long = if (wide) a.getLong(i) else a.getInt(i)
    def open(t: Int, b: Long) =
      t >= overCap.length || java.util.Arrays.binarySearch(overCap(t), b) < 0
    // the position of `a`'s flip slot in table `t` that equals `target`, or -1
    def flipInto(a: ArrayData, s: Int, target: Long): Int = {
      var j = s + 1
      while (j < s + stride && at(a, j) != target) j += 1
      if (j < s + stride) j else -1
    }
    var t = 0
    while (t < n) {
      val s = t * stride
      val bx = at(x, s); val by = at(y, s)
      if (bx == by) {
        if (open(t, bx)) return if (xIsLower) s else -2 - s
      } else {
        val fromX = if (open(t, by)) flipInto(x, s, by) else -1
        val fromY = if (open(t, bx)) flipInto(y, s, bx) else -1
        if (fromX >= 0 && (xIsLower || fromY < 0)) return fromX
        if (fromY >= 0) return -2 - fromY
      }
      t += 1
    }
    -1
  }
}
