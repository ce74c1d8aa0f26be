package graft.expr

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, Literal, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, FloatType, IntegerType}

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
  val Max = 128 // 64→128 in r6: admits 8×10+ shapes for 100k+-cluster corpora
  lazy val planes: Array[Array[Float]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(Max)(Array.fill(Dim)(if (rnd.nextBoolean()) 1.0f else -1.0f))
  }
}

/** lsh_buckets(embedding, nTables, planesPerTable) → array<int> of one
  * bucket id per table: bit p of table t's bucket is set iff
  * dot(embedding, plane[t*planesPerTable+p]) > 0.
  *
  * Exists because the composed form — `planesPerTable × nTables` separate
  * `CASE WHEN dot_product(emb, <array literal>) > 0` column expressions —
  * pays GenericArrayData boxing on every literal element access: measured
  * 275 µs/row at 8×8/dim-64 (5.5 s for a 20k corpus, swamping the whole
  * banded pipeline; the candidate self-join itself was 0.4 s). This kernel
  * is one loop over the primitive plane matrix shipped as a reference
  * object: all 64 dots in a few µs, and the bucketing stays inside
  * whole-stage codegen with the scan.
  *
  * Its body is [[LshProbes.buckets]] at `probeBits = 0` (both eval paths
  * call it), so every bucket id in the engine comes from one loop and
  * `lsh_probes`' slot 0 replays this kernel by construction. Sign math
  * matches the composed form bit-for-bit (left-to-right double
  * accumulation over float elements), so oracle replays and every
  * gate-validated band shape are unchanged.
  */
case class LshBuckets(child: Expression, nTables: Int, planesPerTable: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(nTables > 0 && planesPerTable > 0 && planesPerTable <= 30,
    s"lsh_buckets: bad shape ${nTables}x$planesPerTable")
  require(nTables * planesPerTable <= Hyperplanes.Max,
    s"lsh_buckets: need ${nTables * planesPerTable} planes, have ${Hyperplanes.Max}")

  override def prettyName: String = "lsh_buckets"
  override def inputTypes = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any): Any = LshProbes.buckets(prettyName,
    a.asInstanceOf[ArrayData], Hyperplanes.planes, nTables, planesPerTable, 0)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("lshPlanes", Hyperplanes.planes, "float[][]")
    nullSafeCodeGen(ctx, ev, x => s"""${ev.value} = graft.expr.LshProbes.buckets(
      |"$prettyName", $x, $planesRef, $nTables, $planesPerTable, 0);""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** lsh_first_shared(p1, p2[, p1IsLower, probeBits, overCap]) → the
  * canonical discovery of a pair in the banded self-join, or -1 when the
  * pair has none.
  *
  * `p1` and `p2` are two vectors' `lsh_probes(emb, t, p, probeBits)`
  * arrays (stride `1 + probeBits`, slot 0 of each table the base bucket;
  * at `probeBits = 0` they are `lsh_buckets` arrays). The self-join pairs
  * every slot of one vector with the base slot of the other, so it finds a
  * pair once per table where the base buckets collide and once per flip
  * slot that lands in the other vector's base bucket. The canonical
  * discovery is the first of those in this order:
  *  - the lowest table;
  *  - within it, the base–base collision, then a flip from the lower id,
  *    then a flip from the higher id (`p1IsLower` says which one `p1` is);
  *  - skipping any discovery whose base bucket — the bucket the two rows
  *    meet in — is in `overCap`, the (table, bucket) keys
  *    ([[LshFirstShared.key]], sorted) a bucket cap dropped from the join.
  *
  * The result names the discovering slot: its position `s` in `p1` when
  * the slot is `p1`'s, `-2 - s` when it is `p2`'s. A base–base collision
  * is the lower id's slot. A join row whose `v1` slot position equals the
  * result is the one row the pair keeps, so every pair leaves the join
  * once and no pair distinct (a hash map per task) is needed. The two-
  * argument form is `p1IsLower = true, probeBits = 0`, no cap: the first
  * table at which two bucket arrays agree. The case class names the three
  * column arguments `first`, `second` and `third`.
  *
  * Deliberately not null-intolerant: the optimizer would otherwise infer
  * IsNotNull on the carried arrays and re-run the bucketing kernel in a
  * Filter below the Project that computes them (the best_cell lesson).
  * A null input still yields null. `overCap` is a Seq (structural
  * equality); the kernel searches a sorted primitive copy of it.
  */
case class LshFirstShared(first: Expression, second: Expression,
    third: Expression = Literal(true), probeBits: Int = 0, overCap: Seq[Long] = Nil)
    extends TernaryExpression with ExpectsInputTypes {
  require(probeBits >= 0, s"lsh_first_shared: probeBits $probeBits must be >= 0")
  @transient private lazy val overArr: Array[Long] = overCap.toArray.sorted

  override def prettyName: String = "lsh_first_shared"
  override def inputTypes = Seq(ArrayType(IntegerType), ArrayType(IntegerType), BooleanType)
  override def dataType: DataType = IntegerType

  override def nullSafeEval(a: Any, b: Any, lower: Any): Any =
    LshFirstShared.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      lower.asInstanceOf[Boolean], probeBits, overArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val overRef = ctx.addReferenceObj("lshOverCap", overArr, "long[]")
    nullSafeCodeGen(ctx, ev, (x, y, lower) =>
      s"${ev.value} = graft.expr.LshFirstShared.compute($x, $y, $lower, $probeBits, $overRef);")
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object LshFirstShared {
  /** The over-cap lookup key of bucket `bucket` in table `tbl`. */
  def key(tbl: Int, bucket: Int): Long = (tbl.toLong << 32) | (bucket & 0xFFFFFFFFL)

  def compute(x: ArrayData, y: ArrayData, xIsLower: Boolean, probeBits: Int,
      overCap: Array[Long]): Int = {
    val stride = 1 + probeBits
    val n = math.min(x.numElements(), y.numElements()) / stride
    def open(t: Int, b: Int) =
      overCap.length == 0 || java.util.Arrays.binarySearch(overCap, key(t, b)) < 0
    // the position of `a`'s flip slot in table `t` that equals `target`, or -1
    def flipInto(a: ArrayData, s: Int, target: Int): Int = {
      var j = s + 1
      while (j < s + stride && a.getInt(j) != target) j += 1
      if (j < s + stride) j else -1
    }
    var t = 0
    while (t < n) {
      val s = t * stride
      val bx = x.getInt(s); val by = y.getInt(s)
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
