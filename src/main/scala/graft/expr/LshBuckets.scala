package graft.expr

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
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

/** lsh_first_shared(b1, b2) → the first table at which two `lsh_buckets`
  * arrays hold the same bucket, or -1 when they share none.
  *
  * The banded candidate self-join joins a pair once for EVERY table whose
  * bucket the two vectors share. Keeping only the row whose table is the
  * first shared one emits each pair exactly once, so no pair distinct
  * (a hash map per task) is needed, and rejecting the repeats here, before
  * `int8_keep`, costs at most that many int compares.
  *
  * Deliberately not null-intolerant: the optimizer would otherwise infer
  * IsNotNull on the carried bucket arrays and re-run the bucketing kernel
  * in a Filter below the Project that computes them (the best_cell lesson).
  * A null input still yields null.
  */
case class LshFirstShared(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def prettyName: String = "lsh_first_shared"
  override def inputTypes = Seq(ArrayType(IntegerType), ArrayType(IntegerType))
  override def dataType: DataType = IntegerType

  override def nullSafeEval(a: Any, b: Any): Any =
    LshFirstShared.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = graft.expr.LshFirstShared.compute($x, $y);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object LshFirstShared {
  def compute(x: ArrayData, y: ArrayData): Int = {
    val n = math.min(x.numElements(), y.numElements())
    var i = 0
    while (i < n && x.getInt(i) != y.getInt(i)) i += 1
    if (i < n) i else -1
  }
}
