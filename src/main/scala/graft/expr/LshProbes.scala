package graft.expr

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}

/** lsh_probes(embedding, nTables, planesPerTable, probeBits) → array<int>
  * of `nTables * (1 + probeBits)` bucket ids, stride `1 + probeBits` per
  * table: slot 0 of each table is the base [[LshBuckets]] bucket, slots
  * 1..probeBits are its Hamming-1 neighbors for the `probeBits` planes
  * whose dot products sit CLOSEST to zero (ascending |dot|).
  *
  * This is query-side multi-probe LSH (Lv et al., VLDB'07, public
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
  * body — both eval paths of this kernel and of `lsh_buckets` (at
  * `probeBits = 0`) call it, so slot 0 replays that kernel by
  * construction; a probed run can only ADD candidate pairs, never lose
  * one (ExactnessSpec pins banded ≡ exact with the probe knob on).
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
