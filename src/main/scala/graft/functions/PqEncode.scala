package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expression: all `nSub` product-quantization codeword
  * assignments of an `array<float>` embedding in ONE fused kernel.
  *
  * Inputs: the raw embedding (left) and the codebook (right) — an
  * id-sorted `array<array<long>>` of 2^20-quantized codeword vectors,
  * typically a one-row broadcast the code relation cross-joins. Output:
  * `array<long>` of nSub 0-based argmin POSITIONS in the codebook (the
  * id-sorted order makes position ↔ codeword id a bijection, so
  * downstream lookup tables index positionally in O(1)).
  *
  * Semantics mirror the HOF-composed formulation
  * (`aggregate(cb, …)(zip_with(slice(qv…), slice(cw…)))` per subspace)
  * exactly: elements quantize as floor(v · 2^20); a pair contributes
  * (q−c)² only when both sides exist and are non-null (zip_with-pads +
  * coalesce-0 semantics); a null codeword entry is skipped; ties keep
  * the LOWEST position (strictly-less argmin over the id-sorted array —
  * the same (d, cw_id) order the x20 oracle ranks by). All arithmetic
  * is exact-integer, so codes are engine-portable. A vector whose
  * length is 0 or not divisible by nSub has no well-defined codes and
  * yields NULL; an empty (or all-null) codebook yields the sentinel
  * position -1 in every subspace — pipeline callers guard both
  * (pqSplittable filter; nCodes >= 1 require).
  *
  * Why native: the composed form builds nSub × nCodes nested lambda
  * evaluations per row — higher-order functions run interpreted, per
  * codeword allocating two slices and a zipped array. At PQ's operating
  * point the encode touches every corpus vector once (write time), so
  * the per-row constant IS the index build cost; here it is three tight
  * loops over primitive arrays ([[PqEncode.kernel]], which `nullSafeEval`
  * and the generated code both call) with no allocation beyond the
  * quantized vector and the output.
  */
case class PqEncode(left: Expression, right: Expression, nSub: Int)
    extends BinaryExpression {

  require(nSub >= 1, s"nSub must be >= 1, got $nSub")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "pq_encode"

  // NULL for non-splittable vectors (below), beyond child nullability
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(ArrayType(LongType, _), _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float>, array<array<long>>), got " +
        s"(${l.simpleString}, ${r.simpleString})")
  }

  override def nullSafeEval(e: Any, cb: Any): Any =
    PqEncode.kernel(e.asInstanceOf[ArrayData], cb.asInstanceOf[ArrayData], nSub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = classOf[PqEncode].getName
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |${ev.value} = $k.kernel($a, $b, $nSub);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqEncode =
    copy(left = newLeft, right = newRight)
}

object PqEncode {
  import org.apache.spark.sql.GraftSqlBridge

  /** Column-API face: nSub 0-based codeword positions for `emb`. */
  def encode(emb: Column, codebook: Column, nSub: Int): Column =
    GraftSqlBridge.column(
      PqEncode(GraftSqlBridge.expression(emb), GraftSqlBridge.expression(codebook), nSub))

  /** The one encoding loop, run by both the interpreted and the generated
    * path: per subspace, the lowest codebook position at the least
    * squared distance; null (the marker, since the arithmetic returns
    * an array) when `x` does not split evenly into `nSub` subspaces.
    */
  def kernel(x: ArrayData, cbs: ArrayData, nSub: Int): ArrayData = {
    val len = x.numElements()
    // A vector that doesn't split evenly into nSub subspaces has no
    // well-defined codes: return NULL rather than silently dropping
    // trailing dims (len % nSub != 0) or degenerating to subdim = 0
    // (len < nSub). Pipeline callers pre-filter (pqSplittable); this
    // guard protects the registered SQL surface.
    if (len == 0 || len % nSub != 0) return null
    val subdim = len / nSub
    val q = new Array[Long](len)
    val qNull = new Array[Boolean](len)
    var d = 0
    while (d < len) {
      if (x.isNullAt(d)) qNull(d) = true
      else q(d) = VectorMath.quantizeFloat(x.getFloat(d))
      d += 1
    }
    val out = new Array[Long](nSub)
    var s = 0
    while (s < nSub) {
      var bestD = Long.MaxValue
      var bestJ = -1L
      var j = 0
      while (j < cbs.numElements()) {
        if (!cbs.isNullAt(j)) {
          val cw = cbs.getArray(j)
          val cwn = cw.numElements()
          var dist = 0L
          var i = 0
          while (i < subdim) {
            val di = s * subdim + i
            if (di < cwn && !qNull(di) && !cw.isNullAt(di)) {
              val diff = q(di) - cw.getLong(di)
              dist += diff * diff
            }
            i += 1
          }
          if (dist < bestD) { bestD = dist; bestJ = j }
        }
        j += 1
      }
      out(s) = bestJ
      s += 1
    }
    new GenericArrayData(out)
  }
}
