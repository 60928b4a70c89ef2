package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expression: all `nTables` random-hyperplane LSH
  * bucket ids of an `array<float>` embedding in ONE fused loop.
  *
  * The Column-composition equivalent (a sum of dim products per plane,
  * per table) builds nTables x nPlanes x dim expression nodes — 1024
  * multiply terms for the default 4x4x64 — which overflows whole-stage
  * codegen's method budget and measured 7x slower end to end (x2 0.84 s
  * -> 5.9 s at sf0.1 when the OR-construction landed on the composed
  * form). Here the plane weights are one flat precomputed array carried
  * as a codegen reference object, and [[LshBuckets.kernel]], which
  * `nullSafeEval` and the generated code both call, is three tight loops.
  *
  * Weights reproduce [[graft.operators.Similarity.planeWeightInt]]'s
  * integer LCG exactly (plane index stride 64), and the dot products
  * are sums of exact integers (floor(v * 2^20) longs x [-1000, 1000]
  * weights, < 2^38 total) — evaluation-order-independent, so bucket
  * assignment is recomputable in any engine (the x2 oracle recomputes
  * it in DuckDB SQL). SimilaritySpec asserts each table's bucket equals
  * that composition with plane offset `t * nPlanes`. Null elements
  * contribute nothing to a plane's dot product; a null array yields null.
  */
case class LshBuckets(child: Expression, nPlanes: Int, nTables: Int)
    extends UnaryExpression {

  require(nPlanes >= 1 && nPlanes <= 63, s"nPlanes must be in [1, 63], got $nPlanes")
  require(nTables >= 1, s"nTables must be >= 1, got $nTables")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lsh_buckets"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<float> argument, got ${other.simpleString}")
  }

  /** Flat [(plane) * 64 + dim] weight table, plane = t * nPlanes + i. */
  @transient private lazy val weights: Array[Long] =
    Array.tabulate(nTables * nPlanes * 64) { k =>
      graft.operators.Similarity.planeWeightInt(k / 64, k % 64)
    }

  override def nullSafeEval(a: Any): Any =
    LshBuckets.kernel(a.asInstanceOf[ArrayData], weights, nPlanes, nTables)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wts = ctx.addReferenceObj("lshWeights", weights, "long[]")
    val k = classOf[LshBuckets].getName
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = $k.kernel($a, $wts, $nPlanes, $nTables);")
  }

  override protected def withNewChildInternal(newChild: Expression): LshBuckets =
    copy(child = newChild)
}

object LshBuckets {
  import org.apache.spark.sql.GraftSqlBridge

  /** Column-API face: array of `nTables` bucket ids for `emb`. */
  def buckets(emb: Column, nPlanes: Int, nTables: Int): Column =
    GraftSqlBridge.column(
      LshBuckets(GraftSqlBridge.expression(emb), nPlanes, nTables))

  /** The one bucketing loop, run by both the interpreted and the
    * generated path: table t's bit p is set iff the quantized first 64
    * elements dotted with plane `t * nPlanes + p` of `weights` is positive.
    */
  def kernel(x: ArrayData, weights: Array[Long], nPlanes: Int, nTables: Int): ArrayData = {
    val n = math.min(x.numElements(), 64)
    val out = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      var bucket = 0L
      var p = 0
      while (p < nPlanes) {
        var dot = 0L
        val base = (t * nPlanes + p) * 64
        var d = 0
        while (d < n) {
          if (!x.isNullAt(d)) dot += VectorMath.quantizeFloat(x.getFloat(d)) * weights(base + d)
          d += 1
        }
        if (dot > 0) bucket |= (1L << p)
        p += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }
}
