package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native form of the engine-portable quantized cosine
  * (see [[VectorMath]]): each float is scaled by an exact power of two
  * (2^20 — an exponent shift, no rounding) and floored to a long; dot and
  * norms accumulate in exact integer arithmetic. On well-formed inputs
  * (equal-length arrays, non-null elements, nonzero norms) it is
  * bit-identical to the `aggregate(zip_with(...))` composition AND to any
  * other engine computing floor(x * 2^20) — in one fused loop with no
  * per-element lambda dispatch.
  *
  * Edge semantics (deliberately total where the HOF composition is not):
  * null elements skip the pair, unequal lengths use the common prefix,
  * zero norms yield NULL (matching a NULLIF-guarded SQL divide — NaN
  * would sort/hash engine-dependently) — the HOF's null-propagating
  * `acc + v` instead poisons unequal-length/null-element cases to NULL.
  *
  * Overflow headroom: |q| < 2^21, so per-term products < 2^42 and dims up
  * to ~2^20 (1M) stay safely inside a long accumulator.
  */
case class QuantizedCosine(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true // zero-norm inputs yield NULL
  override def prettyName: String = "quantized_cosine"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0L; var nx = 0L; var ny = 0L
    var i = 0
    while (i < n) {
      // null elements skip the pair (SQL SUM-over-null-terms semantics)
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        val xi = VectorMath.quantizeFloat(x.getFloat(i))
        val yi = VectorMath.quantizeFloat(y.getFloat(i))
        dot += xi * yi; nx += xi * xi; ny += yi * yi
      }
      i += 1
    }
    if (nx == 0L || ny == 0L) null
    else dot.toDouble / (math.sqrt(nx.toDouble) * math.sqrt(ny.toDouble))
  }

  // The one native kernel whose generated code keeps its own loop:
  // calling a shared Scala kernel from it measured slower on the
  // NN-descent, beam and semantic-dedup queries (x34 1.46 -> 1.56 s,
  // sd2 0.44 -> 0.50 s median wall at sf0.1). NativeKernelSpec holds
  // this loop to nullSafeEval's on edge rows.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val scale = VectorMath.Scale
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $dot = 0L; long $nx = 0L; long $ny = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) continue;
         |  long $xi = (long) java.lang.Math.floor(((double) $a.getFloat($i)) * $scale);
         |  long $yi = (long) java.lang.Math.floor(((double) $b.getFloat($i)) * $scale);
         |  $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |}
         |if ($nx == 0L || $ny == 0L) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ((double) $dot) /
         |    (java.lang.Math.sqrt((double) $nx) * java.lang.Math.sqrt((double) $ny));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): QuantizedCosine =
    copy(left = newLeft, right = newRight)
}
