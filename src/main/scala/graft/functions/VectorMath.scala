package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The one owner of the engine's 2^20 fixed-point contract: a value x
  * enters integer arithmetic as floor(x * 2^20), a long.
  *
  * For float inputs the scale is an exponent shift (no rounding) and the
  * floor is an exact integer, so sums and products of quantized values
  * are evaluation-order-independent AND engine-independent: any system
  * computing floor(x * 2^20) gets the identical integers, which is what
  * lets every quantized result hash-match its DuckDB oracle bit for bit.
  * Quantization error ~2^-20 per element is inherent to the contract
  * (similarity scores, not ledgers).
  *
  * Every Scala site that scales by 2^20 goes through this object: the
  * column quantizer [[quantize]], its array form [[quantizeArray]], the
  * scalar form [[quantizeFloat]] the native kernels ([[QuantizedCosine]],
  * [[LshBuckets]], [[PqEncode]]) call per element, and [[Scale]] for the
  * sites that de-scale a quantized sum and for the generated loop of
  * [[QuantizedCosine]].
  */
object VectorMath {

  /** 2^20, the fixed-point scale. */
  val Scale = 1048576.0

  /** floor(c * 2^20) as a long column; on a double column the optimizer
    * drops the cast.
    */
  def quantize(c: Column): Column =
    floor(c.cast(DoubleType) * lit(Scale)).cast(LongType)

  /** [[quantize]] applied to every element of an array column. */
  def quantizeArray(a: Column): Column = transform(a, v => quantize(v))

  /** floor(x * 2^20) for one float element (the native kernels' form). */
  def quantizeFloat(x: Float): Long = math.floor(x.toDouble * Scale).toLong

  /** Cosine similarity over the quantized vectors: dot and norms are
    * exact integer sums, so every input to the final double arithmetic
    * is reproducible. The native [[QuantizedCosine]] expression.
    */
  def cosineExact(a: Column, b: Column): Column =
    GraftSqlBridge.column(
      QuantizedCosine(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
}
