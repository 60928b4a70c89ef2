package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Vector arithmetic over `array<float>` embedding columns, built from
  * Spark's codegen'd higher-order functions (`zip_with`/`aggregate`) — no
  * UDFs, so the whole expression stays inside WholeStageCodegen.
  *
  * Elements are quantized by an exact power-of-two scale (float x 2^20 is
  * an exponent shift — no rounding — and floor of it is an exact
  * integer), then accumulated in integer arithmetic. Fully
  * order-independent AND engine-independent: any system computing
  * floor(x * 2^20) sums the identical integers, so results hash-match a
  * DuckDB oracle bit-for-bit. Quantization error ~2^-20 per element is
  * inherent to the operator's contract (similarity scores, not ledgers).
  */
object VectorMath {
  private val Scale = 1048576.0 // 2^20: exact scaling for float inputs

  private def quantize(a: Column): Column =
    transform(a, x => floor(x.cast(DoubleType) * lit(Scale)).cast(LongType))

  /** Quantized-integer dot product of two float-array columns (exact,
    * engine-portable), surfaced as the integer sum (long).
    */
  def dotExactQ(a: Column, b: Column): Column =
    aggregate(
      zip_with(quantize(a), quantize(b), (x, y) => x * y),
      lit(0L),
      (acc, v) => acc + v,
    )

  /** Cosine similarity over the quantized vectors: every input to the
    * final double arithmetic is an exactly-reproducible integer. Delegates
    * to the native [[QuantizedCosine]] expression (one fused codegen loop);
    * [[cosineExactHof]] is the builtin-composition equivalent kept for
    * cross-checking the two implementations against each other.
    */
  def cosineExact(a: Column, b: Column): Column =
    QuantizedCosine.quantizedCosine(a, b)

  def cosineExactHof(a: Column, b: Column): Column =
    dotExactQ(a, b).cast(DoubleType) /
      (sqrt(dotExactQ(a, a).cast(DoubleType)) * sqrt(dotExactQ(b, b).cast(DoubleType)))
}
