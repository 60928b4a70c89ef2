package graft.functions

import graft.SparkSpec
import graft.tools.Scratch
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The three native kernels ([[QuantizedCosine]], [[LshBuckets]],
  * [[PqEncode]]) give the same answer on the generated path (whole-stage
  * codegen) and the interpreted one (`nullSafeEval`), edge rows
  * included. The input is a parquet file, not a local relation, so the
  * optimizer cannot fold the rows before either path runs.
  */
class NativeKernelSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("a", ArrayType(FloatType)),
    StructField("b", ArrayType(FloatType)),
    StructField("cb", ArrayType(ArrayType(LongType)))))

  private def f(xs: Any*): Seq[Any] = xs.map {
    case null => null
    case x: Double => x.toFloat
    case x: Int => x.toFloat
  }

  private val cb4 = Seq(Seq(0L, 0L, 0L, 0L), Seq(524288L, -262144L, 131072L, 1048576L),
    Seq(-1048576L, 1048576L, -1048576L, 1048576L))

  private val rows = Seq(
    Row(1, f(0.5, -0.25, 0.125, 1.0), f(0.1, 0.2, 0.3, 0.4), cb4),
    Row(2, null, f(0.1, 0.2, 0.3, 0.4), cb4), // null array
    Row(3, f(0.5, null, 0.25, null), f(null, 0.3, 0.1, 0.2), cb4), // null elements
    Row(4, f(1, 2, 3, 4, 5, 6), f(1, 2), cb4), // unequal lengths
    Row(5, f(0, 0, 0, 0), f(1, 1, 1, 1), cb4), // zero vector
    Row(16, f(1, 1, 1, 1), f(0, 0, 0, 0), cb4), // zero vector on the right
    Row(6, f(1, 2, 3), f(1, 2, 3), cb4), // length not divisible by nSub
    Row(7, f(1, 2, 3, 4), f(4, 3, 2, 1), Seq.empty[Seq[Long]]), // empty codebook
    Row(8, f(1, 2, 3, 4), f(4, 3, 2, 1), Seq(null, Seq(1L, 2L, 3L, 4L))), // null codeword
    Row(9, f(1, 2, 3, 4), f(4, 3, 2, 1), Seq(Seq(1L, null, 3L, 4L), Seq(5L, 6L))),
    Row(10, f(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 1.0),
      f(1, Double.NaN, 1, 1), cb4), // NaN, ±Inf
    Row(11, f(3e38, -3e38, 1e30, 2.0), f(3e38, 3e38, -1e30, 2.0), cb4), // huge magnitudes
    Row(12, f(4e6, 4e6, 4e6, 4e6), f(4e6, -4e6, 4e6, 4e6), cb4), // norms overflow a long
    Row(13, f(), f(1, 2), cb4), // empty array
    Row(14, f(1, 2, 3, 4), null, null), // null right-hand inputs
    Row(15, f((1 to 70).map(i => math.sin(i.toDouble)): _*),
      f((1 to 70).map(i => math.cos(i.toDouble)): _*), cb4), // longer than 64
  )

  private lazy val input: String = {
    val dir = Scratch.dir("native-kernel").resolve("in.parquet").toString
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.parquet(dir)
    dir
  }

  private def kernels(): DataFrame = spark.read.parquet(input).select(
    col("id"),
    VectorMath.cosineExact(col("a"), col("b")).as("cosine"),
    LshBuckets.buckets(col("a"), 4, 4).as("buckets"),
    PqEncode.encode(col("a"), col("cb"), 2).as("codes"))

  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def run(df: DataFrame): Seq[String] =
    df.collect().sortBy(_.getInt(0)).map(_.toString).toSeq

  private def finalPlan(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case other => other
  }

  test("generated and interpreted paths agree on every kernel, edge rows included") {
    val generated = withConf(
      "spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY") {
      val df = kernels()
      val out = run(df)
      val stages = finalPlan(df.queryExecution.executedPlan)
        .collect { case w: WholeStageCodegenExec => w }
      for (name <- Seq("quantized_cosine", "lsh_buckets", "pq_encode"))
        assert(stages.exists(_.child.exists(_.expressions.exists(_.exists(_.prettyName == name)))),
          s"$name is not inside a WholeStageCodegenExec:\n${df.queryExecution.executedPlan}")
      out
    }
    val interpreted = withConf(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      run(kernels())
    }
    assert(generated.size == rows.size)
    assert(generated === interpreted)
  }
}
