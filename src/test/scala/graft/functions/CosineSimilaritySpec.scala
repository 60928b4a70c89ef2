package graft.functions

import graft.{SparkSpec, Tables}
import graft.functions.VectorMath.cosineExact
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The one cosine kernel, [[QuantizedCosine]]: its native expression
  * against the HOF reference, its edge semantics, and its SQL surface.
  */
class CosineSimilaritySpec extends SparkSpec {
  import spark.implicits._

  /** Quantized-integer dot product of two float-array columns, composed
    * from builtin higher-order functions: the reference the native
    * kernel is checked against.
    */
  private def dotExactQ(a: Column, b: Column): Column =
    aggregate(
      zip_with(VectorMath.quantizeArray(a), VectorMath.quantizeArray(b), (x, y) => x * y),
      lit(0L),
      (acc, v) => acc + v,
    )

  private def cosineExactHof(a: Column, b: Column): Column =
    dotExactQ(a, b).cast("double") /
      (sqrt(dotExactQ(a, a).cast("double")) * sqrt(dotExactQ(b, b).cast("double")))

  test("QuantizedCosine native expression is bit-identical to the HOF composition") {
    val emb = Tables.embeddings(spark, sf0001)
    val a = emb.select(col("vec_id").as("ia"), col("embedding").as("ea"))
    val b = emb.select(col("vec_id").as("ib"), col("embedding").as("eb"))
    val rows = a.join(b, col("ib") === col("ia") + 7)
      .select(
        cosineExact(col("ea"), col("eb")).as("native"),
        cosineExactHof(col("ea"), col("eb")).as("hof"),
      ).collect()
    assert(rows.length > 0)
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("known values: orthogonal -> 0, identical -> 1, opposite -> -1") {
    val df = Seq(
      (Array(1f, 0f), Array(0f, 1f), Some(0.0)),
      (Array(1f, 2f, 3f), Array(1f, 2f, 3f), Some(1.0)),
      (Array(1f, 1f), Array(-1f, -1f), Some(-1.0)),
      (Array(0f, 0f), Array(1f, 1f), None), // zero norm -> NULL, never NaN
    ).toDF("a", "b", "expected")
    val rows = df.select(cosineExact(col("a"), col("b")).as("c"), col("expected")).collect()
    assert(rows.length == 4)
    rows.foreach { r =>
      if (r.isNullAt(1)) assert(r.isNullAt(0), s"expected NULL, got ${r.get(0)}")
      else assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12)
    }
  }

  test("null inputs propagate; mismatched lengths use the common prefix") {
    val df = Seq(
      (Some(Array(1f, 0f)), None: Option[Array[Float]]),
    ).toDF("a", "b")
    val r = df.select(cosineExact(col("a"), col("b"))).collect()
    assert(r.head.isNullAt(0))
    val pref = Seq((Array(1f, 0f, 5f), Array(1f, 0f)))
      .toDF("a", "b")
      .select(cosineExact(col("a"), col("b")))
      .collect().head.getDouble(0)
    assert(math.abs(pref - 1.0) < 1e-12)
  }

  test("registered as a SQL function via GraftExtensions") {
    val r = spark.sql(
      "SELECT quantized_cosine(array(CAST(1 AS FLOAT), CAST(0 AS FLOAT)), " +
        "array(CAST(1 AS FLOAT), CAST(0 AS FLOAT))) AS c").collect()
    assert(math.abs(r.head.getDouble(0) - 1.0) < 1e-12)
  }

  test("type check rejects non-float-array inputs") {
    val ex = intercept[Exception] {
      spark.sql("SELECT quantized_cosine(array(1, 2), array(1, 2))").collect()
    }
    assert(ex.getMessage.contains("array<float>") || ex.getMessage.contains("DATATYPE"))
  }
}
