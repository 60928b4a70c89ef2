package graft

import graft.functions.{LshBuckets, PqEncode, QuantizedCosine, ShingleGen}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** SparkSessionExtensions entry point: registers the engine's native
  * Catalyst expressions into the SQL function registry, so
  * `SELECT quantized_cosine(a, b)` works alongside the Column API.
  *
  * [[GraftSession]] installs it; a session built elsewhere can set
  * `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Structural-parameter arguments (plane counts, subspace counts) must
    * be integer literals — they size codegen'd loops, not per-row data.
    */
  private def litInt(e: Expression, fn: String, arg: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an INTEGER literal, got $other")
  }

  override def apply(e: SparkSessionExtensions): Unit = {
    // Whole-operator extension: plans graft.plans.TopKPerKeyPlan as the
    // two-phase bounded-heap exec (partial → exchange → final).
    e.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
    // Optimizer rewrite: rank-filter window idiom → TopKPerKeyPlan
    // (on by default; spark.graft.topk.rewrite=false restores the
    // Window + WindowGroupLimit plan).
    e.injectOptimizerRule(_ => new graft.plans.RewriteRankFilterToTopK)
    e.injectFunction((
      FunctionIdentifier("quantized_cosine"),
      new ExpressionInfo(
        classOf[QuantizedCosine].getName, null, "quantized_cosine",
        "quantized_cosine(a, b) - engine-portable cosine over 2^20-quantized float arrays",
        "", "", "", "math_funcs", "1.0.0", "", "scala_udf"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "quantized_cosine takes exactly 2 arguments")
        QuantizedCosine(exprs(0), exprs(1))
      },
    ))
    e.injectFunction((
      FunctionIdentifier("lsh_buckets"),
      new ExpressionInfo(
        classOf[LshBuckets].getName, null, "lsh_buckets",
        "lsh_buckets(emb, nPlanes, nTables) - all nTables hyperplane-LSH bucket ids of a float array",
        "", "", "", "array_funcs", "1.0.0", "", "scala_udf"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3, "lsh_buckets takes exactly 3 arguments")
        LshBuckets(exprs(0),
          litInt(exprs(1), "lsh_buckets", "nPlanes"),
          litInt(exprs(2), "lsh_buckets", "nTables"))
      },
    ))
    e.injectFunction((
      FunctionIdentifier("pq_encode"),
      new ExpressionInfo(
        classOf[PqEncode].getName, null, "pq_encode",
        "pq_encode(emb, codebook, nSub) - nSub product-quantization codeword positions of a float array",
        "", "", "", "array_funcs", "1.0.0", "", "scala_udf"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3, "pq_encode takes exactly 3 arguments")
        PqEncode(exprs(0), exprs(1), litInt(exprs(2), "pq_encode", "nSub"))
      },
    ))
    e.injectFunction((
      FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(
        classOf[ShingleGen].getName, null, "graft_shingles",
        "graft_shingles(text, k) - table function: the k-word shingles of text (lowered, trimmed, duplicates kept)",
        "", "", "", "generator_funcs", "1.0.0", "", "scala_udf"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "graft_shingles takes exactly 2 arguments")
        ShingleGen(exprs(0), litInt(exprs(1), "graft_shingles", "k"))
      },
    ))
    // Catalyst's own semi-join-reduction bloom pair (what the optimizer
    // injects for runtime filters), exposed as SQL so a pipeline can build
    // the filter once and ship it to probe-side scans explicitly.
    e.injectFunction((
      FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[BloomFilterAggregate].getName, null, "graft_bloom_agg",
        "graft_bloom_agg(key[, items[, bits]]) - aggregate keys into a bloom filter binary",
        "", "", "", "agg_funcs", "1.0.0", "", "built-in"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(c) => new BloomFilterAggregate(c)
        case Seq(c, n) => new BloomFilterAggregate(c, n)
        case Seq(c, n, b) => new BloomFilterAggregate(c, n, b)
        case _ => throw new IllegalArgumentException(
          "graft_bloom_agg takes 1 to 3 arguments")
      },
    ))
    e.injectFunction((
      FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(
        classOf[BloomFilterMightContain].getName, null, "graft_might_contain",
        "graft_might_contain(bloom, key) - probe a bloom filter binary (no false negatives)",
        "", "", "", "predicate_funcs", "1.0.0", "", "built-in"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, "graft_might_contain takes exactly 2 arguments")
        BloomFilterMightContain(exprs(0), exprs(1))
      },
    ))
  }
}
