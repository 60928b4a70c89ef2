package perfbench

/** One line of `registry/digests.tsv`. */
final case class DigestRow(name: String, status: String, digest: String)

/** The query registry as the benchmark samples and checks it. */
object Registry {

  def load(path: String): Seq[DigestRow] =
    Files.read(path).linesIterator.drop(1).filter(_.nonEmpty).map { l =>
      val f = l.split('\t')
      DigestRow(f(0), f(1), f(2))
    }.toSeq

  /** The registry sample, frozen so every checkout runs the same queries.
    * It was chosen once as 1 in 40 of the names recorded `ok`, ranked by
    * their steady cost at sf0.01 and cut into strata of 40: the name at
    * position 19 of every stratum, the position nearest the middle at
    * which the sample holds a streaming query (`st7_stream_sliding`), so
    * the sample follows the registry's cost distribution without its
    * extremes and measures the streaming layer too.
    */
  val Sample: Seq[String] = Seq(
    "bkt2_partitioned_bucketed", "st7_stream_sliding", "cont1_contamination",
    "tq10_returned_items", "x10_approx_quantile", "fh1_feature_hashing",
    "a17_group_by_all", "bp1_boilerplate_prefix", "mdd1_image_dedup", "e1_embed_norm")

  /** Queries that write caches at fixed paths outside `java.io.tmpdir`
    * (`imv1`, `imv2`, the persisted ANN and graph indexes): their cost
    * depends on what earlier runs left there, so they are never sampled.
    */
  val Excluded: Set[String] = Set(
    "imv1_incremental_rollup", "imv2_incremental_join", "scont2_semantic_contamination_ivf",
    "st16_stream_ann_index", "st21_stream_index_append", "st29_stream_graph_append",
    "st30_graph_reconcile", "x23_ann_ivfpq_persisted", "x29_ann_index_upsert",
    "x30_ann_index_delete", "x31_ann_recall_curve", "x35_graph_ann_nnd", "x36_nnd_upsert",
    "x37_graph_index_persisted", "x38_graph_index_delete")

  /** Every seed runs [[Sample]], in an order shuffled by the seed.
    * Disjoint samples per seed, even balanced on cost, were measured to
    * differ by up to a quarter in pass time, more than the benchmark's
    * bounds allow across seeds.
    */
  def sample(seed: Long): Seq[String] = new scala.util.Random(seed).shuffle(Sample)

  /** A failure line when a query's digest differs from the recorded one. */
  def verify(name: String, expected: String, got: String): Option[String] =
    if (expected == got) None else Some(s"$name: digest $got, recorded $expected")
}
