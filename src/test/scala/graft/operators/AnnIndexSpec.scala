package graft.operators

import graft.{SparkSpec, Tables}
import graft.energy.AtomicLayer
import org.apache.spark.sql.functions._

/** The persisted IVF-PQ index (x23): build-once artifacts under
  * AtomicLayer snapshots, serve-from-disk equal to the inline path.
  */
class AnnIndexSpec extends SparkSpec {

  private def tmpRoot(): String =
    graft.tools.Scratch.dir("ann-index").toString + "/idx"

  test("serve-from-persisted-index equals the inline IVFADC path exactly") {
    val emb = Tables.embeddings(spark, sf0001)
    val qs = emb.where(col("vec_id") < 8)
    val root = tmpRoot()
    Similarity.buildIvfPqIndex(emb, root)

    // all three artifacts committed (v0 + _SUCCESS marker)
    for (a <- Seq("centroids.parquet", "codebook.parquet", "index.parquet")) {
      val committed = AtomicLayer.latestCommitted(spark, s"$root/$a")
      assert(committed.isDefined, s"$a has no committed snapshot")
      assert(committed.get.endsWith("/v0"), s"$a first build should be v0")
    }

    val inline = Similarity.ivfPqTopK(qs, emb, k = 3)
      .orderBy("q_vec", "rank").collect().toSeq
    val served = Similarity.ivfPqTopKFromIndex(qs, emb, root, k = 3)
      .orderBy("q_vec", "rank").collect().toSeq
    assert(served == inline,
      s"persisted-index search diverged from inline:\n$served\nvs\n$inline")
  }

  test("flat-IVF index: build-once, NO-CLUSTER-IN-SERVE, serve equals inline, lists partition-pruned") {
    val emb = Tables.embeddings(spark, sf0001)
    val train = emb.where(col("vec_id") % 5 =!= 0)
    val qs = emb.where(col("vec_id") % 5 === 0 && col("vec_id") < 40)
    val root = tmpRoot()
    Similarity.buildIvfIndex(train, root, nLists = 8)
    for (a <- Seq("centroids.parquet", "lists.parquet")) {
      val committed = AtomicLayer.latestCommitted(spark, s"$root/$a")
      assert(committed.isDefined && committed.get.endsWith("/v0"),
        s"$a should commit v0 on first build")
    }
    // the artifact layout IS the inverted-list clustering: one
    // hive partition directory per list
    val v0 = new java.io.File(
      AtomicLayer.latestCommitted(spark, s"$root/lists.parquet").get
        .stripPrefix("file:"))
    val partDirs = v0.listFiles().filter(f =>
      f.isDirectory && f.getName.startsWith("list_id="))
    assert(partDirs.nonEmpty && partDirs.length <= 8,
      s"expected <=8 list_id= partition dirs, got ${partDirs.length}")

    // build-once: a second build writes nothing
    Similarity.buildIvfIndex(train, root, nLists = 8)
    assert(AtomicLayer.latestCommitted(spark, s"$root/lists.parquet").get
      .endsWith("/v0"), "a re-build must not write")

    // NO-CLUSTER-IN-SERVE: a full serve never re-assigns the corpus
    val buildsBefore = Similarity.ivfBuilds.get()
    val served = Similarity.ivfTopKFromIndex(qs, root, k = 1, nProbe = 2)
      .orderBy("q_vec", "rank").collect().toSeq
    assert(Similarity.ivfBuilds.get() == buildsBefore,
      "ivfTopKFromIndex must never re-cluster the corpus")
    assert(served.nonEmpty)

    // serve-from-disk ≡ the inline path (same centroid seeding)
    val inline = Similarity.ivfTopK(qs, train, k = 1, nCentroids = 8, nProbe = 2)
      .orderBy("q_vec", "rank").collect().toSeq
    assert(served == inline,
      s"persisted flat-IVF serve diverged from inline:\n$served\nvs\n$inline")
  }

  test("build is idempotent: a second build writes no new snapshot") {
    val emb = Tables.embeddings(spark, sf0001)
    val root = tmpRoot()
    Similarity.buildIvfPqIndex(emb, root)
    val v0 = AtomicLayer.latestCommitted(spark, s"$root/index.parquet").get

    // second build: skip — same committed dir, no new version
    Similarity.buildIvfPqIndex(emb, root)
    assert(AtomicLayer.latestCommitted(spark, s"$root/index.parquet").get == v0,
      "a re-build must not rewrite a committed index")
  }

  test("append encodes with the BASE artifacts, upserts by id, and is idempotent") {
    val emb = Tables.embeddings(spark, sf0001)
    val root = tmpRoot()
    Similarity.buildIvfPqIndex(emb.where(col("vec_id") < 40), root)
    val baseCount = AtomicLayer.read(spark, s"$root/index.parquet").count()

    Similarity.appendToIvfPqIndex(emb.where(col("vec_id") >= 40), root)
    val merged = AtomicLayer.read(spark, s"$root/index.parquet")
    assert(merged.count() == emb.count(), "merged index must cover every vector")
    assert(merged.groupBy("c_vec").count().where(col("count") > 1).count() == 0,
      "append must not duplicate ids")
    val snap1 = merged.orderBy("c_vec").collect().toSeq

    // idempotence: appending the same batch again changes nothing
    Similarity.appendToIvfPqIndex(emb.where(col("vec_id") >= 40), root)
    val snap2 = AtomicLayer.read(spark, s"$root/index.parquet")
      .orderBy("c_vec").collect().toSeq
    assert(snap2 == snap1, "re-append must be a no-op on content")

    // codes-consistency: a FULL re-encode against the SAME base
    // artifacts (build on 40, force-free) must agree on every id —
    // i.e. append really did use the persisted centroids/codebook
    val rootFull = tmpRoot()
    Similarity.buildIvfPqIndex(emb.where(col("vec_id") < 40), rootFull)
    Similarity.appendToIvfPqIndex(emb, rootFull) // upsert ALL ids in one go
    val full = AtomicLayer.read(spark, s"$rootFull/index.parquet")
      .orderBy("c_vec").collect().toSeq
    assert(full == snap1,
      "append-encoded codes drifted from a fresh encode with the same artifacts")

    assert(baseCount < emb.count()) // the base really was partial
  }

  test("delete tombstones ids out of serving; delete is idempotent and cheap") {
    val emb = Tables.embeddings(spark, sf0001)
    val qs = emb.where(col("vec_id") < 8)
    val root = tmpRoot()
    Similarity.buildIvfPqIndex(emb, root)

    val before = Similarity.ivfPqTopKFromIndex(qs, emb, root, k = 3)
      .select("c_vec").distinct().collect().map(_.getLong(0)).toSet
    assert(before.nonEmpty)

    // delete every id the pre-delete serve returned — the strongest
    // possible check that tombstoned ids become unreachable
    val victims = before
    IndexStore.delete(
      emb.where(col("vec_id").isin(victims.toSeq: _*)).select("vec_id"), root)

    val after = Similarity.ivfPqTopKFromIndex(qs, emb, root, k = 3)
      .select("c_vec").distinct().collect().map(_.getLong(0)).toSet
    assert(after.intersect(victims).isEmpty,
      s"deleted ids still served: ${after.intersect(victims)}")

    // the delete must NOT have rewritten the code table (O(batch) cost)
    val codeRows = AtomicLayer.read(spark, s"$root/index.parquet").count()
    assert(codeRows == emb.count(),
      "delete must not touch index.parquet (tombstones are a side table)")

    // idempotent: deleting the same ids again keeps one tombstone each
    IndexStore.delete(
      emb.where(col("vec_id").isin(victims.toSeq: _*)).select("vec_id"), root)
    val tombs = AtomicLayer.read(spark, s"$root/tombstones.parquet")
    assert(tombs.count() == victims.size)
    val again = Similarity.ivfPqTopKFromIndex(qs, emb, root, k = 3)
      .select("c_vec").distinct().collect().map(_.getLong(0)).toSet
    assert(again == after)
  }

  test("re-add after delete resurrects") {
    val emb = Tables.embeddings(spark, sf0001)
    val qs = emb.where(col("vec_id") < 8)
    val root = tmpRoot()
    Similarity.buildIvfPqIndex(emb, root)
    val baseline = Similarity.ivfPqTopKFromIndex(qs, emb, root, k = 3)
      .orderBy("q_vec", "rank").collect().toSeq

    val victims = baseline.map(_.getAs[Long]("c_vec")).distinct
    IndexStore.delete(
      emb.where(col("vec_id").isin(victims: _*)).select("vec_id"), root)

    // resurrection: re-adding the deleted ids clears their tombstones
    // and restores the exact pre-delete results (same codebook → same
    // codes → same search)
    Similarity.appendToIvfPqIndex(
      emb.where(col("vec_id").isin(victims: _*)), root)
    val resurrected = Similarity.ivfPqTopKFromIndex(qs, emb, root, k = 3)
      .orderBy("q_vec", "rank").collect().toSeq
    assert(resurrected == baseline,
      "delete → re-add must restore the original serving results")
    assert(AtomicLayer.read(spark, s"$root/tombstones.parquet").count() == 0,
      "re-add must clear the ids' tombstones")
  }
}
