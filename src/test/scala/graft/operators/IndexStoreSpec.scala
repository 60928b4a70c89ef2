package graft.operators

import graft.{OwnerScan, SparkSpec}
import graft.energy.AtomicLayer

/** [[IndexStore]] owns the persisted-index lifecycle: its roots, its
  * one-snapshot writes and its all-or-nothing build-once.
  */
class IndexStoreSpec extends SparkSpec {

  test("build-once skips a complete build and redoes a partial one whole") {
    val root = graft.tools.Scratch.dir("index-store").toString + "/idx"
    var builds = 0
    def build(): Unit = IndexStore.buildOnce(spark, root, "a.parquet", "b.parquet") {
      builds += 1
      IndexStore.put(spark.range(3).toDF("id"), root, "a.parquet")
      IndexStore.put(spark.range(5).toDF("id"), root, "b.parquet")
    }
    build()
    build()
    assert(builds == 1, "a complete build must not run again")
    // a build that died after its first commit: only a.parquet committed
    graft.tools.Scratch.deleteRecursively(java.nio.file.Paths.get(root, "b.parquet"))
    build()
    assert(builds == 2, "a partial build must run again")
    for (a <- Seq("a.parquet", "b.parquet"))
      assert(AtomicLayer.committedVersions(spark, s"$root/$a").map(_._1).size == 1,
        s"$a keeps one committed snapshot")
    assert(AtomicLayer.latestCommitted(spark, s"$root/a.parquet").get.endsWith("/v1"),
      "the rebuild rewrites every artifact, the committed one too")
    assert(IndexStore.get(spark, root, "b.parquet").count() == 5)
  }

  test("no source under src/main outside IndexStore.scala spells an index root") {
    val copies = OwnerScan.sitesOutside("graft_(ann|graph)_index".r, "operators/IndexStore.scala")
    assert(copies.isEmpty,
      s"index roots spelled outside IndexStore: $copies — use IndexStore.root / glob")
  }

  test("no source under src/main outside IndexStore.scala writes a one-version artifact") {
    // AtomicLayer's own streaming merge keeps one snapshot of its target
    val writes = OwnerScan.sitesOutside("""keepVersions\s*=\s*1\b""".r,
      "operators/IndexStore.scala", exempt = Seq("energy/AtomicLayer.scala"))
    assert(writes.isEmpty,
      s"keepVersions = 1 outside IndexStore: $writes — use IndexStore.put")
  }
}
