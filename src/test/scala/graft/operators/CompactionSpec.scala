package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CompactionSpec extends SparkSpec {

  private def tmp(p: String) = graft.tools.Scratch.dir(p).toString

  test("compaction collapses a many-file directory and preserves content") {
    val src = tmp("compact-src") + "/t"
    val dst = tmp("compact-dst") + "/t"
    // 32 tiny files
    spark.range(10000).select(col("id"), (col("id") % 7).as("k"))
      .repartition(32)
      .write.parquet(src)
    val total = Compaction.dataFiles(spark, src).map(_._2).sum
    val (before, after) = Compaction.compact(spark, src, dst, targetBytes = total / 2 + 1)
    assert(before === 32)
    assert(after <= 4, s"expected ≤4 files after compaction, got $after")
    // content survives exactly
    val a = spark.read.parquet(src)
    val b = spark.read.parquet(dst)
    assert(b.count() === 10000)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("filesFor is ceil(bytes / target), at least one, for any target") {
    for (t <- Seq(1L, 1L << 20, Long.MaxValue / 2 + 1)) {
      assert(Compaction.filesFor(0, t) === 1, s"(0, $t)")
      assert(Compaction.filesFor(t, t) === 1, s"($t, $t)")
      assert(Compaction.filesFor(t + 1, t) === 2, s"(${t + 1}, $t)")
    }
    for (x <- Seq(0L, 1L, Long.MaxValue - 1, Long.MaxValue))
      assert(Compaction.filesFor(x, Long.MaxValue) === 1, s"($x, Long.MaxValue)")
  }

  test("target larger than the table compacts to a single file") {
    val src = tmp("compact-one") + "/t"
    val dst = tmp("compact-one-dst") + "/t"
    spark.range(100).repartition(8).write.parquet(src)
    val (_, after) = Compaction.compact(spark, src, dst, targetBytes = Long.MaxValue)
    assert(after === 1)
    assert(spark.read.parquet(dst).count() === 100)
  }
}
