package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Small-file compaction — the table-maintenance operator every long-lived
  * ingest pipeline needs (the reference's per-day overwrite writes one
  * file per task per run and never consolidates;
  * reference: src/ingestion/power_ingestion.py:74-79). Thousands of tiny
  * files turn a 100 TB scan into a metadata stampede: each file costs a
  * task, a footer read, and an open; compaction rewrites a directory into
  * ~size/target files so scans run at `maxPartitionBytes` granularity.
  *
  * [[filesFor]] is the one bytes-to-files rule: `compact` sizes its output
  * with it, and [[graft.energy.Bronze]] sizes the medallion's tasks and
  * files with it, so a layer writes files by payload bytes, not one per
  * core.
  *
  * The rewrite is a plain repartition-and-write — no shuffle key, so rows
  * round-robin into equal-size outputs. Production systems compact per
  * partition directory (bounding each rewrite) and swap atomically via
  * their table format's commit. `compact` makes no commit: the caller
  * supplies a fresh target directory, and switching readers to it is the
  * caller's job.
  */
object Compaction {

  /** Data files (parquet parts) under `dir`, via the Hadoop FS API so the
    * same code runs against HDFS/S3A in production.
    */
  def dataFiles(spark: SparkSession, dir: String): Seq[(String, Long)] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
      .map(s => s.getPath.toString -> s.getLen)
  }

  /** Files (or tasks) needed for `bytes` at ~`targetBytes` each:
    * ceil(bytes / targetBytes), at least one. Computed without adding the
    * two, so no target, however large, overflows.
    */
  def filesFor(bytes: Long, targetBytes: Long): Long = {
    require(targetBytes > 0, "targetBytes must be positive")
    require(bytes >= 0, "bytes must not be negative")
    math.max(1L, bytes / targetBytes + (if (bytes % targetBytes == 0) 0L else 1L))
  }

  /** Rewrite `srcDir` into `dstDir` with ~targetBytes per output file
    * ([[filesFor]]). Returns (filesBefore, filesAfter).
    */
  def compact(spark: SparkSession, srcDir: String, dstDir: String,
      targetBytes: Long): (Int, Int) = {
    val before = dataFiles(spark, srcDir)
    val nOut = filesFor(before.map(_._2).sum, targetBytes).toInt
    spark.read.parquet(srcDir)
      .repartition(nOut)
      .write.mode("overwrite").parquet(dstDir)
    (before.size, dataFiles(spark, dstDir).size)
  }
}
