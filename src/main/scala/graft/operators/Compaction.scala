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

  /** Rewrite `srcDir` into `dstDir` with ~targetBytes per output file
    * (at least one). Returns (filesBefore, filesAfter).
    */
  def compact(spark: SparkSession, srcDir: String, dstDir: String,
      targetBytes: Long): (Int, Int) = {
    require(targetBytes > 0, "targetBytes must be positive")
    val before = dataFiles(spark, srcDir)
    val totalBytes = before.map(_._2).sum
    val nOut = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    spark.read.parquet(srcDir)
      .repartition(nOut)
      .write.mode("overwrite").parquet(dstDir)
    (before.size, dataFiles(spark, dstDir).size)
  }
}
