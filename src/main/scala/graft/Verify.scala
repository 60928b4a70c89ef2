package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.immutable.SortedMap
import scala.util.matching.Regex
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare, and
  * failures.json (name → class and message of each failed query). The
  * exit status stays 0 on failures: perfbench's `Record` calls [[main]]
  * in process and records each cause itself. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional third arg: regex over query names (dev-loop filter; the
    // driver always runs the full set).
    val Array(sfDir, outDir) = args.take(2)
    val spark = GraftSession.builder(GraftSession.cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, sfDir, outDir, args.lift(2).map(_.r))
    spark.stop()
  }

  /** One Verify pass on `spark` over the queries `nameFilter` selects
    * (all when empty); returns the exception of each that failed. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      nameFilter: Option[Regex]): Map[String, Throwable] = {
    def selected(name: String): Boolean =
      nameFilter.forall(_.findFirstIn(name).isDefined)
    new java.io.File(outDir).mkdirs()
    // FRESH-OUTDIR GUARD: an UNFILTERED run owns the whole directory —
    // remove subdirectories for queries that no longer exist (renames /
    // removals), so a later sweep never compares against stale debris
    // from an earlier registry. Filtered dev runs leave siblings alone.
    // Only directories that are recognizably OUR dumps are touched
    // (ADVICE r11: a mispointed outDir must not destroy unrelated
    // trees): a dump Verify wrote has a `_SUCCESS` marker or
    // `part-*.parquet` files at its top level.
    if (nameFilter.isEmpty) {
      val live = SparkEntry.queries.keySet
      def isDump(d: java.io.File): Boolean =
        Option(d.listFiles()).getOrElse(Array.empty).exists(f =>
          f.getName == "_SUCCESS" ||
            (f.getName.startsWith("part-") && f.getName.contains(".parquet")))
      Option(new java.io.File(outDir).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && !live.contains(f.getName))
        .foreach { stale =>
          if (isDump(stale)) {
            System.err.println(s"[verify] removing stale dump: ${stale.getName}")
            graft.tools.Scratch.deleteRecursively(stale.toPath)
          } else {
            System.err.println(
              s"[verify] leaving non-dump directory alone: ${stale.getName}")
          }
        }
    }
    val failures = SparkEntry.queries.toSeq.filter(kv => selected(kv._1))
      .flatMap { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name -> e)
        }
      }.to(SortedMap)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // The names THIS run was responsible for — check_oracle.py uses it to
    // ignore (and flag) any other directory as stale debris. Written on
    // UNFILTERED runs only (matching the stale-purge guard, ADVICE r11):
    // a filtered dev run rewriting the manifest would shrink a later
    // full-directory sweep to the filtered subset while still passing.
    if (nameFilter.isEmpty)
      Files.writeString(Paths.get(s"$outDir/query_names.json"),
        SparkEntry.queries.keys.toSeq.sorted
          .map(q).mkString("[", ",", "]"))
    // This run's failure causes, written on every run: it cannot make a
    // sweep pass, and check_oracle.py prints the cause of a listed query
    // that has no dump.
    Files.writeString(Paths.get(s"$outDir/failures.json"),
      failures.map { case (name, e) =>
        s"${q(name)}: {${q("class")}: ${q(e.getClass.getName)}, " +
          s"${q("message")}: ${q(String.valueOf(e.getMessage))}}"
      }.mkString("{", ",", "}"))
    failures
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // oracle check's json.load fail and silently zero its correctness count.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
