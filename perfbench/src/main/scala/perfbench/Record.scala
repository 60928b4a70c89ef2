package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8

/** Records the registry's correctness digests (`registry/digests.tsv`).
  *
  * Usage: Record <dataDir> <dumpDir> <digestsOut>
  *
  * Runs `graft.Verify` into `dumpDir` (one parquet directory per registry
  * name, in the correctness gate's layout, plus `oracle_sql.json`),
  * leaving out [[Registry.Excluded]] so nothing is written at fixed paths
  * outside `java.io.tmpdir`. Then records, for every registry name in
  * sorted order, the digest of its dump read back. A name with no dump
  * failed in `graft.Verify`; it is run once more to record the exception
  * class and message.
  */
object Record {

  def main(args: Array[String]): Unit = {
    val Array(dataDir, dumpDir, digestsOut) = args
    graft.Verify.main(Array(dataDir, dumpDir, Registry.Excluded.mkString("^(?!(?:", "|", ")$)")))
    val spark = Session.start(sys.props("java.io.tmpdir"))
    val lines = graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val dump = new File(dumpDir, name)
      val line =
        if (Registry.Excluded(name)) s"$name\texcluded\t-"
        else if (new File(dump, "_SUCCESS").exists())
          s"$name\tok\t${Digest.of(spark.read.parquet(dump.getPath))}"
        else {
          val why = try { fn(spark, dataDir).collect(); "no dump" } catch {
            case e: Throwable => Main.describe(e)
          }
          s"$name\tfailed:$why\t-"
        }
      System.err.println(line)
      line
    }
    Files.write(digestsOut, ("name\tstatus\tdigest" +: lines).mkString("", "\n", "\n"))
    Session.stop(spark)
  }
}

/** Small file helpers shared by the harness. */
object Files {
  def write(path: String, text: String): Unit = {
    val f = new File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    java.nio.file.Files.write(f.toPath, text.getBytes(UTF_8)): Unit
  }

  def read(path: String): String =
    new String(java.nio.file.Files.readAllBytes(new File(path).toPath), UTF_8)

  def deleteRecursive(f: File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursive)
    f.delete(): Unit
  }

  /** (files, bytes) under `f`, recursively. */
  def usage(f: File): (Long, Long) =
    if (f.isFile) (1L, f.length())
    else Option(f.listFiles()).getOrElse(Array.empty).map(usage)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
}

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.lang.Double.toString(x)

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
