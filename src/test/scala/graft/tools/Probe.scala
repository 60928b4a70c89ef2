package graft.tools

/** Dev scratchpad: evaluate one-off SQL against the engine's session
  * ([[graft.GraftSession]]) to probe Spark↔DuckDB function parity. Not
  * part of the driver contract.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder(graft.GraftSession.cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.foreach { sql =>
      println(s"SQL> $sql")
      try spark.sql(sql).show(20, truncate = false)
      catch { case e: Throwable =>
        println(s"ERR: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}") }
    }
    spark.stop()
  }
}

/** Same, but one SQL statement per line of the file given as args(0)
  * (shell quoting mangles inline SQL literals).
  */
object ProbeFile {
  def main(args: Array[String]): Unit = {
    val sqls = scala.io.Source.fromFile(args(0)).getLines().filter(_.trim.nonEmpty).toList
    Probe.main(sqls.toArray)
  }
}
