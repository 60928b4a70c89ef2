package graft

/** Plan-audit utility: prints the formatted physical plan for each query
  * name (regex) given — the dev loop behind the "explain until it's the
  * plan you'd want" discipline. Usage:
  *   sbt "runMain graft.Explain <sfDir> <nameRegex> [nameRegex ...]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val patterns = args.tail.map(_.r)
    val spark = GraftSession.builder(GraftSession.cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (patterns.exists(_.findFirstIn(name).isDefined)) {
        println(s"===== $name =====")
        fn(spark, sfDir).explain("formatted")
      }
    }
    spark.stop()
  }
}
