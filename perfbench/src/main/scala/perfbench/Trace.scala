package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed interval. Times are epoch milliseconds (the clock Spark's
  * listener events use) with a nanosecond duration for precision.
  */
final case class Span(
    id: Long,
    parent: Long,
    name: String,
    startMs: Double,
    endMs: Double,
    runId: String,
) {
  def durS: Double = (endMs - startMs) / 1000.0
}

/** In-memory span recorder; spans are written out when the run ends. */
final class Tracer(val runId: String) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()

  /** Run `body` inside a span named `name`; returns its result and span. */
  def span[T](name: String, parent: Long)(body: Long => T): (T, Span) = {
    val id = ids.incrementAndGet()
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = body(id)
    val ms = (System.nanoTime() - t0) / 1e6
    val s = Span(id, parent, name, wall0.toDouble, wall0 + ms, runId)
    spans.add(s)
    (out, s)
  }

  /** Record an interval measured elsewhere (listener events). */
  def add(name: String, parent: Long, startMs: Double, endMs: Double): Span = {
    val s = Span(ids.incrementAndGet(), parent, name, startMs, endMs, runId)
    spans.add(s)
    s
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** JSON lines: one span each, with its self time. */
  def render: String = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.sortBy(_.id).map { s =>
      val self = Trace.selfTimeS(s, kids.getOrElse(s.id, Nil))
      Json.obj(Seq(
        "run" -> Json.str(s.runId), "id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Json.str(s.name), "start_ms" -> Json.num(s.startMs),
        "end_ms" -> Json.num(s.endMs), "self_s" -> Json.num(self)))
    }.mkString("", "\n", "\n")
  }
}

object Trace {

  /** Medallion layer a SQL execution belongs to, from the storage path it
    * writes. Executions that write nothing are the pipeline's result
    * reads. The test is on path segments, so the split holds whatever
    * order `EnergyPipeline.run` issues its writes in.
    */
  def layerOf(writePath: Option[String]): String = writePath match {
    case None => "pipeline.result"
    case Some(p) =>
      val segs = p.split('/').toSeq
      Seq("bronze", "silver", "gold").find(segs.contains).getOrElse("other")
  }

  /** Length of the union of `intervals` (each start, end) clipped to
    * [lo, hi].
    */
  def coveredMs(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** A span's duration minus the part of it its children cover. */
  def selfTimeS(s: Span, children: Seq[Span]): Double =
    (s.endMs - s.startMs - coveredMs(children.map(c => (c.startMs, c.endMs)), s.startMs, s.endMs)) / 1000.0
}

final case class TaskRec(
    stageId: Int, launchMs: Long, finishMs: Long, runMs: Long, cpuNs: Long,
    gcMs: Long, shuffleWriteBytes: Long, spillBytes: Long)
final case class JobRec(
    jobId: Int, startMs: Long, var endMs: Long, stages: Seq[Int],
    executionId: Option[Long], span: Option[Long], stageName: String)
final case class ExecRec(
    id: Long, root: Long, startMs: Long, var endMs: Long,
    var write: Option[WriteNode])
/** The file write an execution's plan performs: its output path and the
  * accumulator ids of its write metrics by name.
  */
final case class WriteNode(path: String, metricIds: Map[String, Long])

/** Spark-side collector for a traced pass, on Spark's listener API: jobs,
  * tasks and SQL executions, with the storage path each execution writes
  * and that write's metrics. Jobs join their execution through
  * `spark.sql.execution.id` and the harness's span through the
  * `perfbench.span` local property.
  *
  * The write path comes from the execution's own plan as the
  * execution-start and adaptive-update events carry it; a
  * `QueryExecutionListener` cannot be used for this, because the ids of
  * the `QueryExecution`s it receives are not the SQL execution ids that
  * jobs carry.
  */
final class Collector(spark: SparkSession) extends SparkListener {
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val execs = new java.util.concurrent.ConcurrentHashMap[Long, ExecRec]()
  /** Driver-side metric values by accumulator id. */
  val accums = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  private val events = new AtomicLong(0)

  def attach(): Unit = spark.sparkContext.addSparkListener(this)

  /** Detach once the asynchronous listener bus has delivered every
    * event of the work done so far.
    */
  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
  }

  private def pending: Boolean =
    jobs.values.asScala.exists(_.endMs < 0) ||
      execs.values.asScala.exists(_.endMs < 0)

  private def drain(): Unit = {
    val deadline = System.nanoTime() + 10L * 1000000000L
    var last = -1L
    var quiet = 0
    while (System.nanoTime() < deadline && (pending || quiet < 2)) {
      val now = events.get()
      quiet = if (now == last) quiet + 1 else 0
      last = now
      Thread.sleep(20)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    jobs.put(e.jobId, JobRec(e.jobId, e.time, -1L, e.stageIds,
      prop("spark.sql.execution.id").map(_.toLong), prop(Collector.SpanProp).map(_.toLong),
      e.stageInfos.headOption.map(_.name).getOrElse("")))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    events.incrementAndGet()
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null && info != null)
      tasks.add(TaskRec(e.stageId, info.launchTime, info.finishTime, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      events.incrementAndGet()
      execs.put(e.executionId, ExecRec(e.executionId, e.rootExecutionId.getOrElse(e.executionId),
        e.time, -1L, Collector.writeNode(e.sparkPlanInfo)))
    case e: SparkListenerSQLAdaptiveExecutionUpdate =>
      events.incrementAndGet()
      Collector.writeNode(e.sparkPlanInfo).foreach(w => Option(execs.get(e.executionId)).foreach(_.write = Some(w)))
    case e: SparkListenerDriverAccumUpdates =>
      events.incrementAndGet()
      e.accumUpdates.foreach { case (id, v) => accums.put(id, v) }
    case e: SparkListenerSQLExecutionEnd =>
      events.incrementAndGet()
      Option(execs.get(e.executionId)).foreach(_.endMs = e.time)
    case _ => ()
  }

  private def root(id: Long): Option[ExecRec] =
    Option(execs.get(id)).map(e => Option(execs.get(e.root)).getOrElse(e))

  /** Layer of execution `id`, through its root execution. */
  def layerOfExec(id: Long): String = Trace.layerOf(root(id).flatMap(_.write).map(_.path))

  /** (rows, files, bytes) execution `id` wrote, from the write node's
    * metrics (keyed by their display names in the plan).
    */
  def written(id: Long): (Long, Long, Long) = Option(execs.get(id)).flatMap(_.write) match {
    case Some(w) =>
      def m(k: String): Long = w.metricIds.get(k).flatMap(a => Option(accums.get(a))).map(_.longValue).getOrElse(0L)
      (m("number of output rows"), m("number of written files"), m("written output"))
    case None => (0L, 0L, 0L)
  }
}

object Collector {
  val SpanProp = "perfbench.span"
  private val Insert = "InsertIntoHadoopFsRelationCommand "

  private def nodes(p: SparkPlanInfo): Seq[SparkPlanInfo] = p +: p.children.flatMap(nodes)

  /** The file write in a plan, from the node that executes it. */
  def writeNode(plan: SparkPlanInfo): Option[WriteNode] =
    nodes(plan).find(_.nodeName.contains("InsertIntoHadoopFsRelationCommand")).map { n =>
      val s = n.simpleString
      val from = s.indexOf(Insert)
      val rest = if (from < 0) "" else s.substring(from + Insert.length)
      val path = rest.takeWhile(_ != ',')
      WriteNode(path, n.metrics.map(m => m.name -> m.accumulatorId).toMap)
    }
}
