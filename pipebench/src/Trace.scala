package pipebench

import java.util.Properties
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Task counters folded over a set of tasks. */
final class Counters {
  var busyMs = 0L       // summed executor run time (core-milliseconds)
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L        // memory + disk bytes spilled
  var bytesWritten = 0L // output (file) bytes
  var rowsWritten = 0L  // output (file) records
  var rowsRead = 0L     // input (file) records
  var tasks = 0L
  var tasksFailed = 0L

  def add(o: Counters): Unit = {
    busyMs += o.busyMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; spill += o.spill
    bytesWritten += o.bytesWritten; rowsWritten += o.rowsWritten
    rowsRead += o.rowsRead; tasks += o.tasks; tasksFailed += o.tasksFailed
  }
}

/** One traced interval. `rows` overrides the written-record count for spans
  * whose output is a materialized count rather than a file write.
  */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, var endNs: Long,
                      counters: Counters, var rows: Option[Long] = None) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Spans recorded from the benchmark's own code around calls into the
  * program's public functions, plus a SparkListener that attributes every
  * task to the span open on the driver thread when its job was submitted
  * (Spark copies local properties into jobs, and into the threads that
  * streaming queries start). Inside a single program call (ProcessJob.run)
  * tasks are further keyed by the root SQL execution, whose physical plan
  * names what the job writes; [[splitByExecution]] turns those keys into
  * child spans. Spans stay in memory until [[json]] is called.
  */
final class Tracer(spark: SparkSession, val runId: String) extends SparkListener {
  private val SpanKey = "pipebench.span"
  private val t0 = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]

  // listener-side state: written on the listener-bus thread, read only
  // after drain()
  private case class StageKey(span: Int, exec: Long)
  private val stageKey = mutable.Map.empty[Int, StageKey]
  private val byKey = mutable.Map.empty[StageKey, Counters]
  private val jobTimes = mutable.Map.empty[Int, (StageKey, Long, Long)]
  private val jobStart = mutable.Map.empty[Int, (StageKey, Long)]
  private val execRoot = mutable.Map.empty[Long, Long]
  private val execPlan = mutable.Map.empty[Long, String]
  var tasksFailed = 0L
  val queryOrder = mutable.ArrayBuffer.empty[java.util.UUID]
  val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]

  private def keyOf(p: Properties): StageKey = {
    val span = Option(p).flatMap(q => Option(q.getProperty(SpanKey))).map(_.toInt).getOrElse(-1)
    val exec = Option(p).flatMap(q => Option(q.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    StageKey(span, exec)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val k = keyOf(e.properties)
    e.stageIds.foreach(s => stageKey.getOrElseUpdate(s, k))
    jobStart(e.jobId) = (k, (e.time - t0Ms) * 1000000L)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (k, s) => jobTimes(e.jobId) = (k, s, (e.time - t0Ms) * 1000000L) }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageKey(e.stageInfo.stageId) = keyOf(e.properties)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val k = stageKey.getOrElse(e.stageId, StageKey(-1, -1L))
    val c = byKey.getOrElseUpdate(k, new Counters)
    c.tasks += 1
    if (!e.taskInfo.successful) { c.tasksFailed += 1; tasksFailed += 1 }
    val m = e.taskMetrics
    if (m != null) {
      c.busyMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.bytesWritten += m.outputMetrics.bytesWritten
      c.rowsWritten += m.outputMetrics.recordsWritten
      c.rowsRead += m.inputMetrics.recordsRead
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execRoot(s.executionId) = s.rootExecutionId.getOrElse(s.executionId)
      execPlan(s.executionId) = s.physicalPlanDescription
    }
    case _ =>
  }

  private val queryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Tracer.this.synchronized { queryOrder += e.id }
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { progress += e.progress }
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(this)
  spark.streams.addListener(queryListener)

  def close(): Unit = {
    drain()
    spark.streams.removeListener(queryListener)
    spark.sparkContext.removeSparkListener(this)
  }

  def drain(): Unit = org.apache.spark.PipebenchBus.drain(spark.sparkContext)

  private def now(): Long = System.nanoTime() - t0

  /** Run `body` inside a span named `name`; the span's tasks are those of
    * every job submitted while it is the innermost open span.
    */
  def span[T](name: String)(body: => T): T = open(name)(body)._1

  /** Like [[span]], recording `body`'s result as the span's output rows. */
  def counted(name: String)(body: => Long): Long = {
    val (n, s) = open(name)(body)
    s.rows = Some(n)
    n
  }

  /** [[span]] that also returns the closed span. */
  def open[T](name: String)(body: => T): (T, Span) = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanKey)
    val s = Span(spans.size, name, stack.headOption.getOrElse(-1), now(), -1L, new Counters)
    spans += s
    stack = s.id :: stack
    sc.setLocalProperty(SpanKey, s.id.toString)
    try {
      val r = body
      (r, s)
    } finally {
      drain()
      s.endNs = now()
      stack = stack.tail
      sc.setLocalProperty(SpanKey, prev)
      synchronized { byKey.collect { case (k, c) if k.span == s.id => c }.foreach(s.counters.add) }
    }
  }

  /** Split a closed span's tasks into child spans by the root SQL execution
    * each job ran under: `classify` maps that execution's physical-plan
    * text to a child span name. A child span runs from its first job's
    * start to its last job's end.
    */
  def splitByExecution(parent: Span)(classify: String => String): Seq[Span] = synchronized {
    def nameOf(exec: Long): String =
      classify(execPlan.getOrElse(execRoot.getOrElse(exec, exec), ""))
    val kids = mutable.LinkedHashMap.empty[String, Span]
    jobTimes.toSeq.filter(_._2._1.span == parent.id).sortBy(_._2._2).foreach { case (_, (k, s, e)) =>
      val sp = kids.getOrElseUpdate(nameOf(k.exec),
        Span(-1, nameOf(k.exec), parent.id, s, e, new Counters))
      sp.endNs = math.max(sp.endNs, e)
    }
    byKey.foreach { case (k, c) =>
      if (k.span == parent.id) kids.get(nameOf(k.exec)).foreach(_.counters.add(c))
    }
    kids.values.toSeq.map { sp =>
      val withId = sp.copy(id = spans.size)
      spans += withId
      withId
    }
  }

  /** Self time: wall minus the time covered by direct children. */
  def selfS(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var curS = -1L; var curE = -1L
    kids.foreach { case (a, b) =>
      if (a > curE) { covered += math.max(0L, curE - curS); curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    covered += math.max(0L, curE - curS)
    (s.endNs - s.startNs - covered) / 1e9
  }

  def json: String = {
    def q(x: String) = "\"" + x.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    spans.map { s =>
      val c = s.counters
      s"""{"run_id":${q(runId)},"id":${s.id},"name":${q(s.name)},"parent":${s.parent},""" +
        f""""start_s":${s.startNs / 1e9}%.6f,"end_s":${s.endNs / 1e9}%.6f,"self_s":${selfS(s)}%.6f,""" +
        s""""busy_ms":${c.busyMs},"cpu_ns":${c.cpuNs},"gc_ms":${c.gcMs},""" +
        s""""shuffle_write_bytes":${c.shuffleWrite},"spill_bytes":${c.spill},""" +
        s""""bytes_written":${c.bytesWritten},"rows_written":${c.rowsWritten},""" +
        s""""rows_read":${c.rowsRead},"rows_out":${s.rows.getOrElse(c.rowsWritten)},""" +
        s""""tasks":${c.tasks},"tasks_failed":${c.tasksFailed}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}
