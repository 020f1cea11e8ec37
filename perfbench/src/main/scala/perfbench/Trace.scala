package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Spans around the benchmark's calls into the program, with Spark work
  * attributed to them by one listener.
  *
  * A span sets the local property [[Trace.SpanKey]] on the calling
  * thread, so every job the call submits carries the span id. The
  * listener maps job → span and stage → job, and adds each finished
  * task's run time, shuffle and I/O bytes to the job's span. A job is
  * also counted under the source file of its call site (its SQL
  * execution's description, else the result stage's `name`, e.g.
  * `json at JsonEntities.scala:59`).
  *
  * Span ids are unique across every Trace of the process, so a job
  * submitted inside another Trace's span is never charged to this one.
  * The listener is registered only inside [[Trace#listening]]; outside
  * it, and always with tracing off, a span records only its wall time.
  * Spans and counters stay in memory; [[Trace#write]] dumps them when
  * the run ends.
  */
object Trace {
  val SpanKey = "perfbench.span"
  private val nextId = new java.util.concurrent.atomic.AtomicInteger()

  final class Span(val id: Int, val name: String, val parent: Int,
      val startNs: Long) {
    var endNs = 0L
    var jobs, tasks, taskMs, shuffleRead, shuffleWrite, inputBytes,
      outputBytes = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
    val jobsBySite: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
    val counters: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
    def wallS: Double = (endNs - startNs) / 1e9
    /** Seconds of the span's wall covered by at least one of its jobs. */
    def jobCoveredS: Double = {
      val sorted = jobIntervals.sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      sorted.foreach { case (s, e) =>
        if (s > curE) { covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE > curS) covered += curE - curS
      covered / 1e3
    }
  }
}

final class Trace(sc: SparkContext, val enabled: Boolean) {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = mutable.Map.empty[Int, Span]
  private val jobSpan = mutable.Map.empty[Int, Span]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val executionSite = mutable.Map.empty[Long, String]
  private var stack: List[Span] = Nil

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val sid = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      sid.flatMap(s => byId.get(s.toInt)).foreach { span =>
        span.jobs += 1
        jobSpan(e.jobId) = span
        jobStart(e.jobId) = e.time
        e.stageIds.foreach(stageJob(_) = e.jobId)
        // Adaptive execution submits a query's stages from its own
        // threads, so the stage name points at the JDK; the query's
        // call site comes from its SQL execution start instead.
        val site = Option(e.properties.getProperty("spark.sql.execution.id"))
          .flatMap(id => executionSite.get(id.toLong))
          .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
        span.jobsBySite(siteFile(site)) += 1
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Trace.this.synchronized {
        executionSite(s.executionId) = s.description
      }
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobSpan.get(e.jobId).foreach { span =>
        span.jobIntervals += jobStart.getOrElse(e.jobId, e.time) -> e.time
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      for (job <- stageJob.get(e.stageId); span <- jobSpan.get(job)) {
        span.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          span.taskMs += m.executorRunTime
          span.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          span.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          span.inputBytes += m.inputMetrics.bytesRead
          span.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  /** `json at JsonEntities.scala:59` → `JsonEntities`. */
  private def siteFile(site: String): String = {
    val at = site.lastIndexOf(" at ")
    val loc = if (at >= 0) site.drop(at + 4) else site
    val f = loc.takeWhile(_ != ':').stripSuffix(".scala").stripSuffix(".java")
    if (f.isEmpty) "other" else f
  }

  @volatile private var attached = false

  /** Run `body` with the listener registered (when tracing is on); it is
    * removed again, after the bus has delivered `body`'s events. */
  def listening[T](body: => T): T =
    if (!enabled) body
    else {
      sc.addSparkListener(listener)
      attached = true
      try body
      finally {
        org.apache.spark.PerfbenchBus.drain(sc)
        attached = false
        sc.removeSparkListener(listener)
      }
    }

  /** Run `body` inside a span named `name`; returns its result and the
    * closed span. The listener bus is drained before the span is read,
    * so every task of its jobs has been attributed. */
  def span[T](name: String)(body: => T): (T, Span) = {
    val s = synchronized {
      val s = new Span(nextId.getAndIncrement(), name, stack.headOption.map(_.id).getOrElse(-1),
        System.nanoTime())
      spans += s
      byId(s.id) = s
      stack = s :: stack
      s
    }
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, s.id.toString)
    try {
      val r = body
      (r, s)
    } finally {
      s.endNs = System.nanoTime()
      sc.setLocalProperty(SpanKey, prev)
      synchronized { stack = stack.tail }
      if (attached) org.apache.spark.PerfbenchBus.drain(sc)
    }
  }

  def all: Seq[Span] = synchronized(spans.toList)
  def named(prefix: String): Seq[Span] = all.filter(_.name.startsWith(prefix))

  /** Spans as JSON lines: name, parent, wall, job-covered seconds, Spark
    * counters and the span's own counters. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = all.map { s =>
      Json.obj("id" -> s.id.toString, "name" -> Json.str(s.name),
        "parent" -> s.parent.toString, "wall_s" -> f"${s.wallS}%.6f",
        "job_covered_s" -> f"${s.jobCoveredS}%.6f", "jobs" -> s.jobs.toString,
        "tasks" -> s.tasks.toString, "task_ms" -> s.taskMs.toString,
        "shuffle_read" -> s.shuffleRead.toString, "shuffle_write" -> s.shuffleWrite.toString,
        "input_bytes" -> s.inputBytes.toString, "output_bytes" -> s.outputBytes.toString,
        "jobs_by_site" -> Json.obj(s.jobsBySite.toSeq.sorted.map { case (k, v) => k -> v.toString }: _*),
        "counters" -> Json.obj(s.counters.toSeq.sorted.map { case (k, v) => k -> v.toString }: _*))
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
