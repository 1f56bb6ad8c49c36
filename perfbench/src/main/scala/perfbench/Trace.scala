package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer, with the counters attributed to it. */
final class Span(val id: Int, val name: String, val parent: Int, val start: Long) {
  var end: Long = -1L
  val counters: mutable.Map[String, Double] = mutable.Map.empty
  def seconds: Double = (end - start) / 1e9
  def add(k: String, v: Double): Unit = synchronized {
    counters(k) = counters.getOrElse(k, 0.0) + v
  }
}

/** Spans kept in memory for the whole run and written out when it ends.
  * Disabled, `span` is a plain call, so the untraced run pays nothing.
  *
  * Spark work is attributed by time, not by thread: the client is one
  * closed loop, so at any instant one innermost span is open, and a job
  * belongs to the span that was innermost when it was submitted. That
  * also covers jobs the engine submits from its own pool threads. */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var session: SparkSession = _
  private val listener = new SparkEvents
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val originMs = System.currentTimeMillis()
  private val originNs = System.nanoTime()
  private var attributed = false

  def gcSeconds: Double = gcBeans.map(_.getCollectionTime).filter(_ > 0).sum / 1000.0

  /** Attach the Spark listeners to a (new) session. */
  def attach(spark: SparkSession): Unit = if (enabled) {
    session = spark
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(listener)
  }

  /** Deliver the pending Spark events of the session about to stop. */
  def detach(): Unit = if (enabled && session != null) {
    org.apache.spark.PerfbenchBus.drain(session.sparkContext)
    session = null
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.length, name, open.headOption.map(_.id).getOrElse(-1), System.nanoTime())
      spans += s
      open = s :: open
      val gc0 = gcSeconds
      try body
      finally {
        s.end = System.nanoTime()
        s.add("jvm.gc_s", gcSeconds - gc0)
        open = open.tail
      }
    }

  def epochMs(nanos: Long): Double = originMs + (nanos - originNs) / 1e6

  /** Every span, with the Spark counters attributed (once, at the end). */
  def all: Seq[Span] = {
    if (!attributed) {
      detach()
      attribute()
      attributed = true
    }
    spans.toList
  }

  private def innermostAt(ms: Long): Option[Span] =
    spans.filter(s => epochMs(s.start) <= ms && ms < epochMs(s.end)).maxByOption(_.start)

  private def attribute(): Unit = listener.synchronized {
    // a stage or execution shared by several jobs counts once, on the
    // first job that lists it (later jobs list completed stages as skipped)
    val seenStages = mutable.Set.empty[Int]
    val seenExecs = mutable.Set.empty[Long]
    listener.jobs.toSeq.sortBy(_._1).foreach { case (_, j) =>
      innermostAt(j.start).foreach { s =>
        s.add("spark.jobs", 1)
        j.stages.filter(seenStages.add).flatMap(listener.stageCounters.get).foreach { c =>
          s.add("spark.stages", 1)
          c.foreach { case (k, v) => s.add(k, v) }
        }
        j.execution.filter(seenExecs.add).flatMap(listener.executions.get)
          .foreach(_.foreach { case (k, v) => s.add(k, v) })
      }
    }
  }

  /** Span wall with no Spark job running that the span (or a child) ran. */
  def driverGapSeconds(s: Span): Double = {
    val lo = epochMs(s.start); val hi = epochMs(s.end)
    val iv = listener.jobs.values.toSeq
      .map(j => (math.max(j.start.toDouble, lo), math.min(j.end.toDouble, hi)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0.0; var curA = 0.0; var curB = 0.0
    iv.foreach { case (a, b) =>
      if (a > curB) { busy += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    busy += curB - curA
    math.max(0.0, (hi - lo - busy) / 1000.0)
  }

  /** Spans as JSON lines: run id, id, name, parent, start, end, counters.
    * Counters are the span's own (Spark work attributed to a child is on
    * the child); `jvm.gc_s` and `driver_gap_s` cover the whole span. */
  def writeJsonl(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = all.map { s =>
      val c = s.counters.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
      s"""{"run":${Json.str(runId)},"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
        s""""start_ms":${Json.num(epochMs(s.start))},"end_ms":${Json.num(epochMs(s.end))},""" +
        s""""wall_s":${Json.num(s.seconds)},"driver_gap_s":${Json.num(driverGapSeconds(s))},""" +
        s""""counters":{${c.mkString(",")}}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

private final case class JobRecord(start: Long, stages: Seq[Int], execution: Option[Long]) {
  var end: Long = Long.MaxValue
}

/** Raw Spark events: jobs with their stages, per-stage task counters,
  * per-execution Catalyst phase times and TopKPerKey node counts. */
private final class SparkEvents extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  val jobs = mutable.Map.empty[Int, JobRecord]
  val stageCounters = mutable.Map.empty[Int, mutable.Map[String, Double]]
  val executions = mutable.Map.empty[Long, Map[String, Double]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    jobs(e.jobId) = JobRecord(e.time, e.stageInfos.map(_.stageId), exec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = stageCounters.getOrElseUpdate(e.stageId, mutable.Map.empty)
    def add(k: String, v: Double): Unit = c(k) = c.getOrElse(k, 0.0) + v
    add("spark.tasks", 1)
    if (e.taskInfo != null && !e.taskInfo.successful) add("spark.task_failures", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("spark.executor_cpu_s", m.executorCpuTime / 1e9)
      add("spark.executor_run_s", m.executorRunTime / 1e3)
      add("spark.shuffle_read_bytes",
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
      add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("spark.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("sinks.bytes_written", m.outputMetrics.bytesWritten)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val ph = qe.tracker.phases
    val planS = Seq("analysis", "optimization", "planning").flatMap(ph.get).map(_.durationMs).sum / 1000.0
    val topk = collect(qe.executedPlan) { case _: graft.plans.TopKPerKeyExec => 1 }.sum
    executions(qe.id) = Map("catalyst.plan_s" -> planS, "plans.topk_exec_nodes" -> topk.toDouble)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
