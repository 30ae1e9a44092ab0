package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-module totals of one call. */
final case class ModuleTotals(busyS: Double, jobs: Int, taskCpuS: Double, outputBytes: Long)

/** What the listeners saw during one call, attributed by module. */
final case class CallTrace(
    wallS: Double,
    driverSelfS: Double,
    jobs: Int,
    tasks: Long,
    gcS: Double,
    shuffleWriteBytes: Long,
    spillBytes: Long,
    sourceRecordsRead: Long,
    modules: Map[String, ModuleTotals],
    steps: Map[String, ModuleTotals]) {
  /** |Σ attributed module busy + driver self − wall| ÷ wall: near 0 when
    * every job inside the call was attributed to a module and no two
    * modules ran at once; an unattributed job lowers the sum, overlapping
    * modules raise it. */
  def addupError: Double = {
    val attributed = modules.collect { case (m, t) if m != JobTracer.Unattributed => t.busyS }.sum
    math.abs(attributed + driverSelfS - wallS) / wallS
  }
}

/** Job tracer: a `SparkListener` that records every job's interval,
  * SQL execution and stage metrics, and attributes each job to the
  * module of the innermost `graft.*` frame of its SQL execution's long
  * call site (falling back to the result stage's call site for jobs run
  * outside SQL). The rule never reads stage names: AQE materialises
  * shuffle stages as separate jobs named after a thread-pool frame, but
  * they carry their execution's id.
  *
  * `sourceMarkers` are plan fragments of a scan of the staged input;
  * jobs whose execution plan holds one count towards source read
  * amplification. */
final class JobTracer(sourceMarkers: Seq[String]) extends SparkListener {
  import JobTracer._

  private final class Job(val execId: Option[Long], val stageIds: Seq[Int],
      val startMs: Long, val stageCallSite: String) {
    @volatile var endMs: Long = -1L
  }

  private val execs = new ConcurrentHashMap[Long, Exec]()
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[Int, StageMetrics]()

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case s: SparkListenerSQLExecutionStart =>
      val plan = Option(s.physicalPlanDescription).getOrElse("")
      execs.put(s.executionId, Exec(s.details, sourceMarkers.exists(plan.contains)))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    jobs.put(e.jobId, new Job(exec, e.stageIds, e.time, site))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val m = e.stageInfo.taskMetrics
    if (m != null) stages.put(e.stageInfo.stageId, StageMetrics(
      e.stageInfo.numTasks, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
      m.outputMetrics.bytesWritten, m.inputMetrics.recordsRead))
  }

  private def site(j: Job): Option[Stats.Site] =
    j.execId.flatMap(id => Option(execs.get(id))).flatMap(x => Stats.attribute(x.callSite))
      .orElse(Stats.attribute(j.stageCallSite))

  /** Jobs started within [startMs, endMs], attributed. */
  def callTrace(startMs: Long, endMs: Long, wallS: Double): CallTrace = {
    val inCall = jobs.asScala.toSeq.sortBy(_._1).map(_._2)
      .filter(j => j.startMs >= startMs && j.startMs <= endMs)
    val claimed = scala.collection.mutable.Set.empty[Int]
    final case class Row(module: String, step: String, iv: (Long, Long),
        m: Seq[StageMetrics], scansSource: Boolean)
    val rows = inCall.map { j =>
      // a stage shared by several jobs (a reused exchange) counts once
      val ms = j.stageIds.filter(claimed.add).flatMap(s => Option(stages.get(s)))
      val s = site(j)
      Row(s.fold(Unattributed)(_.module), s.fold(Unattributed)(_.step),
        (j.startMs, if (j.endMs < 0) endMs else j.endMs), ms,
        j.execId.flatMap(id => Option(execs.get(id))).exists(_.scansSource))
    }
    def busyS(rs: Seq[Row]): Double =
      Stats.unionLength(Stats.clip(rs.map(_.iv), startMs, endMs)) / 1000.0
    def totals(rs: Seq[Row]): ModuleTotals = ModuleTotals(busyS(rs), rs.size,
      rs.flatMap(_.m).map(_.cpuNs).sum / 1e9, rs.flatMap(_.m).map(_.outputBytes).sum)
    val all = rows.flatMap(_.m)
    CallTrace(
      wallS = wallS,
      driverSelfS = Stats.selfTime(startMs, endMs, rows.map(_.iv)) / 1000.0,
      jobs = rows.size,
      tasks = all.map(_.tasks.toLong).sum,
      gcS = all.map(_.gcMs).sum / 1000.0,
      shuffleWriteBytes = all.map(_.shuffleWrite).sum,
      spillBytes = all.map(_.spill).sum,
      sourceRecordsRead = rows.filter(_.scansSource).flatMap(_.m).map(_.inputRecords).sum,
      modules = rows.groupBy(_.module).map { case (k, v) => k -> totals(v) },
      steps = rows.groupBy(r => s"${r.module}:${r.step}").map { case (k, v) => k -> totals(v) })
  }

  /** Number of jobs that started within [startMs, endMs]. */
  def jobsBetween(startMs: Long, endMs: Long): Int =
    jobs.values().asScala.count(j => j.startMs >= startMs && j.startMs <= endMs)
}

object JobTracer {
  /** The module of jobs with no `graft.*` frame in their call site. */
  val Unattributed = "unattributed"
  private final case class Exec(callSite: String, scansSource: Boolean)
  private final case class StageMetrics(tasks: Int, cpuNs: Long, gcMs: Long,
      shuffleWrite: Long, spill: Long, outputBytes: Long, inputRecords: Long)
}

/** One streaming epoch as its `StreamingQueryProgress` reports it. */
final case class Epoch(startMs: Long, durationsMs: Map[String, Long]) {
  def triggerS: Double = durationsMs.getOrElse("triggerExecution", 0L) / 1000.0
  def endMs: Long = startMs + durationsMs.getOrElse("triggerExecution", 0L)
}

/** Collects epoch progress of every streaming query in the session. */
final class EpochListener extends StreamingQueryListener {
  private val seen = new java.util.concurrent.ConcurrentLinkedQueue[Epoch]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    seen.add(Epoch(java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
  /** Epochs reported since the last call, oldest first. */
  def take(): Seq[Epoch] = {
    val out = Iterator.continually(seen.poll()).takeWhile(_ != null).toVector
    out.sortBy(_.startMs)
  }
}
