package storebench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** One timed interval, in epoch milliseconds. Spans of one op share `op`,
  * and `parent` is the id of the enclosing span (0 for a root span). */
final case class Span(op: Int, id: Long, parent: Long, name: String, start: Double, end: Double)

/** A wall clock in epoch milliseconds with nanosecond resolution, so the
  * benchmark's own spans line up with the listener's epoch-ms event times. */
object Clock {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble
  def nowMs: Double = originMs + (System.nanoTime() - originNs) / 1e6
}

final case class TaskRec(stage: Int, launch: Long, finish: Long, cpuNs: Long, runMs: Long, gcMs: Long,
    shuffleWrite: Long, spill: Long)
final case class JobRec(id: Int, group: String, callSite: String, start: Long, var end: Long)

/** Collects job, stage and task events through Spark's public listener API.
  * Ops are told apart by the job group the benchmark sets around each op. */
final class OpListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stageJob = mutable.HashMap.empty[Int, Int]
  val stageSubmit = mutable.HashMap.empty[Int, Long]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private var tasksStarted = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val site = Option(e.properties).flatMap(p => Option(p.getProperty("callSite.short")))
      .orElse(e.stageInfos.lastOption.map(_.name)).getOrElse("")
    jobs(e.jobId) = JobRec(e.jobId, group, site, e.time, -1L)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(t => stageSubmit(e.stageInfo.stageId) = t)
  }
  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized { tasksStarted += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val i = e.taskInfo
    tasks += (if (m == null) TaskRec(e.stageId, i.launchTime, i.finishTime, 0, 0, 0, 0, 0)
      else TaskRec(e.stageId, i.launchTime, i.finishTime, m.executorCpuTime, m.executorRunTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  /** Waits until the asynchronous listener bus has delivered the end of
    * every job and task it announced. */
  def awaitQuiet(timeoutMs: Long = 20000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def quiet = synchronized { jobs.values.forall(_.end >= 0) && tasks.size.toLong == tasksStarted }
    while (!quiet && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(50)
  }

  def jobsOf(group: String): Seq[JobRec] = synchronized { jobs.values.filter(_.group == group).toVector }
  def tasksOf(js: Seq[JobRec]): Seq[TaskRec] = synchronized {
    val ids = js.map(_.id).toSet
    tasks.filter(t => stageJob.get(t.stage).exists(ids)).toVector
  }
}

/** Store scan counters and partition count of one executed query, read from
  * the scan nodes of its executed plan (the DSv2 custom metrics). */
object PlanMetrics {
  val Names = Seq("segmentsRead", "runsRead", "runsBloomSkipped", "cellsMerged", "tombstonesDropped",
    "cellsSeekSkipped", "partitionsStatsOnly")

  private def scans(p: SparkPlan): Seq[BatchScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case s: QueryStageExec => scans(s.plan)
    case r: ReusedExchangeExec => scans(r.child)
    case b: BatchScanExec => Seq(b)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  def apply(executed: SparkPlan): Map[String, Long] = {
    val ss = scans(executed)
    val counters = Names.map(n => n -> ss.flatMap(_.metrics.get(n)).map(_.value).sum).toMap
    counters + ("partitions" -> ss.map(_.inputRDD.getNumPartitions.toLong).sum)
  }
}

/** Per-run span and count store. Everything stays in memory and is written
  * to one file when the run ends. */
final class Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Per-op counts, keyed by op index. */
  val counts = mutable.LinkedHashMap.empty[Int, mutable.LinkedHashMap[String, Double]]
  private var nextId = 0L

  def newId(): Long = { nextId += 1; nextId }

  def span[A](op: Int, parent: Long, name: String)(body: Long => A): A = {
    val id = newId()
    val t0 = Clock.nowMs
    try body(id) finally spans += Span(op, id, parent, name, t0, Clock.nowMs)
  }

  def count(op: Int, name: String, v: Double): Unit =
    counts.getOrElseUpdate(op, mutable.LinkedHashMap.empty)(name) = v

  def write(path: java.nio.file.Path, header: String): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      w.write(header); w.newLine()
      spans.foreach { s =>
        w.write(f"""{"span":${Json.value(s.name)},"op":${s.op},"id":${s.id},"parent":${s.parent},"start":${s.start}%.3f,"end":${s.end}%.3f}""")
        w.newLine()
      }
      counts.foreach { case (op, m) =>
        w.write(m.map { case (k, v) => s""""$k":$v""" }.mkString(s"""{"counts":$op,""", ",", "}"))
        w.newLine()
      }
    } finally w.close()
  }
}
