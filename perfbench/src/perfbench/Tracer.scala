package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.ExecutionEnd
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Counters of one span (one `Pipeline.run`, one registry row's build or
  * noop write), each also kept per graft source file.
  */
final class Acc {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  /** source file -> (jobs started from it, summed job wall ms) */
  val jobsByFile = mutable.Map.empty[String, (Int, Long)].withDefaultValue((0, 0L))
  /** source file -> (stages, tasks, task run ms, input bytes) */
  val workByFile = mutable.Map.empty[String, (Int, Int, Long, Long)].withDefaultValue((0, 0, 0L, 0L))
  /** source file -> summed planning ms (analysis + optimization + planning) */
  val planByFile = mutable.Map.empty[String, Long].withDefaultValue(0L)
  /** wall-clock ms intervals of every job, for the time not covered by jobs */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Adds another span's counters to this one. */
  def add(o: Acc): Acc = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskMs += o.taskMs; taskCpuNs += o.taskCpuNs; gcMs += o.gcMs
    inputBytes += o.inputBytes; shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadBytes += o.shuffleReadBytes; spillBytes += o.spillBytes
    analysisMs += o.analysisMs; optimizationMs += o.optimizationMs; planningMs += o.planningMs
    o.jobsByFile.foreach { case (f, (j, ms)) =>
      val (j0, ms0) = jobsByFile(f); jobsByFile(f) = (j0 + j, ms0 + ms) }
    o.workByFile.foreach { case (f, (s, t, ms, in)) =>
      val (s0, t0, ms0, in0) = workByFile(f); workByFile(f) = (s0 + s, t0 + t, ms0 + ms, in0 + in) }
    o.planByFile.foreach { case (f, ms) => planByFile(f) += ms }
    jobIntervals ++= o.jobIntervals
    this
  }

  def fileJobs(f: String): Int = jobsByFile(f)._1
  def fileJobS(f: String): Double = jobsByFile(f)._2 / 1e3

  /** Milliseconds of [from, to] covered by at least one job. */
  def coveredMs(from: Long, to: Long): Long = {
    val iv = jobIntervals.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    covered + (curE - curS)
  }
}

/** The traced run's recorder: a SparkListener for jobs, stages and task
  * metrics plus a QueryExecutionListener for the planning phases of
  * `QueryExecution.tracker`. The per-file split of planning time reads
  * the same tracker off each SQL execution's end event.
  *
  * Every job is attributed to the graft source file that started it:
  * the first `graft.` frame of the call site Spark records for the
  * job's stages (`StageInfo.details`). Jobs that carry no graft frame
  * there (AQE broadcasts run on a pool thread) take the call site of
  * their SQL execution; whatever is left is the benchmark's own call
  * (the registry's noop write) and lands under [[Tracer.Bench]].
  *
  * One calling thread drives all load, so a span is simply the events
  * delivered between two [[take]]s, each after a bus drain.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  private var acc = new Acc
  private val fileOfJob = mutable.Map.empty[Int, String]
  private val startOfJob = mutable.Map.empty[Int, Long]
  private val fileOfStage = mutable.Map.empty[Int, String]
  private val fileOfExecution = mutable.Map.empty[Long, String]

  /** Returns the counters gathered since the last call and starts anew. */
  def take(): Acc = synchronized { val a = acc; acc = new Acc; a }

  private def graftFile(callSite: String): Option[String] =
    Option(callSite).toSeq.flatMap(_.split("\n")).map(_.trim)
      .find(_.startsWith("graft."))
      .flatMap(l => Tracer.FileRe.findFirstMatchIn(l).map(_.group(1)))

  private def executionOf(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption)

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => synchronized {
      fileOfExecution(e.executionId) = graftFile(e.details).getOrElse(Tracer.Bench)
    }
    case e: SparkListenerSQLExecutionEnd => synchronized {
      val file = fileOfExecution.remove(e.executionId).getOrElse(Tracer.Bench)
      ExecutionEnd.queryExecution(e).foreach { qe =>
        acc.planByFile(file) += Tracer.phaseMs(qe).sum
      }
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val file = e.stageInfos.iterator.flatMap(s => graftFile(s.details)).nextOption()
      .orElse(executionOf(e.properties).flatMap(fileOfExecution.get))
      .getOrElse(Tracer.Bench)
    fileOfJob(e.jobId) = file
    startOfJob(e.jobId) = e.time
    e.stageIds.foreach(fileOfStage(_) = file)
    acc.jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val file = fileOfJob.remove(e.jobId).getOrElse(Tracer.Bench)
    val start = startOfJob.remove(e.jobId).getOrElse(e.time)
    val (n, ms) = acc.jobsByFile(file)
    acc.jobsByFile(file) = (n + 1, ms + (e.time - start))
    acc.jobIntervals += ((start, e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    acc.stages += 1
    val f = fileOfStage.getOrElse(e.stageInfo.stageId, Tracer.Bench)
    val (s, t, ms, in) = acc.workByFile(f)
    acc.workByFile(f) = (s + 1, t, ms, in)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    acc.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      acc.taskMs += m.executorRunTime
      acc.taskCpuNs += m.executorCpuTime
      acc.gcMs += m.jvmGCTime
      acc.inputBytes += m.inputMetrics.bytesRead
      acc.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      acc.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      acc.spillBytes += m.diskBytesSpilled
      val f = fileOfStage.getOrElse(e.stageId, Tracer.Bench)
      val (s, t, ms, in) = acc.workByFile(f)
      acc.workByFile(f) = (s, t + 1, ms + m.executorRunTime, in + m.inputMetrics.bytesRead)
    }
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    val Seq(analysis, optimization, planning) = Tracer.phaseMs(qe)
    acc.analysisMs += analysis
    acc.optimizationMs += optimization
    acc.planningMs += planning
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)
}

object Tracer {
  /** Attribution of work started by the benchmark's own code. */
  val Bench = "<benchmark>"
  /** Analysis, optimization and planning ms of a query's tracker. */
  def phaseMs(qe: QueryExecution): Seq[Long] = {
    val p = qe.tracker.phases
    Seq("analysis", "optimization", "planning").map(k => p.get(k).map(_.durationMs).getOrElse(0L))
  }
  private val FileRe = """\(([A-Za-z0-9_$]+\.scala):\d+\)""".r
}
