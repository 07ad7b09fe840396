package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Records what the engine did, from outside it, through Spark's public
  * listener APIs: every job, stage and task, the planning phases of every
  * QueryExecution, and every streaming progress report. Nothing is
  * attributed while events arrive; the benchmark later cuts the event
  * log by its own sequential time windows (closed loop, one client), so
  * jobs submitted from threads without the caller's local properties
  * (the `Par` branches) are counted like any other.
  *
  * Events are delivered asynchronously on Spark's listener bus; read the
  * log only after `SparkSession.stop()`, which drains the bus.
  */
final class Probe extends SparkListener with QueryExecutionListener {
  import Probe._

  val jobs = mutable.ArrayBuffer.empty[Job]
  val stages = mutable.ArrayBuffer.empty[StageRun]
  val tasks = mutable.ArrayBuffer.empty[TaskRun]
  val plans = mutable.ArrayBuffer.empty[Plan]
  val epochs = mutable.ArrayBuffer.empty[Epoch]
  private val jobById = mutable.HashMap.empty[Int, Job]

  /** Codegen compile counters, sampled by the caller around a window. */
  def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.map(_.toDouble).sum)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // the result stage carries the job's call site (first frame outside
    // Spark); a pin job's call site is in Materialize.scala
    val last = e.stageInfos.maxByOption(_.stageId)
    val site = last.map(s => s.name + "\n" + s.details).getOrElse("")
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val j = Job(e.jobId, e.time.toDouble, site, group)
    jobs += j
    jobById(e.jobId) = j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_.endMs = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val s = e.stageInfo
      stages += StageRun(s.stageId, s.submissionTime.getOrElse(0L).toDouble)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    tasks += TaskRun(
      launchMs = i.launchTime.toDouble,
      durMs = (i.finishTime - i.launchTime).toDouble,
      runMs = m.map(_.executorRunTime).getOrElse(0L).toDouble,
      cpuNs = m.map(_.executorCpuTime).getOrElse(0L).toDouble,
      gcMs = m.map(_.jvmGCTime).getOrElse(0L).toDouble,
      shuffleWrite = m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L).toDouble,
      shuffleRead = m.map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L).toDouble,
      fetchWaitMs = m.map(_.shuffleReadMetrics.fetchWaitTime).getOrElse(0L).toDouble,
      spill = m.map(t => t.memoryBytesSpilled + t.diskBytesSpilled).getOrElse(0L).toDouble,
      peakExec = m.map(_.peakExecutionMemory).getOrElse(0L).toDouble,
      inBytes = m.map(_.inputMetrics.bytesRead).getOrElse(0L).toDouble,
      inRecords = m.map(_.inputMetrics.recordsRead).getOrElse(0L).toDouble,
      failed = e.reason != Success)
  }

  private def recordPlan(qe: QueryExecution): Unit =
    synchronized {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) plans += Plan(
        ph.values.map(_.startTimeMs).min.toDouble, ph.values.map(_.durationMs).sum.toDouble)
    }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = recordPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = recordPlan(qe)

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Probe.this.synchronized {
        val p = e.progress
        val d = p.durationMs
        def ms(k: String): Double =
          if (d.containsKey(k)) d.get(k).doubleValue() else 0.0
        epochs += Epoch(p.batchId,
          java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          p.numInputRows, ms("triggerExecution"), ms("latestOffset"),
          ms("walCommit"), ms("queryPlanning"), ms("addBatch"),
          ms("commitOffsets"), ms("getBatch"))
      }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streaming)
  }

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    spark.streams.removeListener(streaming)
  }

  /** Layer metrics of everything that started in [lo, hi). */
  def window(lo: Double, hi: Double, cores: Int): Map[String, Double] = synchronized {
    def in(t: Double) = t >= lo && t < hi
    val js = jobs.filter(j => in(j.startMs))
    val ts = tasks.filter(t => in(t.launchMs))
    val ss = stages.filter(s => in(s.submitMs))
    val pins = js.filter(_.callSite.contains("Materialize.scala"))
    val wallS = (hi - lo) / 1000.0
    val jobIntervals = js.map(j => (j.startMs, if (j.endMs < 0) hi else j.endMs)).toSeq
    val taskS = ts.map(_.durMs).sum / 1000.0
    Map(
      "operators.jobs" -> js.size.toDouble,
      "operators.stages" -> ss.size.toDouble,
      "operators.tasks" -> ts.size.toDouble,
      "operators.failed_tasks" -> ts.count(_.failed).toDouble,
      "operators.driver_only_s" ->
        (wallS - Util.covered(jobIntervals, lo, hi) / 1000.0),
      "operators.exec_s" -> ts.map(_.runMs).sum / 1000.0,
      "operators.task_s" -> taskS,
      "operators.cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "operators.gc_s" -> ts.map(_.gcMs).sum / 1000.0,
      "operators.busy_frac" -> (if (wallS > 0) taskS / (wallS * cores) else 0.0),
      "operators.shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / MiB,
      "operators.shuffle_read_mb" -> ts.map(_.shuffleRead).sum / MiB,
      "operators.fetch_wait_s" -> ts.map(_.fetchWaitMs).sum / 1000.0,
      "operators.spill_mb" -> ts.map(_.spill).sum / MiB,
      "operators.peak_exec_mb" -> (ts.map(_.peakExec) :+ 0.0).max / MiB,
      "Materialize.pins" -> pins.size.toDouble,
      "Materialize.pin_s" -> pins.map(j => j.endMs - j.startMs).sum / 1000.0,
      "Tables.scan_mb" -> ts.map(_.inBytes).sum / MiB,
      "Tables.scan_rows" -> ts.map(_.inRecords).sum,
      "plans.plan_ms" -> plans.filter(p => in(p.startMs)).map(_.planMs).sum)
  }

  def jobsIn(lo: Double, hi: Double): Seq[Job] = synchronized {
    jobs.filter(j => j.startMs >= lo && j.startMs < hi).toSeq
  }
}

object Probe {
  private val MiB = 1024.0 * 1024.0

  final case class Job(id: Int, startMs: Double, callSite: String,
                       group: Option[String]) { var endMs: Double = -1.0 }
  final case class StageRun(id: Int, submitMs: Double)
  final case class TaskRun(launchMs: Double, durMs: Double, runMs: Double,
                           cpuNs: Double, gcMs: Double, shuffleWrite: Double,
                           shuffleRead: Double, fetchWaitMs: Double,
                           spill: Double, peakExec: Double, inBytes: Double,
                           inRecords: Double, failed: Boolean)
  final case class Plan(startMs: Double, planMs: Double)
  final case class Epoch(batchId: Long, startMs: Double, inputRows: Long,
                         triggerMs: Double, latestOffsetMs: Double,
                         walCommitMs: Double, planningMs: Double,
                         addBatchMs: Double, commitOffsetsMs: Double,
                         getBatchMs: Double)
}
