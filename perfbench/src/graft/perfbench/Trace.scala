package graft.perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** What the listeners saw during one phase (a pass, a drain, a build). */
final class PhaseStats {
  var startMs = 0L
  var endMs = 0L
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var analysisNs = 0L
  var optimizationNs = 0L
  var planningNs = 0L
  val jobStartsMs = mutable.ArrayBuffer.empty[Long]
  val jobIntervalsMs = mutable.ArrayBuffer.empty[(Long, Long)]
  val stageTaskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  val stageRecords = mutable.Map.empty[(Int, Int), Long]
  val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]

  /** Worst stage skew: (max + 1) / (median + 1) task run ms, over stages
    * with at least two tasks; 1.0 when no stage had two.
    */
  def maxOverMedianTask: Double = {
    val ratios = stageTaskMs.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      (s.last + 1.0) / (s(s.size / 2) + 1.0)
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }

  /** Largest record count (input + shuffle read) of any one-task stage. */
  def oneTaskStageRecords: Long = {
    val single = stageTaskMs.collect { case (k, ts) if ts.size == 1 => stageRecords.getOrElse(k, 0L) }
    if (single.isEmpty) 0L else single.max
  }

  /** Seconds of the given wall windows during which no job was running. */
  def idleSeconds(windowsMs: Seq[(Long, Long)]): Double = {
    val jobs = jobIntervalsMs.sortBy(_._1)
    windowsMs.map { case (ws, we) =>
      var covered = 0L
      var cursor = ws
      jobs.foreach { case (js, je) =>
        val s = math.max(js, cursor)
        val e = math.min(je, we)
        if (e > s) { covered += e - s; cursor = e }
      }
      (we - ws - covered) / 1000.0
    }.sum
  }

  /** Jobs started inside the given wall windows. */
  def jobsWithin(windowsMs: Seq[(Long, Long)]): Long =
    jobStartsMs.count(t => windowsMs.exists { case (s, e) => t >= s && t <= e }).toLong
}

/** Collects the per-layer numbers from outside the program: a
  * SparkListener (scheduling and executor task metrics), a
  * QueryExecutionListener (Catalyst phase times) and a
  * StreamingQueryListener (micro-batch progress). Events are attributed to
  * the phase that is open when they are delivered; [[phase]] drains the
  * listener bus at both ends, so nothing leaks across a boundary.
  *
  * `full = false` keeps only the streaming progress, which the untraced MQ
  * run needs for its batch latency and admission checks.
  */
final class Trace(spark: SparkSession, val full: Boolean) {
  private var current = new PhaseStats
  private val jobStart = mutable.Map.empty[Int, Long]

  private def update(f: PhaseStats => Unit): Unit = synchronized(f(current))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = update { p =>
      p.jobs += 1; p.jobStartsMs += e.time; jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = update { p =>
      jobStart.remove(e.jobId).foreach(s => p.jobIntervalsMs += ((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = update(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = update { p =>
      val m = e.taskMetrics
      p.tasks += 1
      if (m != null) {
        p.taskRunMs += m.executorRunTime
        p.taskCpuNs += m.executorCpuTime
        p.gcMs += m.jvmGCTime
        p.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        p.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        p.spillBytes += m.diskBytesSpilled
        val key = (e.stageId, e.stageAttemptId)
        p.stageTaskMs.getOrElseUpdate(key, mutable.ArrayBuffer.empty[Long]) += m.executorRunTime
        p.stageRecords(key) = p.stageRecords.getOrElse(key, 0L) +
          m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ns(name: String): Long =
        ph.get(name).map(s => (s.durationMs * 1000000L)).getOrElse(0L)
      update { p =>
        p.analysisNs += ns("analysis")
        p.optimizationNs += ns("optimization")
        p.planningNs += ns("planning")
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      update(_.progress += e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.streams.addListener(streamListener)
  if (full) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  /** Run `body` as one phase and return its result with what was seen. */
  def phase[T](body: => T): (T, PhaseStats) = {
    ListenerBusDrain(spark.sparkContext)
    val stats = new PhaseStats
    synchronized { current = stats }
    stats.startMs = System.currentTimeMillis()
    val out = body
    stats.endMs = System.currentTimeMillis()
    ListenerBusDrain(spark.sparkContext)
    synchronized { current = new PhaseStats }
    (out, stats)
  }
}

/** Layer numbers shared by every workload, per measured unit (a warm pass
  * or a warm drain, each made of one or more phases): sums within a unit,
  * means across units, except the two skew figures, which take the worst.
  */
object Layers {
  def executor(units: Seq[Seq[PhaseStats]]): Map[String, Double] = {
    val n = units.size.toDouble
    def per(f: PhaseStats => Double): Double = units.map(_.map(f).sum).sum / n
    Map(
      "plan.analysis_s" -> per(_.analysisNs / 1e9),
      "plan.optimization_s" -> per(_.optimizationNs / 1e9),
      "plan.planning_s" -> per(_.planningNs / 1e9),
      "sched.jobs" -> per(_.jobs.toDouble),
      "sched.stages" -> per(_.stages.toDouble),
      "sched.tasks" -> per(_.tasks.toDouble),
      "exec.task_run_s" -> per(_.taskRunMs / 1000.0),
      "exec.task_cpu_s" -> per(_.taskCpuNs / 1e9),
      "exec.gc_s" -> per(_.gcMs / 1000.0),
      "exec.shuffle_write_bytes" -> per(_.shuffleWriteBytes.toDouble),
      "exec.shuffle_read_bytes" -> per(_.shuffleReadBytes.toDouble),
      "exec.spill_bytes" -> per(_.spillBytes.toDouble),
      "exec.max_over_median_task" -> units.flatten.map(_.maxOverMedianTask).max,
      "exec.one_task_stage_records" -> units.flatten.map(_.oneTaskStageRecords.toDouble).max)
  }
}
