package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer observation of one session through Spark's public listener
  * interfaces only: a `SparkListener` (jobs, stages, tasks), a
  * `QueryExecutionListener` (Catalyst phases from `QueryExecution.tracker`)
  * and a `StreamingQueryListener` (micro-batch phases and state metrics).
  *
  * Events are buffered raw with their wall-clock times (epoch ms) and
  * attributed to a query window by [[take]], so construction and action
  * are split by time, not by guessing which job belongs to whom.
  */
final class Trace(spark: SparkSession, cores: Int) {
  import Trace._

  private val tasks = new ConcurrentLinkedQueue[TaskEv]()
  private val stages = new ConcurrentLinkedQueue[StageEv]()
  private val jobs = new ConcurrentLinkedQueue[java.lang.Long]()
  private val qes = new ConcurrentLinkedQueue[QeEv]()
  private val batches = new ConcurrentLinkedQueue[BatchEv]()
  private val submitted = scala.collection.concurrent.TrieMap[(Int, Int), Long]()
  private val events = new AtomicLong()
  private val jobsOpen = new AtomicLong()
  private val stagesOpen = new AtomicLong()
  val drainTimeouts = new AtomicLong()
  /** Time spent inside this class's listener callbacks. */
  val callbackNs = new AtomicLong()

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    events.incrementAndGet()
    callbackNs.addAndGet(System.nanoTime() - t0)
  }

  private val exec = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      jobs.add(e.time); jobsOpen.incrementAndGet()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      jobsOpen.decrementAndGet()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
      val i = e.stageInfo
      submitted.put((i.stageId, i.attemptNumber()),
        i.submissionTime.getOrElse(System.currentTimeMillis(): Long))
      stagesOpen.incrementAndGet()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      val i = e.stageInfo
      val sub = submitted.get((i.stageId, i.attemptNumber()))
        .orElse(i.submissionTime).getOrElse(System.currentTimeMillis())
      stages.add(StageEv(sub, i.completionTime.getOrElse(System.currentTimeMillis())))
      stagesOpen.decrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val i = e.taskInfo
      val m = Option(e.taskMetrics)
      val sub = submitted.getOrElse((e.stageId, e.stageAttemptId), i.launchTime)
      tasks.add(TaskEv(
        launch = i.launchTime, schedWaitMs = math.max(0L, i.launchTime - sub),
        failed = i.failed,
        runMs = m.map(_.executorRunTime).getOrElse(0L),
        cpuNs = m.map(_.executorCpuTime).getOrElse(0L),
        gcMs = m.map(_.jvmGCTime).getOrElse(0L),
        inBytes = m.map(_.inputMetrics.bytesRead).getOrElse(0L),
        shReadBytes = m.map(x => x.shuffleReadMetrics.remoteBytesRead +
          x.shuffleReadMetrics.localBytesRead).getOrElse(0L),
        shWriteBytes = m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        spillBytes = m.map(_.diskBytesSpilled).getOrElse(0L)))
    }
  }

  private val catalyst = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = timed {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      qes.add(QeEv(ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val streaming = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
      batches.add(BatchEv.of(e.progress))
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(exec)
    spark.listenerManager.register(catalyst)
    spark.streams.addListener(streaming)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(exec)
    spark.listenerManager.unregister(catalyst)
    spark.streams.removeListener(streaming)
  }

  /** Wait, at most `capMs`, until every started job and stage has been
    * seen to end and no listener event arrived for `quietMs`. The bus is
    * asynchronous, so this is the point after which a query's events are
    * complete; a wait that hits the cap is counted, never extended. */
  def drain(capMs: Long = 2000L, quietMs: Long = 30L): Unit = {
    val deadline = System.currentTimeMillis() + capMs
    var last = events.get()
    var quietSince = System.currentTimeMillis()
    var done = false
    while (!done) {
      Thread.sleep(5)
      val now = System.currentTimeMillis()
      val n = events.get()
      if (n != last) { last = n; quietSince = now }
      if (jobsOpen.get() <= 0 && stagesOpen.get() <= 0 && now - quietSince >= quietMs) done = true
      else if (now >= deadline) { drainTimeouts.incrementAndGet(); done = true }
    }
  }

  private def pop[T](q: ConcurrentLinkedQueue[T]): Vector[T] = {
    val b = Vector.newBuilder[T]
    var x = q.poll()
    while (x != null) { b += x; x = q.poll() }
    b.result()
  }

  /** Drain, then attribute every buffered event to one query whose
    * construction ran over [q0, a0) and whose action ran over [a0, a1]. */
  def take(q0: Long, a0: Long, a1: Long): Layers = {
    drain()
    val ts = pop(tasks); val ss = pop(stages); val js = pop(jobs)
    val qs = pop(qes); val bs = pop(batches)
    val actTasks = ts.filter(_.launch >= a0)
    val actionMs = math.max(1L, a1 - a0)
    // union of stage-running intervals clipped to the action window
    val busy = ss.map(s => (math.max(s.submitted, a0), math.min(s.completed, a1)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft((0L, a0)) { case ((acc, end), (a, b)) =>
        if (b <= end) (acc, end) else (acc + b - math.max(a, end), b)
      }._1
    Layers(
      constructJobs = js.count(_ < a0),
      jobs = js.length, stages = ss.length, tasks = ts.length,
      tasksFailed = ts.count(_.failed),
      taskRunS = ts.map(_.runMs).sum / 1e3, actionTaskRunS = actTasks.map(_.runMs).sum / 1e3,
      taskCpuS = ts.map(_.cpuNs).sum / 1e9, taskGcS = ts.map(_.gcMs).sum / 1e3,
      schedWaitS = ts.map(_.schedWaitMs).sum / 1e3,
      driverGapS = (actionMs - busy) / 1e3,
      slotUtil = actTasks.map(_.runMs).sum.toDouble / (actionMs * cores),
      inputMb = ts.map(_.inBytes).sum / MB, shuffleReadMb = ts.map(_.shReadBytes).sum / MB,
      shuffleWriteMb = ts.map(_.shWriteBytes).sum / MB, spillMb = ts.map(_.spillBytes).sum / MB,
      catalystQueries = qs.length,
      analysisS = qs.map(_.analysisMs).sum / 1e3,
      optimizationS = qs.map(_.optimizationMs).sum / 1e3,
      planningS = qs.map(_.planningMs).sum / 1e3,
      batches = bs)
  }

  /** Jobs launched since the last [[take]] or [[jobsSince]] (for probes). */
  def jobsSince(): Int = { drain(); val n = pop(jobs).length; pop(tasks); pop(stages); pop(qes); n }
}

object Trace {
  private val MB = 1024.0 * 1024.0

  final case class TaskEv(launch: Long, schedWaitMs: Long, failed: Boolean, runMs: Long,
                          cpuNs: Long, gcMs: Long, inBytes: Long, shReadBytes: Long,
                          shWriteBytes: Long, spillBytes: Long)
  final case class StageEv(submitted: Long, completed: Long)
  final case class QeEv(analysisMs: Long, optimizationMs: Long, planningMs: Long)

  /** One micro-batch as `StreamingQueryProgress` reports it. */
  final case class BatchEv(query: String, batchId: Long, startMs: Long, rows: Long,
                           durations: Map[String, Long], stateRows: Long,
                           stateMemBytes: Long, stateCommitMs: Long) {
    def toMap: Map[String, Any] = Map(
      "query" -> query, "batch_id" -> batchId, "start_ms" -> startMs, "rows" -> rows,
      "durations_ms" -> durations, "state_rows" -> stateRows,
      "state_mem_bytes" -> stateMemBytes, "state_commit_ms" -> stateCommitMs)
  }
  object BatchEv {
    def of(p: org.apache.spark.sql.streaming.StreamingQueryProgress): BatchEv = {
      val ops = p.stateOperators.toSeq
      BatchEv(Option(p.name).getOrElse(""), p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.commitTimeMs).sum)
    }
  }

  final case class Layers(constructJobs: Int, jobs: Int, stages: Int, tasks: Int,
                          tasksFailed: Int, taskRunS: Double, actionTaskRunS: Double,
                          taskCpuS: Double, taskGcS: Double, schedWaitS: Double,
                          driverGapS: Double, slotUtil: Double, inputMb: Double,
                          shuffleReadMb: Double, shuffleWriteMb: Double, spillMb: Double,
                          catalystQueries: Int, analysisS: Double, optimizationS: Double,
                          planningS: Double, batches: Vector[BatchEv]) {
    def toMap: Map[String, Any] = Map(
      "construct_jobs" -> constructJobs, "jobs" -> jobs, "stages" -> stages,
      "tasks" -> tasks, "tasks_failed" -> tasksFailed, "task_run_s" -> taskRunS,
      "action_task_run_s" -> actionTaskRunS, "task_cpu_s" -> taskCpuS,
      "task_gc_s" -> taskGcS, "sched_wait_s" -> schedWaitS, "driver_gap_s" -> driverGapS,
      "slot_util" -> slotUtil, "input_mb" -> inputMb, "shuffle_read_mb" -> shuffleReadMb,
      "shuffle_write_mb" -> shuffleWriteMb, "spill_mb" -> spillMb,
      "catalyst_queries" -> catalystQueries, "analysis_s" -> analysisS,
      "optimization_s" -> optimizationS, "planning_s" -> planningS,
      "batches" -> batches.map(_.toMap))
  }
}
