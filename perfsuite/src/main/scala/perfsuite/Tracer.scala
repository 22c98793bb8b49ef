package perfsuite

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Benchmark-owned tracing, all from outside the engine: a SparkListener
  * for jobs and tasks, a QueryExecutionListener for planning phases of
  * action-driven plans, and named spans the workloads record around their
  * calls into the engine. Times are epoch milliseconds, the clock Spark's
  * events use. The listeners are attached for traced passes only.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  val jobs = mutable.ArrayBuffer.empty[Job]
  val tasks = mutable.ArrayBuffer.empty[Task]
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Planning phase seconds of plans executed through Dataset actions. */
  val phases = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val layer = Option(e.properties).flatMap(p => Option(p.getProperty(LayerKey))).getOrElse("")
      jobs += Job(e.jobId, e.time, Long.MaxValue, e.stageIds.toSet, layer)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      val i = jobs.indexWhere(_.id == e.jobId)
      if (i >= 0) jobs(i) = jobs(i).copy(end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) tasks += Task(
        stage = e.stageId,
        durationMs = info.duration,
        runMs = m.executorRunTime,
        cpuNs = m.executorCpuTime,
        overheadMs = m.executorDeserializeTime + m.resultSerializationTime +
          (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L),
        gcMs = m.jvmGCTime,
        shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        shuffleWriteRecords = m.shuffleWriteMetrics.recordsWritten,
        spillBytes = m.diskBytesSpilled,
        inputBytes = m.inputMetrics.bytesRead,
        outputBytes = m.outputMetrics.bytesWritten)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      addPhases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      addPhases(qe)
  }

  def addPhases(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (k, v) => phases(k) += v.durationMs / 1e3 }
  }

  /** Forget earlier records and attach the listeners. */
  def start(): Unit = {
    drain()
    synchronized { jobs.clear(); tasks.clear(); spans.clear(); phases.clear() }
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Deliver every queued event, then detach the listeners. */
  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Deliver every queued event so the buffers hold the whole pass. */
  def drain(): Unit = org.apache.spark.sql.graft.Bridge.waitListenerBusEmpty(spark)

  /** Run `body` with its jobs tagged `layer`, recording a span. */
  def span[T](layer: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(LayerKey)
    sc.setLocalProperty(LayerKey, layer)
    val t0 = nowMs()
    try body
    finally {
      val t1 = nowMs()
      synchronized { spans += Span(layer, t0, t1) }
      sc.setLocalProperty(LayerKey, prev)
    }
  }

  def spanOf(layer: String): Seq[Span] = synchronized(spans.filter(_.name == layer).toSeq)
  def jobsOf(layer: String): Seq[Job] = synchronized(jobs.filter(_.layer == layer).toSeq)
  def tasksOf(js: Seq[Job]): Seq[Task] = {
    val stages = js.flatMap(_.stages).toSet
    synchronized(tasks.filter(t => stages(t.stage)).toSeq)
  }
}

object Tracer {
  val LayerKey = "perfsuite.layer"

  final case class Job(id: Int, start: Long, end: Long, stages: Set[Int], layer: String) {
    def wallS: Double = (end - start) / 1e3
  }
  final case class Task(stage: Int, durationMs: Long, runMs: Long, cpuNs: Long, overheadMs: Long,
                        gcMs: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
                        shuffleWriteRecords: Long, spillBytes: Long, inputBytes: Long,
                        outputBytes: Long)
  final case class Span(name: String, startMs: Double, endMs: Double) {
    def s: Double = (endMs - startMs) / 1e3
  }

  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution. */
  def nowMs(): Double = (System.nanoTime() + epochOffsetNs) / 1e6

  /** Seconds covered by the union of the jobs' [start, end] intervals. */
  def unionS(js: Seq[Job]): Double = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    js.map(j => (j.start, j.end)).sorted.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }

  /** max / median task run time of the stage with the most task time. */
  def skew(ts: Seq[Task]): Double = {
    val byStage = ts.groupBy(_.stage).filter(_._2.size >= 2)
    if (byStage.isEmpty) 1.0
    else {
      val runs = byStage.values.maxBy(_.map(_.runMs).sum).map(_.runMs.toDouble).sorted
      runs.last / math.max(1.0, runs(runs.size / 2))
    }
  }

  /** Executor-side rollup of a set of jobs within a wall interval. */
  def exec(js: Seq[Job], ts: Seq[Task], wallS: Double, slots: Int): Map[String, Double] = {
    val jobWall = unionS(js)
    val run = ts.map(_.runMs).sum / 1e3
    Map(
      "exec.jobs" -> js.size.toDouble,
      "exec.stages" -> ts.map(_.stage).distinct.size.toDouble,
      "exec.tasks" -> ts.size.toDouble,
      "exec.job_wall_s" -> jobWall,
      "driver.gap_s" -> math.max(0.0, wallS - jobWall),
      "exec.slot_busy_ratio" -> (if (jobWall > 0) run / (jobWall * slots) else 0.0),
      "exec.task_run_s" -> run,
      "exec.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "exec.sched_delay_s" -> ts.map(t => math.max(0L, t.durationMs - t.runMs - t.overheadMs)).sum / 1e3,
      "exec.gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "exec.shuffle_read_mb" -> ts.map(_.shuffleReadBytes).sum / MB,
      "exec.shuffle_write_mb" -> ts.map(_.shuffleWriteBytes).sum / MB,
      "exec.spill_mb" -> ts.map(_.spillBytes).sum / MB,
      "exec.task_skew" -> skew(ts))
  }

  val MB = 1024.0 * 1024.0
}
