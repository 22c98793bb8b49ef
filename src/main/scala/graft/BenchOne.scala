package graft

import java.util.concurrent.{ConcurrentLinkedQueue, TimeoutException}
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Bridge
import graft.operators.Rounds

/** Dev tool: time registered queries from [[SparkEntry.queries]] in one
  * JVM, on Bench's session and timing boundary ([[Runner.run]]) —
  * `runMain graft.BenchOne <name|a,b,c|ALL> [sfDir] [reps]`.
  *
  *   - `<name>` or a comma-separated list: each named query runs `reps`
  *     times (default 3), one line per run so warmup vs steady state and
  *     run-to-run variance are visible. After the final rep of each query
  *     its per-stage table prints: wall, executor CPU, tasks, input,
  *     shuffle read/write and spill per completed stage, the stage page
  *     of a headless JVM (the UI is off), then the round census of its
  *     checkpointed loops ([[graft.operators.Rounds]]). A per-query `min=` line per
  *     name closes the run (the steady-state numbers SCALE.md commits).
  *   - `ALL`: every registered query once, per-run lines only — the
  *     10x-scale smoke pass that catches queries correct at oracle scale
  *     but pathological one scale up.
  *
  * Exits 1 if any run failed.
  */
object BenchOne {
  private case class Stage(
      id: Int, name: String, ms: Long, cpuMs: Long, tasks: Int,
      inputMB: Double, shufReadMB: Double, shufWriteMB: Double, spillMB: Double)

  /** Completed-stage metrics Spark already aggregates, and the round
    * census; the listeners only collect them, so the run is undisturbed.
    */
  private class StageTable(spark: SparkSession) extends SparkListener {
    private val stages = new ConcurrentLinkedQueue[Stage]()
    private val census = new Rounds.Census(spark)
    spark.sparkContext.addSparkListener(this)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val tm = si.taskMetrics
      stages.add(Stage(si.stageId, si.name.takeWhile(_ != '\n'),
        si.submissionTime.zip(si.completionTime).map { case (s, c) => c - s }.getOrElse(-1L),
        tm.executorCpuTime / 1000000L, si.numTasks,
        tm.inputMetrics.bytesRead / 1e6,
        tm.shuffleReadMetrics.totalBytesRead / 1e6,
        tm.shuffleWriteMetrics.bytesWritten / 1e6,
        (tm.memoryBytesSpilled + tm.diskBytesSpilled) / 1e6))
    }

    /** Listener events arrive asynchronously: drain the bus so a table
      * holds neither too few of its own stages nor earlier runs' ones. A
      * backed-up bus times out the drain; then say so and go on.
      */
    private def drain(): Unit =
      try Bridge.waitListenerBusEmpty(spark)
      catch { case e: TimeoutException =>
        System.err.println(s"[benchone] WARN listener bus did not drain ($e); the stage table may be incomplete")
      }

    def reset(): Unit = { drain(); stages.clear(); census.take() }

    def print(q: String): Unit = {
      drain()
      val all = stages.asScala.toSeq.sortBy(-_.ms)
      println(f"[benchone] $q: ${all.size} stages in final rep, " +
        f"wall-sum ${all.map(_.ms).sum / 1e3}%.3f s (overlap possible)")
      println(f"${"ms"}%7s ${"cpu_ms"}%7s ${"tasks"}%5s ${"in_MB"}%8s " +
        f"${"shR_MB"}%8s ${"shW_MB"}%8s ${"spill"}%6s  stage")
      all.take(40).foreach { s =>
        println(f"${s.ms}%7d ${s.cpuMs}%7d ${s.tasks}%5d ${s.inputMB}%8.1f " +
          f"${s.shufReadMB}%8.1f ${s.shufWriteMB}%8.1f ${s.spillMB}%6.1f  " +
          s"[${s.id}] ${s.name.take(90)}")
      }
      val rounds = census.take()
      if (rounds.nonEmpty) {
        println(s"[benchone] $q: ${rounds.size} round checkpoints in final rep")
        println(f"${"ms"}%7s ${"rows"}%9s ${"n_changed"}%9s  round")
        rounds.foreach { r =>
          println(f"${r.ms}%7.0f ${r.rows}%9d ${r.changed.fold("-")(_.toString)}%9s  ${r.name}")
        }
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    require(reps >= 1, s"reps must be >= 1, got $reps")
    val spark = Runner.session(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]", 32)
    var failures = 0
    val mins = collection.mutable.LinkedHashMap.empty[String, Double]
    def time(q: String, label: String): Unit =
      Runner.run(spark, q, sfDir) match {
        case Success(r) =>
          mins(q) = math.min(mins.getOrElse(q, Double.MaxValue), r.sec)
          println(f"[benchone] $q $label: ${r.sec}%.3f s (${r.rows} rows)")
        case Failure(e) =>
          failures += 1
          println(s"[benchone] $q $label: FAILED ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    if (name == "ALL")
      SparkEntry.queries.keys.toSeq.sorted.foreach(q => time(q, "sweep"))
    else {
      val names = name.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      names.foreach(q =>
        require(SparkEntry.queries.contains(q), s"unknown query: $q"))
      val table = new StageTable(spark)
      names.foreach { q =>
        (1 until reps).foreach(i => time(q, s"rep $i"))
        table.reset()
        time(q, s"rep $reps")
        table.print(q)
      }
      names.foreach(q =>
        mins.get(q).foreach(m => println(f"[benchone] $q min=$m%.3f s")))
    }
    spark.stop()
    if (failures > 0) {
      System.err.println(s"[benchone] $failures quer${if (failures == 1) "y" else "ies"} FAILED")
      sys.exit(1)
    }
  }
}
