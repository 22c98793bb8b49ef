package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Dev utility (optimization-round measurement loop): run one registered
  * query end-to-end (`runMain graft.tools.ProfileOne <name> [sfDir]
  * [reps]`) with a stage listener attached and print, per completed
  * stage, its wall time, task count, shuffle read/write bytes, spill and
  * peak-vs-median task skew — the §7.1 "which stage is the time going
  * to" loop for a headless JVM (the harness runs with spark.ui.enabled
  * off, so this listener IS the stage page). Timing methodology matches
  * Bench exactly (toRdd.count(), cache sweep per rep); the listener
  * only aggregates completed-stage metrics Spark already tracks, so the
  * measured run is undisturbed. The stage table prints AFTER the timed
  * reps, from the LAST rep only (earlier reps' stages are discarded) —
  * steady-state shape, not warmup noise.
  */
object ProfileOne {
  private case class St(
      id: Int, name: String, ms: Long, tasks: Int,
      shufReadMB: Double, shufWriteMB: Double, inputMB: Double,
      spillMB: Double, maxTaskMs: Long, cpuMs: Long)

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = graft.sources.SessionDefaults.harness(SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      // experiment knob (dev tool only): AQE coalesce floor
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("GRAFT_MIN_PART_SIZE", "1m"))
      ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[St]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val tm = si.taskMetrics
        val ms = (for {
          s <- si.submissionTime; c <- si.completionTime
        } yield c - s).getOrElse(-1L)
        stages.add(St(
          si.stageId,
          si.name.takeWhile(_ != '\n'),
          ms,
          si.numTasks,
          tm.shuffleReadMetrics.totalBytesRead / 1e6,
          tm.shuffleWriteMetrics.bytesWritten / 1e6,
          tm.inputMetrics.bytesRead / 1e6,
          (tm.memoryBytesSpilled + tm.diskBytesSpilled) / 1e6,
          -1L,
          tm.executorCpuTime / 1000000L))
      }
    })
    // a backed-up bus times out the drain: print what arrived, say so
    def drain(): Unit =
      try org.apache.spark.sql.graft.Bridge.waitListenerBusEmpty(spark)
      catch { case e: java.util.concurrent.TimeoutException =>
        System.err.println(s"[profile] WARN listener bus did not drain ($e); the stage table may be incomplete")
      }
    val fn = graft.SparkEntry.queries(name)
    (1 to reps).foreach { i =>
      if (i == reps) {
        // drain late-arriving completions from the previous rep before
        // clearing, so the final-rep table is neither missing its own
        // stages nor polluted by foreign ones (listener events are
        // delivered asynchronously; ADVICE r16)
        drain()
        stages.clear() // keep only the final rep's stages
      }
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).queryExecution.toRdd.count()
      println(f"[profile] $name rep $i: ${(System.nanoTime() - t0) / 1e9}%.3f s ($n rows)")
      spark.catalog.clearCache()
      org.apache.spark.sql.graft.Bridge.freeAllPersistedRdds(spark)
    }
    // final drain before printing (same asynchrony)
    drain()
    import scala.jdk.CollectionConverters._
    val all = stages.asScala.toSeq.sortBy(-_.ms)
    println(f"[profile] ${all.size} stages in final rep, " +
      f"wall-sum ${all.map(_.ms).sum / 1e3}%.3f s (overlap possible)")
    println(f"${"ms"}%7s ${"cpu_ms"}%7s ${"tasks"}%5s ${"in_MB"}%8s " +
      f"${"shR_MB"}%8s ${"shW_MB"}%8s ${"spill"}%6s  stage")
    all.take(40).foreach { s =>
      println(f"${s.ms}%7d ${s.cpuMs}%7d ${s.tasks}%5d ${s.inputMB}%8.1f " +
        f"${s.shufReadMB}%8.1f ${s.shufWriteMB}%8.1f ${s.spillMB}%6.1f  " +
        s"[${s.id}] ${s.name.take(90)}")
    }
    spark.stop()
  }
}
