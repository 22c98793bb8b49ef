package graft

import scala.util.Try
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Bridge
import graft.sources.SessionDefaults

/** The lifecycle every harness main shares — the reference driver's
  * start pool → run → tear down (`src/main.cpp:3-66`) — in one place:
  * the session, the timed query boundary and the cache release. Bench,
  * BenchOne, Verify, IndexJob, the tools and the test base all build
  * their session here and release through [[release]], so a knob or a
  * fix cannot miss one of them.
  */
object Runner {

  /** One completed query run: wall seconds and result rows. */
  final case class Run(sec: Double, rows: Long)

  /** A session with the [[SessionDefaults]] knobs, `partitions` shuffle
    * partitions and AQE on. Logging is ERROR: [[release]] emits a
    * localCheckpoint-lineage WARN per freed block, and hundreds of those
    * around a harness's single JSON result line have broken line-wise
    * parses of its stdout.
    */
  def session(master: String, partitions: Int): SparkSession = {
    val spark = SessionDefaults.harness(SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The single release point of the cache lifecycle (see
    * [[SparkEntry.queries]]): drops every cached plan and every persisted
    * RDD, `localCheckpoint` blocks included, which `clearCache` cannot
    * reach. Call it only once a query's results are fully materialized:
    * checkpoint blocks cannot be recomputed once dropped.
    */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    Bridge.freeAllPersistedRdds(spark)
  }

  /** Run `body`, then [[release]], whether `body` returned or threw. */
  def released[T](spark: SparkSession)(body: => T): T =
    try body finally release(spark)

  /** Time one registered query and release after it. The timed span is
    * the query's construction (eager checkpoint jobs included) plus
    * `queryExecution.toRdd.count()`: the query's own compiled physical
    * plan, fully materialized. `Dataset.count()` would let Catalyst prune
    * every column and even eliminate row-preserving outer joins, so a
    * per-document operator such as q344 or q101 would time as a bare
    * parquet scan (measured: q344 0.36 s pruned vs ~3 s materialized at
    * sf0.1). A `NonFatal` failure comes back as `Failure`; anything
    * fatal (an OOM) propagates, since later timings from a damaged JVM
    * would mean nothing.
    */
  def run(spark: SparkSession, name: String, sfDir: String): Try[Run] =
    released(spark)(Try {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).queryExecution.toRdd.count()
      Run((System.nanoTime() - t0) / 1e9, n)
    })
}
