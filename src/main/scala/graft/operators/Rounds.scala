package graft.operators

import java.util.concurrent.{ConcurrentLinkedQueue, TimeoutException}
import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration.Duration
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.util.QueryExecutionListener

/** The one driver of checkpointed iterative loops. [[Rounds.apply]] opens
  * a loop's scope; [[each]] or [[fixpoint]] drives its rounds. It owns:
  *
  *   - '''The checkpoint.''' Each state is an eager `localCheckpoint`,
  *     not a `persist`: a persisted state keeps its lineage, so round r's
  *     plan re-embeds every earlier round's (k-truss reads its
  *     predecessor four times: ~4^r copies of the edge build) until
  *     analysis or codegen exhausts the driver heap. Seen on a 300-node
  *     CC chain, at 50 BPE merges on sf1, and as ~10 s of pure planning
  *     on the MMR pool at sf0.1. On a cluster with unreliable executors,
  *     a reliable `checkpoint` directory gives the same cut.
  *   - '''Freeing.''' Checkpoint blocks live outside the CacheManager
  *     (`clearCache` never frees them). [[next]] frees a superseded
  *     state once its successor is materialized, and the scope frees
  *     what is left when the loop returns, or everything when it throws.
  *     A state the returned plan reads is marked with [[keep]]; its
  *     blocks pass to the caller, and [[graft.Runner.release]] frees
  *     them after the query. Freeing goes by reference and [[keep]]
  *     wins: once k-truss is at its fixpoint its later rounds alias one
  *     checkpoint, and checkpoint blocks cannot be recomputed.
  *   - '''The stop test.''' Each checkpoint carries an `Observation`
  *     that rides its own job: `rows`, and `n_changed` when the loop
  *     passes a `changed` aggregate. [[changed]] waits for it with a
  *     deadline and falls back to an exact aggregate over the blocks, so
  *     a metrics-delivery fault costs one job, never a hang. A stage
  *     retry can over-count: a spurious nonzero only costs one more
  *     idempotent round, and [[sameRows]] confirms an equality exactly.
  *   - '''The bound.''' [[fixpoint]] throws, naming the loop and the
  *     bound, when the last allowed round still changed something.
  *   - '''The census.''' Observations are named
  *     `round:<loop>:<round>[:<tag>]`; [[Rounds.Census]] collects them
  *     with each checkpoint job's wall time.
  */
private[graft] final class Rounds private (loop: String, bound: Int) {
  private final class Owned(val df: DataFrame, val obs: Observation, val changed: Column) {
    var kept = false
  }
  private val owned = mutable.ArrayBuffer.empty[Owned]
  private var round = 0

  /** Materialize `plan` as a state of the current round (0 before the
    * rounds start); `tag` tells apart several states of one round.
    */
  def checkpoint(plan: DataFrame, tag: String = "", changed: Column = null): DataFrame = {
    val obs = Observation(Rounds.Prefix + Seq(loop, round.toString, tag).filter(_.nonEmpty).mkString(":"))
    val df = plan.observe(obs, count(lit(1)).as("rows"),
      Option(changed).map(_.as("n_changed")).toSeq: _*).localCheckpoint()
    owned += new Owned(df, obs, changed)
    df
  }

  /** [[checkpoint]] `plan` as the successor of `prev`, then free `prev`. */
  def next(prev: DataFrame, plan: DataFrame, tag: String = "", changed: Column = null): DataFrame = {
    val df = checkpoint(plan, tag, changed)
    free(prev)
    df
  }

  /** A frame several plans read: cached lazily, freed like a state. */
  def persisted(plan: DataFrame): DataFrame = {
    val df = plan.persist()
    owned += new Owned(df, null, null)
    df
  }

  /** Mark a state that the loop's returned plan reads: never freed. */
  def keep(df: DataFrame): DataFrame = { entry(df).kept = true; df }

  /** Free superseded states; kept states and other frames are skipped. */
  def free(dfs: DataFrame*): Unit = dfs.foreach { df =>
    val i = owned.indexWhere(o => (o.df eq df) && !o.kept)
    if (i >= 0) release(owned.remove(i))
  }

  /** The observed `n_changed` of a state. */
  def changed(df: DataFrame): Long =
    observed(df, "n_changed")(df.agg(entry(df).changed).head().getLong(0))

  /** Whether `next` has as many rows as `prev`: observed, then confirmed
    * by exact counts, since a spurious equality would end a loop early.
    */
  def sameRows(prev: DataFrame, next: DataFrame): Boolean =
    observed(next, "rows")(next.count()) == observed(prev, "rows")(prev.count()) &&
      next.count() == prev.count()

  /** Run `step` for rounds 1 to the bound. */
  def each(step: Int => Unit): Unit =
    while (round < bound) { round += 1; step(round) }

  /** Run `step` for rounds 1, 2, … until it reports no change. */
  def fixpoint(step: Int => Boolean): Unit = {
    require(bound >= 1, s"$loop needs a bound of at least one round")
    round += 1
    while (step(round)) {
      if (round >= bound) throw new IllegalStateException(
        s"$loop did not reach a fixed point within $bound rounds")
      round += 1
    }
  }

  private def entry(df: DataFrame): Owned = owned.find(_.df eq df).getOrElse(
    throw new IllegalArgumentException(s"$loop: not a state of this loop"))

  private def observed(df: DataFrame, metric: String)(exact: => Long): Long =
    try Await.result(entry(df).obs.future, Duration(Rounds.WaitMs, "ms")).getAs[Long](metric)
    catch { case _: TimeoutException => exact }

  private def release(o: Owned): Unit = o.df.queryExecution.logical match {
    case checkpointed: LogicalRDD => checkpointed.rdd.unpersist(blocking = false)
    case _ => o.df.unpersist()
  }
}

private[graft] object Rounds {
  private val Prefix = "round:"
  private val WaitMs = 30000L

  /** Run one loop in its own scope: on return, free every state not
    * marked [[Rounds.keep]]; on a throw, every state.
    */
  def apply[T](loop: String, bound: Int)(body: Rounds => T): T = {
    val rs = new Rounds(loop, bound)
    var returned = false
    try { val out = body(rs); returned = true; out }
    finally rs.owned.filterNot(o => returned && o.kept).foreach(rs.release)
  }

  /** One checkpoint job: `loop:round[:tag]`, rows, `n_changed` and wall ms. */
  final case class Entry(name: String, rows: Long, changed: Option[Long], ms: Double)

  /** Collects an [[Entry]] for every checkpoint job the session runs. */
  final class Census(spark: SparkSession) extends QueryExecutionListener {
    private val entries = new ConcurrentLinkedQueue[Entry]()
    spark.listenerManager.register(this)

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      for ((name, row) <- qe.observedMetrics if name.startsWith(Prefix))
        entries.add(Entry(name.stripPrefix(Prefix), row.getAs[Long]("rows"),
          Some("n_changed").filter(row.schema.fieldNames.contains).map(row.getAs[Long]),
          durationNs / 1e6))

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

    /** The entries since the last call, in completion order. Events
      * arrive asynchronously: drain the listener bus first.
      */
    def take(): Seq[Entry] = Iterator.continually(entries.poll()).takeWhile(_ != null).toSeq
  }
}
