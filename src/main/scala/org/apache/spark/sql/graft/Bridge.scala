package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Expression bridge. Spark 4 made these conversions
  * `private[sql]`; extensions conventionally expose them from a package
  * under `org.apache.spark.sql`.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Drain the SparkListener event bus (delivery is asynchronous) so a
    * listener-aggregating tool reads a complete view — dev tooling
    * support (BenchOne's stage table); `listenerBus` is
    * `private[spark]`, hence exposed from this bridge package.
    */
  def waitListenerBusEmpty(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Free EVERY persisted RDD in the session — `persist()`ed plans and
    * `localCheckpoint` blocks alike (the latter live outside the
    * CacheManager, so `clearCache()` alone leaks them). In the engine
    * its one caller is [[graft.Runner.release]], the single release
    * point of the harness cache lifecycle. Call it AFTER a query's
    * results are fully materialized, never mid-plan — local-checkpoint
    * blocks cannot be recomputed once dropped.
    *
    * SCOPE: this unpersists every persisted RDD in the SparkContext,
    * including ones persisted by code outside the caller's ownership. It
    * must only run on sessions whose caches are WHOLLY runner-owned (the
    * dedicated Verify/Bench JVMs); never call it on a shared session
    * (notebook, concurrently-running suite) — it is runner-infrastructure,
    * not a library API.
    */
  def freeAllPersistedRdds(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))

  /** Storage location of a catalog table. `private[sql]` session state
    * is the only road to an EXTERNAL table's path (the catalog API
    * exposes none), and graft's materialized graph tables are external —
    * DROP TABLE alone would strand their files in the warehouse, which
    * is exactly what the superseded-table GC needs to clean up.
    */
  def tableLocation(spark: SparkSession, table: String): java.net.URI =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table)).location

  /** The session's Hadoop configuration, SQL-conf overrides included, as
    * Spark's own file sources see it (`SessionState` is `private[sql]`).
    */
  def hadoopConf(spark: SparkSession): Configuration =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.newHadoopConf()

  /** Count one record of `bytes` input bytes toward the running task's
    * input metrics, so a source that reads files itself shows up in
    * listeners as Spark's file scans do (`incBytesRead` is `private[spark]`).
    */
  def addInputRead(bytes: Long): Unit = {
    val m = TaskContext.get().taskMetrics().inputMetrics
    m.incBytesRead(bytes)
    m.incRecordsRead(1)
  }

  /** Count `bytes` output bytes in `records` rows toward the running task's
    * output metrics, so a sink that writes files itself shows up in
    * listeners as Spark's file writers do (the setters are `private[spark]`).
    */
  def addOutputWritten(bytes: Long, records: Long): Unit = {
    val m = TaskContext.get().taskMetrics().outputMetrics
    m.setBytesWritten(m.bytesWritten + bytes)
    m.setRecordsWritten(m.recordsWritten + records)
  }
}
