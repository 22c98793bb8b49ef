package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries._
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ReferenceQueries.q1InvertedIndex(spark, "/root/testdata/sf0.001")
  /** One entry per implemented operator from SURVEY.md §2.
    *
    * CACHE LIFECYCLE CONTRACT (registry-wide, ADVICE r14): query
    * builders may `persist()` intermediates they reference more than
    * once (q93/q96/q365's shingle tables, the Quantiles range bases,
    * q362's packed stage) and must NOT unpersist them — the DataFrame
    * is returned lazily, so an unpersist before the caller's action
    * would defeat the cache. The RUNNER owns release, at one point:
    * [[Runner.release]] (`clearCache` plus
    * `Bridge.freeAllPersistedRdds`, which reaches the localCheckpoint
    * blocks clearCache cannot), run after each query's terminal action
    * by [[Runner.run]] and [[Runner.released]]. Every harness main and
    * spec releases through it; a new runner must too, or executor
    * storage pins grow with every query run.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    ReferenceQueries.queries ++ RelationalQueries.queries ++
      TextQueries.queries ++ DedupQueries.queries ++
      SimilarityQueries.queries ++ MultimodalQueries.queries ++
      SearchQueries.queries ++ IndexParityQueries.queries ++
      HygieneQueries.queries ++ StreamParityQueries.queries
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    ReferenceQueries.oracleSql ++ RelationalQueries.oracleSql ++
      TextQueries.oracleSql ++ DedupQueries.oracleSql ++
      SimilarityQueries.oracleSql ++ MultimodalQueries.oracleSql ++
      SearchQueries.oracleSql ++ IndexParityQueries.oracleSql ++
      HygieneQueries.oracleSql ++ StreamParityQueries.oracleSql
}
