package perfsuite

import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Path}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Bridge
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One timed pass: wall seconds, work attempted and failed, and (traced
  * passes only) the per-layer figures of that pass. */
final case class Pass(wallS: Double, attempted: Int, failed: Int,
                      counts: Map[String, Long] = Map.empty,
                      layers: Map[String, Double] = Map.empty)

trait Workload {
  /** Input size one pass reads, in MB. */
  def inputMb: Double
  /** Queries (or index builds) one pass runs. */
  def queriesPerPass: Int
  /** One pass; `tracer` is set on traced passes only. With `save`, each
    * result is written out for an outside check instead of counted. */
  def pass(spark: SparkSession, n: Int, tracer: Option[Tracer], save: Boolean = false): Pass
  /** One untimed warm-up pass; by default a plain pass. */
  def warmPass(spark: SparkSession, n: Int): Pass = pass(spark, n, None)
  /** Result name -> directory of results saved by a `save` pass. */
  def saved: Map[String, String] = Map.empty
  /** Reference SQL per saved result, for an outside oracle. */
  def oracleSql: Map[String, String] = Map.empty
  /** Shape figures of the generated input, reported beside the results. */
  def inputStats: Map[String, Double] = Map.empty
}

/** `IndexJob.run` over a seeded synthetic corpus; every pass's 26 letter
  * files are compared byte for byte with [[IndexOracle]]. Warm passes index
  * the first quarter of the files: the same code on a quarter of the input,
  * at about 60% of a full pass's time. */
final class IndexBuild(corpus: CorpusGen.Corpus, work: Path, slots: Int) extends Workload {
  private val expected = IndexOracle.build(corpus.manifest, corpus.baseDir)
  private val manifest = corpus.manifest.toString
  private val base = corpus.baseDir.toString
  private val warmManifest = {
    val lines = Files.readAllLines(corpus.manifest).asScala.toSeq
    val k = math.max(1, lines.head.trim.toInt / 4)
    Files.write(work.resolve("warm-manifest.txt"),
      (k.toString +: lines.slice(1, 1 + k)).mkString("", "\n", "\n").getBytes(US_ASCII))
  }
  private val warmExpected = IndexOracle.build(warmManifest, corpus.baseDir)

  def inputMb: Double = corpus.bytes / Tracer.MB
  def queriesPerPass: Int = 1

  /** File count, file sizes and the document-frequency spread of the
    * expected index, to set beside the reference corpus (FIXTURES.md §A:
    * 355 files, 6.4 MiB, 33,262 index rows). */
  override def inputStats: Map[String, Double] = {
    val dfs = expected.values.toSeq.flatMap(b => new String(b, US_ASCII).linesIterator
      .map(row => row.count(_ == ' ') + 1)).sorted
    val kb = Files.list(corpus.baseDir).toArray.map(p => Files.size(p.asInstanceOf[Path]) / 1024.0).sorted
    def mid[T](xs: Seq[T]) = xs(xs.size / 2)
    Map("files" -> kb.length.toDouble, "mb" -> inputMb,
      "file_kb_min" -> kb.head, "file_kb_median" -> mid(kb.toSeq), "file_kb_max" -> kb.last,
      "distinct_words" -> dfs.size.toDouble, "df1_share" -> dfs.count(_ == 1).toDouble / dfs.size,
      "df_median" -> mid(dfs).toDouble, "df_max" -> dfs.last.toDouble)
  }

  def pass(spark: SparkSession, n: Int, tracer: Option[Tracer], save: Boolean): Pass =
    build(spark, n, tracer, manifest, expected)

  override def warmPass(spark: SparkSession, n: Int): Pass =
    build(spark, n, None, warmManifest.toString, warmExpected)

  private def build(spark: SparkSession, n: Int, tracer: Option[Tracer], manifest: String,
                    expected: Map[Char, Array[Byte]]): Pass = {
    val out = work.resolve(s"index-out-$n")
    val (wall, layers) = tracer match {
      case None =>
        val t0 = System.nanoTime()
        graft.IndexJob.run(spark, manifest, base, out.toString)
        ((System.nanoTime() - t0) / 1e9, Map.empty[String, Double])
      case Some(tr) => traced(spark, tr, out)
    }
    val bad = IndexOracle.mismatches(expected, out)
    if (bad.nonEmpty) System.err.println(s"index_build pass $n: letters differ from oracle: ${bad.mkString}")
    deleteTree(out)
    Pass(wall, 1, if (bad.isEmpty) 0 else 1, layers = layers)
  }

  /** The same composition as `IndexJob.run`, one span per public call;
    * then two probe jobs, outside the pass wall, split the fused
    * scan+tokenize+partial-aggregate stage between its three layers. */
  private def traced(spark: SparkSession, tr: Tracer, out: Path): (Double, Map[String, Double]) = {
    import graft.operators.{IndexWriter, InvertedIndex, Tokenizer}
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val p0 = Tracer.nowMs()
    val docs = tr.span("sources")(graft.sources.Corpus.read(spark, manifest, base))
    val toks = tr.span("tokenizer")(Tokenizer.tokens(docs, "line", Seq("doc_id")))
    val idx = tr.span("inverted_index")(InvertedIndex.buildFromTokens(toks))
    tr.span("index_writer")(IndexWriter.write(idx, out.toString))
    val p1 = Tracer.nowMs()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    tr.drain()
    val wallS = (p1 - p0) / 1e3
    val sourceJobs = tr.jobsOf("sources")
    val writeJobs = tr.jobsOf("index_writer").sortBy(_.start)
    val passJobs = sourceJobs ++ writeJobs
    val passTasks = tr.tasksOf(passJobs)
    // AQE runs each shuffle-map stage as its own job: the job whose tasks
    // read input is scan+tokenize+partial aggregate, the jobs after it and
    // before the last are the word aggregation, the last is the letter sink
    val scanJob = writeJobs.find(j => tr.tasksOf(Seq(j)).exists(_.inputBytes > 0))
    val sinkJob = writeJobs.lastOption.toSeq
    val aggJobs = writeJobs.filter(j => !scanJob.contains(j) && !sinkJob.contains(j))
    val scanTasks = tr.tasksOf(scanJob.toSeq)
    val aggTasks = tr.tasksOf(aggJobs)
    val sinkTasks = tr.tasksOf(sinkJob)
    val writeSpan = tr.spanOf("index_writer").head
    val finalizeS = sinkJob.headOption.map(j => math.max(0.0, (writeSpan.endMs - j.end) / 1e3)).getOrElse(0.0)

    val scanProbe = probe(spark, tr, "probe.scan")(docs.queryExecution.toRdd.count())
    val tokProbe = probe(spark, tr, "probe.tokenize")(toks.queryExecution.toRdd.count())
    val scanJobS = scanJob.map(_.wallS).getOrElse(0.0)
    val tokenizerSelf = tr.spanOf("tokenizer").head.s + math.max(0.0, tokProbe._1 - scanProbe._1)
    val indexSelf = tr.spanOf("inverted_index").head.s + math.max(0.0, scanJobS - tokProbe._1) +
      Tracer.unionS(aggJobs)
    val writerSelf = Tracer.unionS(sinkJob) + finalizeS
    val sourcesManifest = tr.spanOf("sources").head.s
    val phases = tr.phases
    val covered = sourcesManifest + math.min(scanProbe._1, scanJobS) + tokenizerSelf + indexSelf + writerSelf
    wallS -> (Tracer.exec(passJobs, passTasks, wallS, slots) ++ Map(
      "sources.manifest_s" -> sourcesManifest,
      "sources.listing_jobs" -> sourceJobs.size.toDouble,
      "sources.scan_s" -> scanProbe._1,
      "sources.input_mb" -> scanTasks.map(_.inputBytes).sum / Tracer.MB,
      "tokenizer.self_s" -> tokenizerSelf,
      "tokenizer.tokens" -> tokProbe._2.toDouble,
      "inverted_index.self_s" -> indexSelf,
      "inverted_index.shuffle_write_mb" -> scanTasks.map(_.shuffleWriteBytes).sum / Tracer.MB,
      "inverted_index.combine_ratio" -> scanTasks.map(_.shuffleWriteRecords).sum.toDouble / math.max(1L, tokProbe._2),
      "inverted_index.spill_mb" -> (scanTasks ++ aggTasks).map(_.spillBytes).sum / Tracer.MB,
      "inverted_index.task_skew" -> Tracer.skew(aggTasks),
      "index_writer.self_s" -> writerSelf,
      "index_writer.job_s" -> Tracer.unionS(sinkJob),
      "index_writer.finalize_s" -> finalizeS,
      "index_writer.output_mb" -> sinkTasks.map(_.outputBytes).sum / Tracer.MB,
      "index_writer.sink_skew" -> Tracer.skew(sinkTasks.filter(_.outputBytes > 0)),
      "plan.analysis_s" -> phases("analysis"),
      "plan.optimization_s" -> phases("optimization"),
      "plan.planning_s" -> phases("planning"),
      "codegen.compiles" -> compiles.toDouble,
      "codegen.compile_s" -> compiles * CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean / 1e3,
      "trace.coverage" -> covered / wallS))
  }

  /** Wall seconds and row count of one probe action. */
  private def probe(spark: SparkSession, tr: Tracer, layer: String)(body: => Long): (Double, Long) = {
    val t0 = System.nanoTime()
    val n = tr.span(layer)(body)
    ((System.nanoTime() - t0) / 1e9, n)
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    if (Files.isDirectory(p)) Files.list(p).toArray.foreach(x => deleteTree(x.asInstanceOf[Path]))
    Files.delete(p)
  }
}

/** An interleaved pass over registered queries on the fixed sf tables.
  * Each pass runs the queries in a seed-derived order; the action is
  * `queryExecution.toRdd.count()`, and the runner releases caches after
  * every query, as the engine's cache contract asks. */
final class QueryMix(names: Seq[String], allTables: Seq[String], sfDir: String, seed: Long,
                     work: Path, slots: Int) extends Workload {
  private val fns = names.map(n => n -> graft.SparkEntry.queries
    .getOrElse(n, throw new IllegalArgumentException(s"unknown query $n"))).toMap

  override val oracleSql: Map[String, String] = names.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap

  /** The sf tables the queries read, as their oracle SQL names them. */
  def tables: Seq[String] = allTables.filter(t =>
    oracleSql.values.exists(sql => s"(?i)\\b$t\\b".r.findFirstIn(sql).isDefined))

  def inputMb: Double = tables.map(t => dirBytes(java.nio.file.Paths.get(sfDir, s"$t.parquet"))).sum / Tracer.MB
  def queriesPerPass: Int = names.size

  /** Seed-derived order of pass `n`. */
  def order(n: Int): Seq[String] = new scala.util.Random(seed * 1000003L + n).shuffle(names)

  private def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    Bridge.freeAllPersistedRdds(spark)
  }

  override def saved: Map[String, String] =
    names.map(q => q -> work.resolve("check").resolve(q).toString).toMap

  def pass(spark: SparkSession, n: Int, tracer: Option[Tracer], save: Boolean): Pass = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val layers = collection.mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    var failed = 0
    val counts = collection.mutable.LinkedHashMap.empty[String, Long]
    val p0 = Tracer.nowMs()
    for (q <- order(n)) {
      def timed[T](part: String)(body: => T): T = tracer match {
        case Some(tr) => tr.span(s"$q.$part")(body)
        case None => body
      }
      try {
        val df = timed("construct")(fns(q)(spark, sfDir))
        if (save) df.write.mode("overwrite").parquet(saved(q))
        else counts(q) = timed("execute")(df.queryExecution.toRdd.count())
        tracer.foreach(_.addPhases(df.queryExecution))
      } catch { case NonFatal(e) => failed += 1; System.err.println(s"$q failed: $e") }
      layers("release.persisted_rdds") += spark.sparkContext.getPersistentRDDs.size
      timed("release")(release(spark))
    }
    val p1 = Tracer.nowMs()
    val wallS = (p1 - p0) / 1e3
    val traced = tracer.map { tr =>
      tr.drain()
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
      def s(layer: String) = tr.spanOf(layer).map(_.s).sum
      names.foreach { q =>
        layers(s"$q.construct_s") = s(s"$q.construct")
        layers(s"$q.execute_s") = s(s"$q.execute")
        layers(s"$q.jobs") = (tr.jobsOf(s"$q.construct") ++ tr.jobsOf(s"$q.execute")).size
        layers("queries.construct_s") += s(s"$q.construct")
        layers("queries.construct_jobs") += tr.jobsOf(s"$q.construct").size
        layers("release.release_s") += s(s"$q.release")
      }
      // the layers' own figures, not the spans that tile the pass:
      // construction (analysis and any eager jobs), the optimizer and
      // planner, the execute jobs' wall and cache release. Codegen is left
      // out, as part of it runs inside tasks, and so is the driver's other
      // work around each job
      val executeJobs = names.flatMap(q => tr.jobsOf(s"$q.execute"))
      val compileS = compiles * CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean / 1e3
      val covered = layers("queries.construct_s") + tr.phases("optimization") + tr.phases("planning") +
        Tracer.unionS(executeJobs) + layers("release.release_s")
      Tracer.exec(tr.jobs.toSeq, tr.tasks.toSeq, wallS, slots) ++ layers ++ Map(
        "plan.analysis_s" -> tr.phases("analysis"),
        "plan.optimization_s" -> tr.phases("optimization"),
        "plan.planning_s" -> tr.phases("planning"),
        "codegen.compiles" -> compiles.toDouble,
        "codegen.compile_s" -> compileS,
        "trace.coverage" -> covered / wallS)
    }
    Pass(wallS, names.size, failed, counts.toMap, traced.getOrElse(Map.empty))
  }

  private def dirBytes(p: Path): Long =
    if (Files.isDirectory(p)) Files.list(p).toArray.map(x => dirBytes(x.asInstanceOf[Path])).sum
    else if (Files.isRegularFile(p)) Files.size(p) else 0L
}
