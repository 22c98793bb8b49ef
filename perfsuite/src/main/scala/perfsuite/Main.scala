package perfsuite

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Benchmark JVM: set up (session + cold pass, whose outputs are kept for
  * checking), warm up, then time passes of one workload, and write every
  * raw figure to `<work>/result.json`.
  *
  *   --workload index_build|short_queries  --seed N  --queries q1,q2,...
  *   --seconds S   timed phase length
  *   --min-passes N   timed passes at least (and N traced ones when traced)
  *   --warmup-passes N   untimed warm passes after set-up
  *   --trace 0|1   1: alternate untraced and traced timed passes
  *   --tables t1,t2,...  the sf tables an oracle may name
  *   --work DIR  --sf DIR  --cores K  --partitions P
  *   --corpus-mb M  --corpus-files F  --corpus-vocab V  --corpus-zipf-s S
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val warmup = args("warmup-passes").toInt
    val minPasses = args("min-passes").toInt
    val traceOn = args.getOrElse("trace", "0") == "1"
    val work = Files.createDirectories(Paths.get(args("work")).toAbsolutePath)
    val sfDir = args("sf")
    val cores = args("cores").toInt
    val partitions = args("partitions")

    // inputs first: generation is not part of set-up
    val wl: Workload = workload match {
      case "index_build" =>
        val mb = args("corpus-mb").toDouble
        val files = args("corpus-files").toInt
        val corpus = CorpusGen.generate(seed,
          CorpusGen.Params(files, (mb * 1024 * 1024 / files).toInt,
            vocab = args("corpus-vocab").toInt, zipfS = args("corpus-zipf-s").toDouble),
          work.resolve("corpus"))
        new IndexBuild(corpus, work, cores)
      case _ => new QueryMix(args("queries").split(",").toSeq, args("tables").split(",").toSeq,
        sfDir, seed, work, cores)
    }

    val jit0 = jitMs(); val gc0 = gcMs()
    val t0 = System.nanoTime()
    val spark = graft.sources.SessionDefaults.harness(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfsuite")
      .config("spark.sql.shuffle.partitions", partitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val passes = Seq.newBuilder[(String, Pass)]
    var n = 0
    def run(kind: String, tracer: Option[Tracer], save: Boolean = false): Pass = {
      tracer.foreach(_.start())
      val p = try { if (kind == "warm") wl.warmPass(spark, n) else wl.pass(spark, n, tracer, save) }
        finally tracer.foreach(_.stop())
      n += 1
      passes += kind -> p
      p
    }
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      // set-up ends with the cold pass, which saves its results for the
      // correctness check; checking them is not part of set-up
      val setupS = sessionS + run("cold", None, save = true).wallS
      val setupJitS = (jitMs() - jit0) / 1e3
      val setupGcS = (gcMs() - gc0) / 1e3
      for (_ <- 1 to warmup) run("warm", None)
      val tracer = if (traceOn) Some(new Tracer(spark)) else None
      val m0 = System.nanoTime()
      var k = 0
      while ((System.nanoTime() - m0) / 1e9 < seconds || k < (if (traceOn) 2 * minPasses else minPasses)) {
        if (traceOn && k % 2 == 1) run("traced", tracer) else run("timed", None)
        k += 1
      }
      val all = passes.result()
      val out = Json.obj(
        "workload" -> workload, "seed" -> seed,
        "setup_s" -> setupS, "session_s" -> sessionS, "setup_jit_s" -> setupJitS, "setup_gc_s" -> setupGcS,
        "peak_rss_mb" -> peakRssMb(),
        "input_mb" -> wl.inputMb, "input_stats" -> wl.inputStats, "queries_per_pass" -> wl.queriesPerPass,
        "settings" -> Json.obj("master" -> s"local[$cores]", "shuffle_partitions" -> partitions,
          "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024), "warmup_passes" -> warmup,
          "seconds" -> seconds),
        "checked" -> wl.saved, "oracle_sql" -> wl.oracleSql,
        "passes" -> all.map { case (kind, p) => Json.obj(
          "kind" -> kind, "wall_s" -> p.wallS, "attempted" -> p.attempted, "failed" -> p.failed,
          "counts" -> p.counts, "layers" -> p.layers) })
      Files.write(work.resolve("result.json"), Json.render(out).getBytes("UTF-8"))
    } finally spark.stop()
  }

  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  /** High-water resident set of this process (VmHWM), in MB. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

/** Minimal JSON rendering for the result file. */
object Json {
  def obj(kvs: (String, Any)*): Map[String, Any] = kvs.toMap

  def render(v: Any): String = v match {
    case null | None => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
