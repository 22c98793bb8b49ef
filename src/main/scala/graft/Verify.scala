package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Runner.session(s"local[$cpus]", cpus)
    new java.io.File(outDir).mkdirs()
    // Local-dev subset filter (comma-separated exact names). The driver
    // never sets it → the full surface always runs in the gate.
    val only = sys.env.get("GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String): Boolean = only.forall(_.contains(name))
    var dumped = 0
    var failed = 0
    SparkEntry.queries
      .filter { case (name, _) => selected(name) }
      .foreach { case (name, fn) =>
      // release once the query's terminal write is done (or failed)
      Runner.released(spark) {
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          dumped += 1
        } catch { case NonFatal(e) =>
          failed += 1
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // a subset run writes only its own oracles, so the checker judges
    // exactly the selected queries (a selected one that failed still
    // has its oracle and no parquet: FAIL)
    val oracles = SparkEntry.oracleSql.filter { case (name, _) => selected(name) }
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Compact LAST stdout line (the Bench.scala discipline, round-15
    // verdict item 1): CORRECTNESS_r15.json arrived empty driver-side and
    // the round's 361/361 was only recoverable by re-running the gate.
    // This line fits any tail-capture window whole, so "did Verify dump
    // the full surface" is decidable from the raw driver log alone.
    println(s"""{"queries_dumped":$dumped,"failed":$failed,"oracles":${oracles.size},"sf":"$sfDir"}""")
    System.out.flush()
    spark.stop()
  }
}
