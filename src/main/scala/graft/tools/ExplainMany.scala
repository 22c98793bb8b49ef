package graft.tools

/** Dev utility (optimization-round plan audit): write
  * `explain("formatted")` for a comma-separated list of registered
  * queries (or ALL) to one file per query under an output directory —
  * `runMain graft.tools.ExplainMany <names|ALL> <outDir> [sfDir]
  * [suffix]`; a one-name list explains one query. One JVM for the whole
  * batch, on a `local[4]` session with 8 shuffle partitions. The files
  * are the `plans/r16/<query>_before/after.txt` evidence the
  * optimization rounds commit.
  */
object ExplainMany {
  def main(args: Array[String]): Unit = {
    val names = args(0)
    val outDir = args(1)
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.01"
    val suffix = if (args.length > 3) args(3) else "before"
    val spark = graft.Runner.session("local[4]", 8)
    new java.io.File(outDir).mkdirs()
    val list =
      if (names == "ALL") graft.SparkEntry.queries.keys.toSeq.sorted
      else names.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    list.foreach { name =>
      graft.Runner.released(spark) {
        try {
          val df = graft.SparkEntry.queries(name)(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
            plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          println(s"[explainmany] wrote $outDir/${name}_$suffix.txt")
        } catch {
          case scala.util.control.NonFatal(e) =>
            println(s"[explainmany] $name FAILED: ${e.getMessage}")
        }
      }
    }
    spark.stop()
  }
}
