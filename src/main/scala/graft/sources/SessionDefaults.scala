package graft.sources

import org.apache.spark.sql.SparkSession

/** The session knobs EVERY harness entry point shares — one definition,
  * so a future harness-wide knob (or a fix to one) cannot silently miss
  * an entry point. The engine's mains and the test base build their
  * session through [[graft.Runner.session]], which adds master, shuffle
  * partitions and AQE; external harnesses call [[harness]] directly.
  *
  *   - UTC session time zone: every oracle comparison assumes it;
  *   - no UI: headless batch JVMs;
  *   - checkpoint file checksums OFF: Spark 4.1's
  *     ChecksumCheckpointFileManager routes every checkpoint rename
  *     through Hadoop ChecksumFs, which shells out (fork+exec) a
  *     `readlink` per rename — a fork that can wedge a many-threaded
  *     local JVM (observed: a stuck jspawnhelper deadlocked a
  *     streaming gate's RocksDB changelog commit for 18 minutes;
  *     SCALE.md round 12). The checksums protect durable production
  *     checkpoints against bit rot; these JVMs run MemoryStream proof
  *     gates on scratch checkpoints.
  */
object SessionDefaults {
  def harness(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      // AQE partition-coalescing floor (default 1m): with
      // parallelismFirst on, AQE still refuses to split below
      // minPartitionSize, so a CPU-DENSE multi-MB shuffle (scored
      // trigrams, shingle-join output) coalesces to a handful of tasks
      // and runs serially on an otherwise idle cluster slice. 128k lets
      // parallelismFirst actually reach defaultParallelism for those
      // stages. Scale-safe by construction: production shuffles size
      // partitions by advisoryPartitionSizeInBytes (64m default),
      // orders of magnitude above either floor, so this knob only
      // matters exactly where it should — small-byte, high-CPU stages.
      // Env-overridable for experiments / cluster profiles.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("GRAFT_MIN_PART_SIZE", "128k"))
}
