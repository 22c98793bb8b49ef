package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic N× scale-up of a driver fixture directory, used for
  * scaling smoke tests beyond the largest shipped SF
  * (`runMain graft.tools.ScaleUp <srcDir> <outDir> [factor] [tables]`,
  * `tables` a comma-separated subset to build — e.g.
  * `documents,embeddings` for a dedup-only sweep decade).
  *
  * Replica k (k = 0 is the original, untouched) shifts every entity key
  * by k·10^9 so referential joins (orders⋈lineitem, customer, part,
  * supplier, events.user_id) stay consistent, and DECORRELATES the
  * content so data-dependent operators see realistic growth instead of
  * degenerate duplication:
  *
  *   - `documents.text`: every whitespace token gets a replica suffix
  *     (`zzk`), so replicas share no shingles — near-dup pair volume
  *     grows ~linearly with the corpus instead of quadratically in the
  *     replica count, and vocabulary grows with corpus size as a real
  *     corpus's does;
  *   - `embeddings.embedding`: element i's sign flips when bit (k-1) of
  *     i·2654435761 is set — a deterministic half-coordinate flip, so
  *     cross-replica cosines sit near 0 (norms are EXACTLY preserved);
  *   - dimension tables (`region`, `nation`) stay fixed-size, as at any
  *     real scale factor.
  *
  * Spark-side only — this writes a benchmark input, never an oracle
  * fixture (the DuckDB correctness gate always runs on the driver's own
  * sf0.01 data).
  */
object ScaleUp {

  private val Shift = 1000000000L

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    require(factor >= 1, "factor must be >= 1")
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").map(_.trim).toSet) else None
    // Fail fast on unknown table names — a typo would otherwise silently
    // produce a partial output directory that downstream sweeps read as
    // stale/missing parquet.
    val known = Set("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    only.foreach { names =>
      val bad = names.diff(known)
      require(bad.isEmpty,
        s"unknown table name(s) ${bad.toSeq.sorted.mkString(", ")}; " +
          s"valid: ${known.toSeq.sorted.mkString(", ")}")
    }
    val spark = graft.Runner.session(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]", 32)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def table(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")

    /** Union `factor` replicas of `df`, transformed per replica index. */
    def replicate(df: DataFrame)(tx: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(k => tx(df, k)).reduce(_ unionAll _)

    def shifted(df: DataFrame, k: Int, keys: String*): DataFrame =
      keys.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(k * Shift)))

    val jobs: Seq[(String, () => DataFrame)] = Seq(
      "region" -> (() => table("region")),
      "nation" -> (() => table("nation")),
      // c_name must decorrelate like documents.text does (the zz$k token
      // suffix): leaving 10 exact copies of every name makes any
      // name-keyed operator (q130 fuzzy matching) measure duplicate-
      // clique blowup instead of scale — replica names get a distinct
      // serial prefix digit region instead, preserving format and length
      // statistics
      "customer" -> (() =>
        replicate(table("customer")) { (d, k) =>
          val s = shifted(d, k, "c_custkey")
          if (k == 0) s
          else s.withColumn("c_name",
            regexp_replace(col("c_name"), "^Customer#0", s"Customer#$k"))
        }),
      "supplier" -> (() => replicate(table("supplier"))(shifted(_, _, "s_suppkey"))),
      "part" -> (() => replicate(table("part"))(shifted(_, _, "p_partkey"))),
      "orders" -> (() =>
        replicate(table("orders"))(shifted(_, _, "o_orderkey", "o_custkey"))),
      "lineitem" -> (() =>
        replicate(table("lineitem"))(
          shifted(_, _, "l_orderkey", "l_partkey", "l_suppkey"))),
      "events" -> (() =>
        replicate(table("events"))(shifted(_, _, "event_id", "user_id"))),
      "documents" -> (() =>
        replicate(table("documents")) { (d, k) =>
          val s = shifted(d, k, "doc_id")
          if (k == 0) s
          else s
            .withColumn("text", regexp_replace(col("text"), "(\\S+)", s"$$1zz$k"))
            .withColumn("n_chars", length(col("text")))
        }),
      "embeddings" -> (() =>
        replicate(table("embeddings")) { (d, k) =>
          val s = shifted(d, k, "vec_id")
          if (k == 0) s
          else s.withColumn("embedding",
            zip_with(
              col("embedding"),
              sequence(lit(0), size(col("embedding")) - 1),
              (x, i) => when(
                shiftRight(i.cast("long") * lit(2654435761L), k - 1) % 2 === 1,
                -x).otherwise(x)))
        }))

    jobs.foreach { case (name, build) =>
      if (only.forall(_.contains(name))) {
        build().write.mode("overwrite").parquet(s"$out/$name.parquet")
        println(s"[scaleup] $name done")
      }
    }
    spark.stop()
  }
}
