package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Similarity, SkewJoin}
import graft.sources.Tables

class OperatorsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("IVF assignment is deterministic and ivfTopK reaches useful recall") {
    val raw = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val v = Similarity.prepared(raw, "vec_id", "embedding")
    val a1 = Similarity.ivfAssign(v, "vec_id", k = 8)
      .select("vec_id", "cell").as[(Long, Int)].collect().toMap
    val a2 = Similarity.ivfAssign(v.repartition(5), "vec_id", k = 8)
      .select("vec_id", "cell").as[(Long, Int)].collect().toMap
    assert(a1 == a2, "cell assignment must not depend on partitioning")
    assert(a1.values.toSet.size > 1, "vectors should spread across cells")

    val brute = Similarity.bruteForceTopK(v, v, "vec_id", k = 3)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(v, "vec_id", k = 3, cells = 8, nProbe = 3)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toSet
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    info(f"IVF recall@3 = $recall%.3f (nProbe=3/8 cells)")
    assert(recall > 0.2)
  }

  test("salted join equals plain join on skewed data") {
    val big = (1 to 5000).map(i => (if (i % 10 == 0) "rare" else "hot", i))
      .toDF("k", "v")
    val small = Seq(("hot", 1.0), ("rare", 2.0), ("absent", 3.0)).toDF("k", "w")
    val plain = big.join(small, "k").select("k", "v", "w")
      .as[(String, Int, Double)].collect().sorted.toSeq
    val salted = SkewJoin.saltedJoin(big, small, "k", saltFactor = 8)
      .select("k", "v", "w").as[(String, Int, Double)].collect().sorted.toSeq
    assert(salted == plain)
  }

  test("count-min estimates never undercount and collapse to exact on light sketches") {
    // the CMS contract: est >= exact count for EVERY probe (an
    // undercount means the sketch lost mass — a real bug, not an
    // approximation), and the over-estimate is collision mass only
    val rows = graft.queries.TextQueries
      .queries("q113_heavy_hitters_cms")(spark, sfDir)
      .as[(String, Long, Long)].collect()
    assert(rows.length == 20)
    rows.foreach { case (w, cnt, est) =>
      assert(est >= cnt, s"CMS undercounted '$w': est $est < exact $cnt")
    }
    // at fixture scale (vocab ~8k over 4×1024 counters) at least half the
    // top-20 should be collision-free — all-saturated estimates would mean
    // the bucket arithmetic is broken even though est >= cnt holds
    assert(rows.count { case (_, cnt, est) => est == cnt } >= 10,
      s"suspiciously few exact estimates: ${rows.toSeq}")
  }

  test("CMS join-cardinality estimate never undercounts the exact join size (q116)") {
    // inner-product CMS estimate: collisions only ADD non-negative mass,
    // so est >= exact for every sketch row, hence for the min
    val (est, exact, relErr) = graft.queries.RelationalQueries
      .queries("q116_join_cardinality")(spark, sfDir)
      .as[(Long, Long, Double)].head()
    assert(exact > 0, "fixture join must be non-empty")
    assert(est >= exact, s"CMS join estimate undercounted: $est < $exact")
    assert(relErr >= 0.0)
    // collision mass is bounded by ~|A|·|B|/W per row; min over 4
    // independent rows stays well inside a few multiples of that
    val na = spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    val nb = spark.read.parquet(s"$sfDir/orders.parquet").count()
    assert(est - exact <= 8L * na * nb / 1024L,
      s"collision mass implausibly large: est $est exact $exact")
  }

  test("compacting base+delta postings segments equals the from-scratch index (q117)") {
    val merged = graft.queries.IndexParityQueries
      .q117IndexCompaction(spark, sfDir)
      .as[(String, String, Long)].collect().toSet
    val full = graft.queries.ReferenceQueries
      .q1InvertedIndex(spark, sfDir)
      .as[(String, String, Long)].collect().toSet
    assert(merged == full, "LSM compaction must reproduce the full rebuild")
  }

  test("Bloom join pruning is semantics-neutral vs the plain join (q119)") {
    // the q39-style contract: an optimization that prunes rows must be
    // invisible in the result — false positives are removed by the
    // exact join, false negatives are impossible for a Bloom filter
    val pruned = graft.queries.RelationalQueries
      .queries("q119_bloom_join_prune")(spark, sfDir)
      .as[(Long, Double, Long, Double)].collect().toSet
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val hi = spark.read.parquet(s"$sfDir/orders.parquet")
      .filter(col("o_totalprice") > 480000.0)
      .select(col("o_orderkey"), col("o_totalprice"))
    val plain = li.join(hi, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderkey", "o_totalprice")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double").as("revenue"))
      .as[(Long, Double, Long, Double)].collect().toSet
    assert(pruned == plain, "Bloom pruning changed the join result")
  }

  test("csv/json/parquet round-trip through the Tables facade") {
    val df = Seq((1L, "a", 1.5), (2L, "b", -2.0), (3L, "c", 0.0))
      .toDF("id", "name", "score")
    val base = Files.createTempDirectory("graft-tables").toString
    Tables.writeParquet(df, s"$base/p", partitionBy = Seq("name"))
    Tables.writeCsv(df, s"$base/c")
    Tables.writeJson(df, s"$base/j")
    Tables.writeOrc(df, s"$base/o")
    val p = Tables.parquet(spark, s"$base/p").select("id", "name", "score")
    val c = Tables.csv(spark, s"$base/c", df.schema)
    val j = Tables.json(spark, s"$base/j", df.schema)
    val o = Tables.orc(spark, s"$base/o")
    val want = df.as[(Long, String, Double)].collect().sorted.toSeq
    for (r <- Seq(p, c, j, o))
      assert(r.as[(Long, String, Double)].collect().sorted.toSeq == want)
  }

  test("column profile counts nulls/distincts exactly; approx distinct tracks it") {
    val df = Seq[(java.lang.Long, String)](
      (1L, "a"), (2L, "a"), (2L, null), (null, "b"), (3L, "b"))
      .toDF("k", "s")
    val got = Tables.profile(df, Seq("k", "s"))
      .as[(String, Long, Long, Long, Option[Double], Option[Double])]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(got("k") == ((5L, 1L, 3L, Some(1.0), Some(3.0))))
    // non-numeric: min/max stay null (engine-neutral rendering contract)
    assert(got("s") == ((5L, 1L, 2L, None, None)))
    // the documented 100 TB swap: approx_count_distinct lands within 5%
    // of the exact profile on a real high-cardinality column
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val exact = Tables.profile(li, Seq("l_orderkey"))
      .select("n_distinct").as[Long].head()
    val approx = li.agg(approx_count_distinct(col("l_orderkey"), rsd = 0.02))
      .as[Long].head()
    assert(math.abs(approx - exact).toDouble / exact < 0.05,
      s"approx $approx vs exact $exact")
  }

  test("funnel steps are sequenced inside their 24h windows (q122)") {
    val rows = SparkEntry.queries("q122_funnel")(spark, sfDir)
      .as[(Long, Int, Long, Option[Long], Option[Long], Option[Long])]
      .collect()
    assert(rows.nonEmpty)
    val day = 24L * 3600 * 1000000
    rows.foreach { case (u, steps, t1, t2, t3, t4) =>
      assert(steps == 1 + Seq(t2, t3, t4).count(_.isDefined), s"user $u")
      // a null step implies every later step is null (ordered funnel)
      assert(!(t2.isEmpty && (t3.nonEmpty || t4.nonEmpty)), s"user $u")
      assert(!(t3.isEmpty && t4.nonEmpty), s"user $u")
      t2.foreach(t => assert(t > t1 && t <= t1 + day, s"user $u view"))
      (t2 zip t3).foreach { case (a, b) => assert(b > a && b <= a + day) }
      (t3 zip t4).foreach { case (a, b) => assert(b > a && b <= a + day) }
    }
  }

  test("retention offset-0 cell contains the whole cohort (q123)") {
    val rows = SparkEntry.queries("q123_retention")(spark, sfDir)
      .as[(Long, Int, Long)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (cohort, cells) =>
      val byOff = cells.map(c => c._2 -> c._3).toMap
      // every user's first-purchase week IS offset 0, so that cell holds
      // the full cohort and upper-bounds every later offset
      assert(byOff.contains(0), s"cohort $cohort missing offset 0")
      assert(byOff.values.max == byOff(0), s"cohort $cohort")
      assert(byOff.keys.forall(_ >= 0), s"cohort $cohort")
    }
  }

  test("SCD2 intervals chain per user with consecutive versions (q125)") {
    val rows = SparkEntry.queries("q125_scd2")(spark, sfDir)
      .as[(Long, Int, String, Long, Option[Long], Long)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (u, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to rs.length), s"user $u versions")
      // each interval closes exactly where the next opens; only the last
      // is open-ended; adjacent runs really changed type
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._5.contains(b._4), s"user $u gap at v${a._2}")
          assert(a._3 != b._3, s"user $u run not maximal at v${a._2}")
        case _ =>
      }
      assert(sorted.last._5.isEmpty, s"user $u last interval must be open")
      assert(sorted.init.forall(_._5.nonEmpty), s"user $u")
    }
  }

  test("ANN recall is a valid fraction and the sample is fully scored (q124)") {
    val rows = SparkEntry.queries("q124_ann_recall")(spark, sfDir)
      .as[(Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    val n = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") < 50).count()
    assert(rows.length == n, s"expected one recall row per sampled query")
    rows.foreach { case (q, hits, recall) =>
      assert(hits >= 0 && hits <= 10, s"query $q")
      assert(recall == hits / 10.0, s"query $q")
    }
    // the scaled IVF index must be genuinely useful, not vacuously 0
    assert(rows.map(_._3).sum / rows.length > 0.3,
      "mean recall@10 collapsed — IVF parameterization regressed")
  }

  test("incremental aggregate fold equals the full recompute (q126)") {
    val inc = SparkEntry.queries("q126_incremental_agg")(spark, sfDir)
      .collect().map(_.toString).toSet
    val full = SparkEntry.queries("q10_pricing_summary")(spark, sfDir)
      .collect().map(_.toString).toSet
    assert(inc == full, "refresh-equals-recompute contract broken")
  }

  test("source overlap matrix is a normalized rollup of the pair table (q127)") {
    val rows = SparkEntry.queries("q127_source_overlap")(spark, sfDir)
      .as[(String, String, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (lo, hi, n, avg) =>
      assert(lo <= hi, "unordered pair not normalized")
      assert(n >= 1 && avg >= 0.05 && avg <= 1.0)
    }
    val total = rows.map(_._3).sum
    val pairTotal = SparkEntry.queries("q32_ngram_jaccard")(spark, sfDir).count()
    assert(total == pairTotal, "matrix must partition the pair table")
  }

  test("wildcard-key fuzzy join finds exactly the brute-force Hamming pairs (q130)") {
    val names = spark.read.parquet(s"$sfDir/customer.parquet")
      .select("c_custkey", "c_name").as[(Long, String)].collect()
    // the fixture is small enough to afford the quadratic ground truth
    val brute = (for {
      (ia, na) <- names; (ib, nb) <- names
      if ia < ib && na.length == nb.length
      if na.zip(nb).count { case (x, y) => x != y } <= 1
    } yield (ia, ib)).toSet
    val got = SparkEntry.queries("q130_name_match")(spark, sfDir)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == brute,
      s"missed=${(brute -- got).take(3)} extra=${(got -- brute).take(3)}")
    assert(got.nonEmpty)
  }

  test("multi-touch credits split each conversion into equal unit shares (q131)") {
    val rows = SparkEntry.queries("q131_multi_touch")(spark, sfDir)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (purchase, touches) =>
      val n = touches.head._5
      assert(touches.length == n, s"purchase $purchase count mismatch")
      assert(touches.forall(_._6 == touches.head._6))
      val total = touches.map(_._6).sum
      assert(math.abs(total - 1.0) < 1e-4 * n,
        s"purchase $purchase credits sum to $total")
    }
  }

  test("revenue shares sum to one inside every region (q132)") {
    val rows = SparkEntry.queries("q132_revenue_share")(spark, sfDir)
      .as[(String, String, Double, Long, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (region, ns) =>
      val total = ns.map(_._6).sum
      assert(math.abs(total - 1.0) < 1e-4, s"region $region shares sum to $total")
      assert(ns.forall(r => math.abs(r._5 - ns.head._5) < 1e-9),
        s"region $region rows disagree on the region total")
    }
  }

  test("association-rule ratios are consistent with their counts (q133)") {
    val rows = SparkEntry.queries("q133_association_rules")(spark, sfDir)
      .as[(String, String, Long, Double, Double, Double)].collect()
    assert(rows.nonEmpty)
    val co = rows.map(r => (r._1, r._2) -> r._3).toMap
    rows.foreach { case (a, b, nab, support, confidence, lift) =>
      // co-occurrence is symmetric; the directional ratios need not be
      assert(co((b, a)) == nab, s"$a->$b")
      assert(support > 0 && support <= 1 && confidence > 0 && confidence <= 1)
      assert(lift > 0)
    }
  }

  test("grouping-set slices each total to the same grand count (q129)") {
    val rows = SparkEntry.queries("q129_grouping_sets")(spark, sfDir)
      .as[(String, String, Int, Long)].collect()
    val byGid = rows.groupBy(_._3)
    // gid 1 = by returnflag only, gid 2 = by linestatus only, gid 0 = both
    assert(byGid.keySet == Set(0, 1, 2))
    val totals = byGid.view.mapValues(_.map(_._4).sum).toMap
    assert(totals(0) == totals(1) && totals(1) == totals(2),
      s"every grouping set must partition the same rows: $totals")
  }

  test("equi-depth buckets hold balanced row fractions (q128)") {
    val rows = SparkEntry.queries("q128_equidepth_histogram")(spark, sfDir)
      .as[(Int, Long, Double, Double)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1, 2, 3, 4))
    val total = rows.map(_._2).sum.toDouble
    rows.foreach { case (b, n, lo, hi) =>
      assert(lo <= hi, s"bucket $b")
      assert(n / total > 0.2 && n / total < 0.3, s"bucket $b holds ${n / total}")
    }
    // bucket ranges must not overlap when walked in order
    rows.sliding(2).foreach {
      case Array(a, b) => assert(a._4 <= b._3, s"buckets ${a._1}/${b._1} overlap")
      case _ =>
    }
  }

  test("CDC merge exercises every action path and conserves keys (q134)") {
    // sf0.01: the changelog keys (0..149) straddle the base range
    // (50..200), so kept/updated/inserted/deleted all occur; sf0.001's
    // changelog (keys 0..14) misses the base range entirely
    val out = SparkEntry.queries("q134_merge_upsert")(spark, "/root/testdata/sf0.01")
      .as[(Long, String, String, Double)].collect()
    val byAction = out.groupBy(_._3).view.mapValues(_.map(_._1).toSet).toMap
    // the fixture produces all three surviving actions (deletes are the
    // latest-change='error' users, absent from the output entirely)
    assert(byAction.keySet == Set("kept", "updated", "inserted"),
      s"actions seen: ${byAction.keySet}")
    // inserts come from below the base range, updates from inside it,
    // kept rows from the base keys above the changelog's range
    assert(byAction("inserted").forall(_ < 50L))
    assert(byAction("updated").forall(k => k >= 50L && k <= 149L))
    assert(byAction("kept").forall(k => k >= 150L && k <= 200L))
    // deleted keys: in the changelog but in no output row
    val deleted = (0L until 150L).toSet -- out.map(_._1).toSet
    assert(deleted.nonEmpty, "fixture should contain tombstoned users")
    assert(out.map(_._1).distinct.length == out.length, "merge output keyed")
  }

  test("gap-fill emits a dense hour grid with explicit zeros (q137)") {
    val rows = SparkEntry.queries("q137_gapfill_ma")(spark, sfDir)
      .as[(String, Long, Long, Double)].collect()
    val byType = rows.groupBy(_._1)
    assert(byType.size == 5)
    val hours = byType.head._2.map(_._2).sorted
    byType.foreach { case (t, rs) =>
      val hs = rs.map(_._2).sorted
      assert(hs.toSeq == hours.toSeq, s"type $t grid differs")
      // dense: consecutive hours exactly 3600s (=3.6e9 µs) apart
      hs.sliding(2).foreach {
        case Array(a, b) => assert(b - a == 3600000000L, s"gap in $t grid")
        case _ =>
      }
      assert(rs.exists(_._3 == 0L), s"type $t should have filled gaps")
    }
  }

  test("Markov transition probabilities sum to one per source state (q139)") {
    val rows = SparkEntry.queries("q139_markov_transitions")(spark, sfDir)
      .as[(String, String, Long, Long, Double)].collect()
    rows.groupBy(_._1).foreach { case (cur, rs) =>
      assert(math.abs(rs.map(_._5).sum - 1.0) < 1e-4, s"P(.|$cur) sums to 1")
      assert(rs.map(_._3).sum == rs.head._4, s"total column consistent for $cur")
    }
  }

  test("standardized features have zero mean and unit variance per group (q141)") {
    val rows = SparkEntry.queries("q141_standardize")(spark, sfDir)
      .as[(Long, String, Double, Double, Boolean)].collect()
    rows.groupBy(_._2).foreach { case (t, rs) =>
      val zs = rs.map(_._4)
      val mean = zs.sum / zs.length
      val varz = zs.map(z => (z - mean) * (z - mean)).sum / zs.length
      assert(math.abs(mean) < 1e-4, s"$t mean(z)=$mean")
      assert(math.abs(varz - 1.0) < 1e-3, s"$t var(z)=$varz")
      // the heavy-tailed fixture has genuine outliers; flags agree with z
      assert(rs.forall(r => r._5 == (math.abs(r._4) > 3.0)))
    }
    assert(rows.exists(_._5), "fixture should contain outliers")
  }

  test("Pareto frontier is strictly monotone in both dimensions (q144)") {
    val rows = SparkEntry.queries("q144_pareto_frontier")(spark, sfDir)
      .as[(Long, Double, Double, Long)].collect().sortBy(_._2)
    assert(rows.nonEmpty)
    // walked in price order, volume must strictly increase — otherwise a
    // cheaper part with >= volume would dominate the later one
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a._2 <= b._2 && a._3 < b._3,
          s"frontier not monotone: $a then $b")
      case _ =>
    }
  }

  test("weighted sampling over-represents heavy documents (q138)") {
    val sampled = SparkEntry.queries("q138_weighted_sample")(spark, sfDir)
      .select("n_chars").as[Long].collect()
    val all = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("n_chars").as[Long].collect()
    // priority keys u/w make big docs likelier picks: the sampled mean
    // size must exceed the corpus mean by a clear margin
    val ms = sampled.sum.toDouble / sampled.length
    val ma = all.sum.toDouble / all.length
    assert(ms > ma * 1.1, s"sampled mean $ms vs corpus mean $ma")
  }

  test("EWMA lands inside each user's value range (q143)") {
    val ew = SparkEntry.queries("q143_ewma")(spark, sfDir)
      .as[(Long, Int, Double)].collect().map(r => r._1 -> r._3).toMap
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ranges = spark.read.parquet(s"$sfDir/events.parquet")
      .groupBy("user_id").agg(min("value").as("lo"), max("value").as("hi"))
      .as[(Long, Double, Double)].collect()
    assert(ranges.nonEmpty)
    ranges.foreach { case (u, lo, hi) =>
      val e = ew(u)
      assert(e >= lo - 1e-6 && e <= hi + 1e-6, s"user $u ewma $e outside [$lo,$hi]")
    }
  }

  test("session paths are well-formed event-type chains (q145)") {
    val rows = SparkEntry.queries("q145_session_paths")(spark, sfDir)
      .as[(String, Long)].collect()
    assert(rows.nonEmpty)
    val types = Set("click", "view", "purchase", "signup", "error")
    rows.foreach { case (path, n) =>
      assert(n >= 5)
      assert(path.split(">").forall(types.contains), s"bad path $path")
    }
  }

  test("OHLC bars bound open/close inside [low, high] (q146)") {
    val rows = SparkEntry.queries("q146_ohlc_bars")(spark, sfDir)
      .as[(String, Long, Double, Double, Double, Double, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (t, h, open, high, low, close, vol) =>
      assert(low <= high, s"$t@$h")
      assert(open >= low && open <= high, s"$t@$h open outside range")
      assert(close >= low && close <= high, s"$t@$h close outside range")
      assert(vol > 0)
      if (vol == 1) assert(open == close && open == high && high == low)
    }
  }

  test("co-purchase cosine is symmetric and properly ranked (q148)") {
    val rows = SparkEntry.queries("q148_copurchase_recs")(spark, sfDir)
      .as[(Long, Int, Long, Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, _, _, cab, ca, cb, cos) =>
      assert(cab <= math.min(ca, cb), "pair count bounded by item counts")
      assert(cos > 0.0 && cos <= 1.0 + 1e-9, s"cosine $cos out of range")
    }
    // ranks are 1..k dense per part, ordered by non-increasing cosine
    rows.groupBy(_._1).foreach { case (part, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to sorted.length).toSeq, s"part $part ranks")
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._7 >= b._7 - 1e-9, s"part $part rank order")
        case _ =>
      }
    }
  }

  test("skew profile surfaces above-average keys in hot order (q149)") {
    val rows = SparkEntry.queries("q149_skew_profile")(spark, sfDir)
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(rows.length == 10)
    // hottest keys must sit above the mean (skew factor > 1) and the
    // factor must be the exact integer ratio cnt*keys/rows at 6dp
    rows.foreach { case (_, cnt, keys, total, skew) =>
      assert(skew > 1.0, s"hot key below mean: $skew")
      assert(math.abs(skew - cnt.toDouble * keys / total) < 1e-6)
    }
  }

  test("triangle census is internally consistent (q150)") {
    val Array((nodes, edges, tris)) =
      SparkEntry.queries("q150_triangle_count")(spark, sfDir)
        .as[(Long, Long, Long)].collect()
    assert(nodes > 0 && edges > 0)
    // a graph can't have more edges than node pairs, nor more triangles
    // than edge-extensions
    assert(edges <= nodes * (nodes - 1) / 2)
    assert(tris <= edges * nodes)
  }

  test("LOCF backfill carries the latest observation and only that (q151)") {
    val rows = SparkEntry.queries("q151_locf_backfill")(spark, sfDir)
      .as[(Long, Long, Option[Double], Boolean)].collect()
    rows.groupBy(_._1).foreach { case (u, rs) =>
      val sorted = rs.sortBy(_._2)
      var lastObs: Option[Double] = None
      sorted.foreach { case (_, day, filled, observed) =>
        if (observed) {
          assert(filled.isDefined, s"user $u day $day observed but empty")
          lastObs = filled
        } else {
          assert(filled == lastObs, s"user $u day $day carried wrong value")
        }
      }
      assert(sorted.exists(_._4), s"user $u has no observations at all")
    }
  }

  test("referential-integrity audit covers the star schema cleanly (q142)") {
    val rows = SparkEntry.queries("q142_ref_integrity")(spark, sfDir)
      .as[(String, Long, Long)].collect()
    assert(rows.length == 4)
    // the synthetic star schema is referentially sound — zero orphans,
    // full child counts audited
    rows.foreach { case (rel, n, orphans) =>
      assert(n > 0, s"$rel audited zero rows")
      assert(orphans == 0L, s"$rel has $orphans orphans")
    }
  }

  test("token entropy sits in [0, ln n] and TTR in (0, 1] (q156)") {
    val rows = SparkEntry.queries("q156_token_entropy")(spark, sfDir)
      .as[(Long, Long, Long, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, n, types, h, ttr) =>
      assert(types >= 1 && types <= n, s"doc $id: $types types of $n tokens")
      // entropy is bounded by the uniform distribution over the doc's
      // types (= ln(types) <= ln(n)); the 1e-6 slack covers the
      // fixed-point quantization of the c·ln(c) terms
      assert(h >= -1e-6 && h <= math.log(types.toDouble) + 1e-6,
        s"doc $id: entropy $h outside [0, ln($types)]")
      assert(ttr > 0.0 && ttr <= 1.0, s"doc $id: ttr $ttr")
      if (types == 1) assert(math.abs(h) < 1e-6, s"doc $id: single-type doc must have zero entropy")
    }
  }

  test("PSI drift bins partition the orders exactly (q157)") {
    val rows = SparkEntry.queries("q157_psi_drift")(spark, sfDir)
      .as[(Int, Long, Long, Double)].collect()
    assert(rows.map(_._1).toSet == (0 until 10).toSet, "exactly bins 0-9")
    val total = spark.read.parquet(s"$sfDir/orders.parquet").count()
    assert(rows.map(r => r._2 + r._3).sum == total,
      "every order lands in exactly one (bin, period) cell")
    // PSI terms are finite; identical distributions would give ~0, and a
    // term is zero iff the bin proportions agree
    rows.foreach { case (bin, _, _, psi) =>
      assert(!psi.isNaN && !psi.isInfinite, s"bin $bin: psi $psi")
    }
  }

  test("correlation matrix matches Spark's corr and stays in [-1, 1] (q158)") {
    val rows = SparkEntry.queries("q158_corr_matrix")(spark, sfDir)
      .as[(String, String, Double)].collect()
    assert(rows.length == 6, "4 measures -> 6 unordered pairs")
    // pairs follow the declared measure order, one row per unordered pair
    val measures = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val expectedPairs = measures.combinations(2).map { case Seq(a, b) => (a, b) }.toSet
    assert(rows.map(r => (r._1, r._2)).toSet == expectedPairs)
    rows.foreach { case (a, b, c) =>
      assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9, s"corr($a,$b)=$c")
    }
    // cross-check one pair against the built-in (different algorithm —
    // Welford-style co-moments — so agreement validates the moment math)
    val expected = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .agg(corr(col("l_quantity"), col("l_extendedprice"))).as[Double].head()
    val got = rows.find(r => r._1 == "l_quantity" && r._2 == "l_extendedprice").get._3
    assert(math.abs(got - expected) < 1e-5, s"corr mismatch: $got vs $expected")
  }

  test("stratified sample keeps exactly ceil(0.3 n) docs per source (q160)") {
    val kept = SparkEntry.queries("q160_stratified_sample")(spark, sfDir)
      .groupBy("source").agg(count(lit(1)).as("k"))
      .as[(String, Long)].collect().toMap
    val sizes = spark.read.parquet(s"$sfDir/documents.parquet")
      .groupBy("source").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(kept.keySet == sizes.keySet, "every stratum is represented")
    sizes.foreach { case (src, n) =>
      assert(kept(src) == math.ceil(n * 0.3).toLong,
        s"$src: kept ${kept(src)} of $n")
    }
  }

  test("A/B readout counts are consistent and z matches the closed form (q161)") {
    val r = SparkEntry.queries("q161_ab_test")(spark, sfDir)
      .as[(Long, Long, Long, Long, Double, Double, Double, Double)].head()
    val (na, ca, nb, cb, ra, rb, lift, z) = r
    assert(ca <= na && cb <= nb)
    assert(math.abs(ra - ca.toDouble / na) < 1e-6)
    assert(math.abs(lift - (ra - rb)) < 1e-5)
    val pa = ca.toDouble / na; val pb = cb.toDouble / nb
    val pp = (ca + cb).toDouble / (na + nb)
    val want = (pa - pb) / math.sqrt(pp * (1 - pp) * (1.0 / na + 1.0 / nb))
    assert(math.abs(z - want) < 1e-5, s"z $z vs $want")
  }

  test("chi-square cells reproduce the marginals (q162)") {
    val rows = SparkEntry.queries("q162_chi2_independence")(spark, sfDir)
      .as[(String, String, Long, Double, Double)].collect()
    assert(rows.nonEmpty)
    val total = rows.map(_._3).sum
    // expected counts must sum back to the observed total per source
    rows.groupBy(_._1).foreach { case (src, cells) =>
      val o = cells.map(_._3).sum
      val e = cells.map(_._4).sum
      // expected-row sum only misses o by the UNOBSERVED cells of the
      // stratum — bounded by each missing lang's share
      assert(e <= o + 1e-3, s"$src: expected sum $e exceeds observed $o")
    }
    rows.foreach { case (s2, l, o, e, c) =>
      assert(o > 0 && e > 0 && c >= 0, s"($s2,$l): o=$o e=$e contrib=$c")
      assert(math.abs(c - (o - e) * (o - e) / e) < 1e-3)
    }
    assert(total == spark.read.parquet(s"$sfDir/documents.parquet").count())
  }

  test("conversion-lag percentiles are ordered and drawn from the data (q163)") {
    val (n, avg, p50, p90) = SparkEntry.queries("q163_conversion_lag")(spark, sfDir)
      .as[(Long, Double, Double, Double)].head()
    assert(n > 0)
    assert(p50 >= 0 && p50 <= p90, s"p50 $p50 > p90 $p90")
    assert(avg > 0 && !avg.isNaN)
  }

  test("confusion-matrix margins are conservative and F1 matches 2tp/(g+p) (q164)") {
    val rows = SparkEntry.queries("q164_confusion_matrix")(spark, sfDir)
      .collect()
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(rows.map(_.getLong(2)).sum == nDocs, "gold margins cover the corpus")
    assert(rows.map(_.getLong(3)).sum == nDocs, "pred margins cover the corpus")
    rows.foreach { r =>
      val (tp, g, p) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(tp <= g && tp <= p, s"${r.getString(0)}: tp exceeds a margin")
      if (g + p > 0)
        assert(math.abs(r.getDouble(6) - 2.0 * tp / (g + p)) < 1e-5)
      if (p == 0) assert(r.isNullAt(4), "precision undefined when never predicted")
    }
  }

  test("rank-sum AUC matches the quadratic pair count definition (q165)") {
    val (np, nn, auc) = SparkEntry.queries("q165_auc_rank")(spark, sfDir)
      .as[(Long, Long, Double)].head()
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("n_chars"), (col("lang") === "en").as("pos"))
      .as[(Long, Boolean)].collect()
    val pos = d.filter(_._2).map(_._1); val neg = d.filterNot(_._2).map(_._1)
    assert(np == pos.length && nn == neg.length)
    // brute-force Mann-Whitney: wins + half-ties over all pos×neg pairs
    var num = 0.0
    for (p <- pos; n <- neg)
      num += (if (p > n) 1.0 else if (p == n) 0.5 else 0.0)
    assert(math.abs(auc - num / (np.toDouble * nn)) < 1e-5,
      s"auc $auc vs brute ${num / (np.toDouble * nn)}")
  }

  test("calibration bins partition the non-empty docs (q166)") {
    val rows = SparkEntry.queries("q166_calibration")(spark, sfDir)
      .as[(Int, Long, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (bin, n, mc, fp) =>
      assert(bin >= 0 && bin <= 9)
      assert(n > 0 && mc >= 0 && fp >= 0 && fp <= 1)
      // mean density inside a twentieth-width bin stays inside the bin
      if (bin < 9) assert(mc >= bin / 20.0 - 1e-6 && mc <= (bin + 1) / 20.0 + 1e-6,
        s"bin $bin mean_conf $mc outside its bin")
    }
  }

  test("group-wise OLS agrees with the residual-minimizing line (q167)") {
    val rows = SparkEntry.queries("q167_groupwise_ols")(spark, sfDir)
      .as[(String, Long, Double, Double)].collect()
    assert(rows.nonEmpty)
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    rows.foreach { case (flag, n, slope, icpt) =>
      val pts = li.filter(col("l_returnflag") === flag)
        .select(col("l_quantity").cast("double"),
          col("l_extendedprice").cast("double"))
        .as[(Double, Double)].collect()
      assert(pts.length == n)
      // perturbing the fitted slope must not lower the sum of squares
      def sse(m: Double, b: Double) =
        pts.map { case (x, y) => val e = y - m * x - b; e * e }.sum
      val best = sse(slope, icpt)
      assert(best <= sse(slope * 1.01 + 1e-9, icpt) + 1e-6)
      assert(best <= sse(slope * 0.99 - 1e-9, icpt) + 1e-6)
      assert(best <= sse(slope, icpt + 1.0) + 1e-6)
      assert(best <= sse(slope, icpt - 1.0) + 1e-6)
    }
  }

  test("Benford digits cover 1-9 and shares sum to one (q168)") {
    val rows = SparkEntry.queries("q168_benford")(spark, sfDir)
      .as[(Int, Long, Double, Double)].collect()
    assert(rows.map(_._1).toSet == (1 to 9).toSet)
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-4, "observed shares sum to 1")
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-4, "expected shares sum to 1")
  }

  test("Gini matches the mean-absolute-difference definition (q169)") {
    val (n, gini) = SparkEntry.queries("q169_gini")(spark, sfDir)
      .as[(Long, Double)].head()
    val rev = spark.read.parquet(s"$sfDir/orders.parquet")
      .groupBy("o_custkey").agg(sum(col("o_totalprice")).as("r"))
      .select(col("r").cast("double")).as[Double].collect()
    assert(rev.length == n)
    val mu = rev.sum / n
    var mad = 0.0
    for (a <- rev; b <- rev) mad += math.abs(a - b)
    val want = mad / (2.0 * n * n * mu)
    assert(math.abs(gini - want) < 1e-4, s"gini $gini vs MAD-def $want")
    assert(gini >= 0 && gini < 1)
  }

  test("KL divergence is non-negative and zero only for the corpus itself (q170)") {
    val rows = SparkEntry.queries("q170_source_kl")(spark, sfDir)
      .as[(String, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (src, n, kl) =>
      assert(n > 0)
      // Gibbs' inequality (small negative slack covers term quantization)
      assert(kl >= -1e-4, s"$src: KL $kl negative beyond quantization slack")
    }
  }

  test("CUSUM starts at the first deviation and ends at ~zero (q171)") {
    val rows = SparkEntry.queries("q171_cusum_changepoint")(spark, sfDir)
      .as[(Int, Long, Double)].collect().sortBy(_._1)
    assert(rows.nonEmpty)
    // the full-period cumulative deviation telescopes to exactly zero
    assert(math.abs(rows.last._3) < 1e-6,
      s"final cusum ${rows.last._3} must telescope to zero")
    val total = rows.map(_._2).sum
    val mean = total.toDouble / rows.length
    assert(math.abs(rows.head._3 - (rows.head._2 - mean)) < 1e-4)
  }

  test("seasonality indices average back to one under count weights (q172)") {
    val rows = SparkEntry.queries("q172_dow_seasonality")(spark, sfDir)
      .as[(Int, Long, Double, Double)].collect()
    assert(rows.map(_._1).toSet.subsetOf((0 to 6).toSet))
    val tot = rows.map(_._2).sum.toDouble
    val weighted = rows.map(r => r._4 * r._2 / tot).sum
    assert(math.abs(weighted - 1.0) < 1e-4,
      s"count-weighted mean seasonality $weighted != 1")
  }

  test("split-leakage keeps exactly the low-containment eval docs (q159)") {
    import graft.operators.{Curation, Dedup}
    val kept = SparkEntry.queries("q159_split_leakage")(spark, sfDir)
      .as[(Long, String)].collect().toMap
    assert(kept.nonEmpty, "some eval docs must survive")
    assert(kept.values.toSet.subsetOf(Set("test", "val")))
    // recompute containment independently and check the 1/2 criterion
    // both ways (kept < 1/2, dropped >= 1/2)
    val d = Curation.hashSplit(
      spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text"),
      "doc_id", Seq("test" -> "1a", "val" -> "34"), "train")
    val evalSh = Dedup.shinglePairs(
      d.filter(col("split") =!= "train"), "text", "doc_id")
    val trainSh = Dedup.shinglePairs(
      d.filter(col("split") === "train"), "text", "doc_id")
      .select("sh").distinct()
    val own = evalSh.groupBy("doc_id").agg(count(lit(1)).as("n_own"))
    val shared = evalSh.join(trainSh, Seq("sh"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    val cont = own.join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_shared"), lit(0L)).as("s"), col("n_own"))
      .as[(Long, Long, Long)].collect()
    cont.foreach { case (id, s, o) =>
      if (kept.contains(id)) assert(2 * s < o, s"kept doc $id has containment $s/$o >= 1/2")
      else assert(2 * s >= o, s"dropped doc $id has containment $s/$o < 1/2")
    }
    assert(cont.exists { case (id, _, _) => !kept.contains(id) },
      "the dense fixture corpus must produce at least one leaked doc")
  }

  releasedTest("degree-oriented triangles: correct counts, zero wedges at a pure hub") {
    import graft.operators.Edges
    // star K_{1,200} with the hub at the MIDDLE id (100) plus three
    // closing spoke-spoke edges -> exactly the 3 triangles
    // (hub, s_i, s_j). A middle-id hub is the pathological case for the
    // old id-ordered wedge plan: 100 in-edges x 100 out-edges = 10,000
    // wedges pivot at it
    val hub = 100L
    val spokes = (0L to 200L).filter(_ != hub)
    val star = spokes.map(s => (math.min(s, hub), math.max(s, hub))) ++
      Seq((1L, 2L), (3L, 4L), (5L, 6L))
    val e = star.toDF("a", "b")
    val n = Edges.triangleCount(e).as[Long].collect()
    assert(n.head == 3L)
    // wedge volume under degree orientation: the hub has degree 200,
    // every spoke <= 3, so NO out-edge leaves the hub and the only
    // wedges are at spokes of the closing edges — provably bounded
    val ed = Edges.orientByDegree(e).persist()
    assert(ed.filter(col("src") === hub).count() == 0,
      "degree orientation must not emit out-edges from the hub")
    val wedges = ed.select(col("src"), col("dst").as("y"))
      .join(ed.select(col("src"), col("dst").as("z")), Seq("src"))
      .filter(col("y") < col("z"))
      .count()
    assert(wedges <= 6L, s"hub graph wedge volume must stay O(spoke-degree^2), got $wedges")
    // id-orientation baseline for contrast: 100 x 100 wedges at the hub
    val idWedges = e.select(col("a"), col("b"))
      .join(e.select(col("a").as("b"), col("b").as("c")), Seq("b"))
      .count()
    assert(idWedges > 1000L,
      s"the fixture must demonstrate the id-orientation blowup, got $idWedges")
  }

  releasedTest("shared bipartite customer-part build: distinct grain, support-consistent") {
    import graft.operators.Edges
    val e = Edges.customerPart(spark, sfDir).persist()
    val n = e.count()
    assert(n > 0)
    assert(e.distinct().count() == n, "edge list must be distinct pairs")
    // independent grain check: aggregating the raw join to (c, p) yields
    // exactly the same pair count, and every pair has >= 1 supporting line
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"))
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"))
    val grouped = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .agg(count(lit(1)).as("support"))
    assert(grouped.count() == n)
    assert(grouped.filter(col("support") < 1).count() == 0)
    assert(e.join(grouped, Seq("c", "p"), "left_anti").count() == 0)
  }

  test("triangleCount matches the naive enumeration on a random graph") {
    import graft.operators.Edges
    // deterministic pseudo-random graph: edge (i, j) present when
    // (i * 31 + j * 17) % 7 == 0 over 40 nodes
    val pairs = for {
      i <- 0L until 40L; j <- (i + 1) until 40L
      if (i * 31 + j * 17) % 7 == 0
    } yield (i, j)
    val e = pairs.toDF("a", "b")
    val naive = pairs.flatMap { case (a, b) =>
      pairs.collect { case (b2, c) if b2 == b => (a, b, c) }
    }.count { case (a, _, c) => pairs.contains((a, c)) }
    val got = Runner.released(spark)(Edges.triangleCount(e).as[Long].collect().head)
    assert(got == naive, s"degree-oriented count $got != naive $naive")
    // per-node participation credits each triangle's three corners
    val perNode = Runner.released(spark)(Edges.trianglesPerNode(e).as[(Long, Long)].collect())
    assert(perNode.map(_._2).sum == 3 * naive,
      "sum of per-node triangle counts must be 3x the census")
    // independent per-node check against naive triple enumeration
    val naiveTriples = pairs.flatMap { case (a, b) =>
      pairs.collect { case (b2, c) if b2 == b && pairs.contains((a, c)) =>
        Seq(a, b, c) }
    }.flatten.groupBy(identity).map { case (n, xs) => (n, xs.size.toLong) }
    assert(perNode.toMap == naiveTriples)
  }
}
