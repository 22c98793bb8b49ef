package graft

import org.scalatest.funsuite.AnyFunSuite

/** Structural invariants of the round-8 queries — properties the oracle
  * hash can't see failing for the right reason: funnel conservation,
  * probability bounds, eigenvector norm, PSD eigenvalue dominance.
  */
class Round8Spec extends AnyFunSuite with SparkTestBase {

  private def rows(q: String) =
    Runner.released(spark)(SparkEntry.queries(q)(spark, sfDir).collect())

  test("q238: funnel conserves mass — each stage's n_in is the prior stage's n_pass") {
    val f = rows("q238_filter_funnel").sortBy(_.getInt(0))
    assert(f.length == 4)
    f.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2), s"n_pass > n_in at stage ${r.getInt(0)}")
    }
    f.sliding(2).foreach { case Array(a, b) =>
      assert(b.getLong(2) == a.getLong(3),
        s"stage ${b.getInt(0)} n_in != stage ${a.getInt(0)} n_pass")
    }
  }

  test("q239: every rule reports failed <= checked and a rate in [0, 1]") {
    val r = rows("q239_expectations")
    assert(r.length == 6)
    r.foreach { row =>
      assert(row.getLong(2) >= 0 && row.getLong(2) <= row.getLong(1))
      val rate = row.getDouble(3)
      assert(rate >= 0.0 && rate <= 1.0)
    }
  }

  test("q240: loadings are unit-norm; eigenvalue dominates every diagonal variance") {
    val v = rows("q240_power_iteration")
    assert(v.length == 64)
    val norm = v.map(r => r.getDouble(1) * r.getDouble(1)).sum
    assert(math.abs(norm - 1.0) < 1e-3, s"loading norm² = $norm")
    val lambda = v.head.getDouble(2)
    // for a PSD covariance the top eigenvalue bounds every diagonal entry
    val maxVar = rows("q198_embed_covariance")
      .filter(r => r.getInt(0) == r.getInt(1)).map(_.getDouble(2)).max
    assert(lambda >= maxVar - 1e-6, s"lambda $lambda < max variance $maxVar")
  }

  test("q241: RBO and overlap stay inside their bounds") {
    val r = rows("q241_rbo_rankings")
    assert(r.nonEmpty)
    r.foreach { row =>
      assert(row.getLong(1) >= 0 && row.getLong(1) <= 10)
      assert(row.getInt(2) == 0 || row.getInt(2) == 1)
      val rbo = row.getDouble(3)
      assert(rbo >= 0.0 && rbo <= 1.0, s"rbo out of bounds: $rbo")
    }
  }

  test("q243: novelty stays in [0, 1] with n_seen <= n_grams") {
    val r = rows("q243_ngram_novelty")
    assert(r.nonEmpty)
    r.foreach { row =>
      assert(row.getLong(2) <= row.getLong(1))
      val nov = row.getDouble(3)
      assert(nov >= 0.0 && nov <= 1.0)
    }
  }

  test("q244: padding waste is non-increasing in bucket count") {
    val r = rows("q244_padding_efficiency").sortBy(_.getInt(0))
    assert(r.map(_.getInt(0)).toSeq == Seq(1, 2, 4, 8))
    r.foreach(row => assert(row.getLong(2) >= row.getLong(1),
      "padded must be >= total"))
    r.sliding(2).foreach { case Array(a, b) =>
      assert(b.getDouble(3) <= a.getDouble(3) + 1e-9,
        s"waste increased from B=${a.getInt(0)} to B=${b.getInt(0)}")
    }
  }

  test("q245: coverage is non-decreasing in vocabulary size, within [0, 1]") {
    val r = rows("q245_coverage_curve").sortBy(_.getInt(0))
    assert(r.map(_.getInt(0)).toSeq == Seq(100, 1000, 10000))
    r.foreach { row =>
      val c = row.getDouble(3)
      assert(c >= 0.0 && c <= 1.0)
    }
    r.sliding(2).foreach { case Array(a, b) =>
      assert(b.getDouble(3) >= a.getDouble(3) - 1e-9)
    }
  }

  test("q246: per-source counts partition correctly") {
    val r = rows("q246_lang_mismatch")
    assert(r.nonEmpty)
    r.foreach { row =>
      assert(row.getLong(2) + row.getLong(3) <= row.getLong(1),
        "unknown + mismatch must not exceed n_docs")
    }
  }

  test("q247: phrase counts equal q26's positional join on repeated and reversed terms") {
    // pins the pos - 1 shift and the distinct-position assumption behind
    // array_intersect: overlapping, doubled and reversed occurrences
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-q247").toString
    Seq((1L, "hash join hash join"), (2L, "hash hash join join"),
        (3L, "join hash join"), (4L, "join hash"))
      .toDF("doc_id", "text")
      .withColumn("source", org.apache.spark.sql.functions.lit("s"))
      .write.parquet(s"$dir/documents.parquet")
    val got = graft.queries.SearchQueries.q247PhraseFromIndex(spark, dir)
      .as[(Long, Long)].collect().sorted.toSeq
    val viaJoin = graft.operators.Ranking.phraseCount(
        spark.read.parquet(s"$dir/documents.parquet"), "text", "doc_id", Seq("hash", "join"))
      .as[(Long, Long)].collect().sorted.toSeq
    assert(got == Seq((1L, 2L), (2L, 1L), (3L, 1L)))
    assert(got == viaJoin)
  }

  test("q248: every minimal window spans at least the three distinct terms") {
    val r = rows("q248_min_window")
    assert(r.nonEmpty)
    r.foreach(row => assert(row.getLong(1) >= 3,
      s"a window covering 3 distinct terms needs >= 3 positions, got ${row.getLong(1)}"))
  }

  test("q249: compacted postings contain no tombstoned doc ids") {
    val r = rows("q249_tombstone_compaction")
    assert(r.nonEmpty)
    r.foreach { row =>
      val ids = row.getString(1).split(" ").map(_.toLong)
      assert(ids.forall(_ % 7 != 0), s"tombstoned id survived in '${row.getString(0)}'")
      assert(ids.length == row.getLong(2))
    }
  }

  test("q250: sketch set-op estimates respect set algebra bounds") {
    val r = rows("q250_kmv_setops")
    assert(r.nonEmpty)
    r.foreach { row =>
      val estU = row.getDouble(2)
      val estI = row.getDouble(3)
      assert(estU > 0.0)
      assert(estI >= 0.0)
      assert(estI <= estU + 1e-6, "intersection estimate exceeds union estimate")
    }
  }

  test("q251: Holt backtest emits a full-coverage split and finite errors") {
    val r = rows("q251_holt_backtest")
    assert(r.length == 1)
    val row = r.head
    assert(row.getLong(0) > 14, "need enough days for a 7-day holdout")
    assert(row.getDouble(3) >= 0.0 && !row.getDouble(3).isNaN)
    assert(row.getDouble(4) >= 0.0 && !row.getDouble(4).isNaN)
  }

  test("q252: every matched next purchase is at or after its view") {
    val r = rows("q252_next_purchase")
    assert(r.nonEmpty)
    val matched = r.filter(!_.isNullAt(3))
    assert(matched.nonEmpty, "fixture should produce some conversions")
    matched.foreach { row =>
      assert(row.getLong(4) >= 0, "gap must be non-negative")
      assert(row.getLong(3) == row.getLong(2) + row.getLong(4))
    }
  }

  test("q253: fertility >= 1 (every word is at least one subtoken) and chars >= subtokens") {
    val r = rows("q253_token_fertility")
    assert(r.nonEmpty)
    r.foreach { row =>
      val (nChars, nWords, nSub) = (row.getLong(3), row.getLong(4), row.getLong(5))
      assert(nSub >= nWords, "a whitespace token yields >= 1 BPE-ish piece")
      assert(nChars >= nSub, "every subtoken is >= 1 char")
      if (nWords > 0) assert(row.getDouble(6) >= 1.0)
    }
  }

  test("q254: authorities are 1e9-normalized, 15 rows, max attained") {
    val r = rows("q254_hits")
    assert(r.length == 15)
    r.foreach { row =>
      assert(row.getLong(1) > 0, "every ranked part has buyers")
      assert(row.getLong(2) >= 0 && row.getLong(2) <= 1000000000L)
    }
    assert(r.map(_.getLong(2)).max == 1000000000L,
      "the argmax authority part renormalizes to exactly 1e9")
  }

  test("q255: hits respect the eval/corpus split and the threshold") {
    val r = rows("q255_embed_decontaminate")
    assert(r.nonEmpty, "fixture should surface semantic contamination")
    r.foreach { row =>
      assert(row.getLong(0) >= 20, "flagged ids are corpus-side")
      assert(row.getLong(1) >= 1)
      assert(row.getLong(2) < 20, "closest match is eval-side")
      assert(row.getDouble(3) >= 0.30)
    }
  }

  test("q256: keeper election is consistent with q37's clusters") {
    val clusters = rows("q37_dup_clusters")
      .groupBy(_.getLong(1)).view.mapValues(_.map(_.getLong(0)).toSet).toMap
    val r = rows("q256_quality_survivorship")
    assert(r.length == clusters.size, "one keeper per q37 cluster")
    r.foreach { row =>
      val members = clusters(row.getLong(0))
      assert(row.getLong(1) == members.size, "n_members matches q37")
      assert(members.contains(row.getLong(2)), "keeper is a member")
      assert(members.size >= 2, "clusters are non-trivial")
    }
  }

  test("q257: bucket shares sum to 1 over at most 32 buckets") {
    val r = rows("q257_feature_hash")
    assert(r.length <= 32 && r.nonEmpty)
    r.foreach { row =>
      assert(row.getLong(0) >= 0 && row.getLong(0) < 32)
      assert(row.getLong(1) > 0 && row.getLong(2) >= row.getLong(1))
    }
    assert(math.abs(r.map(_.getDouble(3)).sum - 1.0) < 1e-3)
  }

  test("q258: Laplace noise is bounded by the 32-bit inverse-CDF tail") {
    val r = rows("q258_dp_counts")
    assert(r.nonEmpty)
    // |noise| <= b * ln(2^32) ~ 22.18 for a 32-bit uniform at b = 1
    r.foreach { row =>
      assert(math.abs(row.getDouble(3) - row.getLong(2)) <= 23.0)
    }
  }

  test("q259: streaming dedup emits every fingerprint exactly once across micro-batches") {
    val r = rows("q259_stream_dedup")
    assert(r.nonEmpty)
    assert(r.forall(_.getLong(1) == 1L), "a cross-batch state leak would re-emit")
    assert(r.map(_.getString(0)).distinct.length == r.length)
  }

  test("q260: LTV curve is non-decreasing within each cohort and consistent with size") {
    val r = rows("q260_cohort_ltv")
    assert(r.nonEmpty)
    r.groupBy(_.getString(0)).foreach { case (_, g) =>
      val sorted = g.sortBy(_.getLong(1))
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b.getDouble(3) >= a.getDouble(3))
        case _ => ()
      }
    }
    r.foreach { row =>
      val expect = row.getDouble(3) / row.getLong(2)
      assert(math.abs(row.getDouble(4) - expect) < 1e-4)
    }
  }

  test("q261: sequence NLL is non-negative and transition mass conserves") {
    val r = rows("q261_seq_perplexity")
    assert(r.nonEmpty)
    r.foreach { row =>
      assert(row.getLong(1) >= 1)
      assert(row.getDouble(2) >= 0.0)
    }
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val nEvents = ev.count()
    val nUsers = ev.select("user_id").distinct().count()
    assert(r.map(_.getLong(1)).sum == nEvents - nUsers,
      "every user contributes (events - 1) transitions")
  }

  test("q262: forget cascade conserves rows and fires on every table") {
    val r = rows("q262_forget_audit")
    assert(r.length == 3)
    r.foreach { row =>
      assert(row.getLong(1) == row.getLong(2) + row.getLong(3))
    }
    val m = r.map(row => row.getString(0) -> row.getLong(2)).toMap
    assert(m("customer") > 0 && m("orders") > 0)
    assert(m("lineitem") >= m("orders"),
      "each purged order cascades to >= 1 lineitem on this fixture")
  }

  test("q263: BPE winners are concatenations and max pair frequency never increases") {
    val r = rows("q263_bpe_learn").sortBy(_.getInt(0))
    assert(r.length == 5)
    r.foreach { row =>
      assert(row.getString(4) == row.getString(1) + row.getString(2))
      assert(row.getLong(3) > 0)
    }
    // a merge can only create pairs at most as frequent as the merged one
    r.sliding(2).foreach {
      case Array(a, b) => assert(b.getLong(3) <= a.getLong(3),
        s"round ${b.getInt(0)} freq ${b.getLong(3)} > round ${a.getInt(0)} ${a.getLong(3)}")
      case _ => ()
    }
  }

  test("q264: token totals strictly decrease per merge round; ratio >= 1 and consistent") {
    val r = rows("q264_bpe_compression").sortBy(_.getInt(0))
    assert(r.length == 6)
    r.sliding(2).foreach {
      case Array(a, b) => assert(b.getLong(1) < a.getLong(1),
        "every merge with positive frequency removes >= 1 symbol occurrence")
      case _ => ()
    }
    val t0 = r.head.getLong(1)
    r.foreach { row =>
      assert(math.abs(row.getDouble(2) - t0.toDouble / row.getLong(1)) < 1e-4)
    }
  }

  test("q265: DAU bounds new users; cumulative uniques match the distinct-user total") {
    val r = rows("q265_cumulative_uniques").sortBy(_.getString(0))
    assert(r.nonEmpty)
    r.foreach { row =>
      assert(row.getLong(2) <= row.getLong(1), "new users are active that day")
    }
    r.sliding(2).foreach {
      case Array(a, b) => assert(b.getLong(3) == a.getLong(3) + b.getLong(2))
      case _ => ()
    }
    val total = spark.read.parquet(s"$sfDir/events.parquet")
      .select("user_id").distinct().count()
    assert(r.last.getLong(3) == total)
  }

  test("q266: removing a channel never raises conversion; effects lie in [0, 1]") {
    val r = rows("q266_markov_attribution")
    assert(r.length == 4, "four non-purchase channels on this fixture")
    r.foreach { row =>
      assert(row.getDouble(1) > 0.0, "the base chain converts")
      assert(row.getDouble(2) <= row.getDouble(1) + 1e-12,
        "removal redirects paths to NULL, never adds conversion mass")
      val e = row.getDouble(3)
      assert(e >= 0.0 && e <= 1.0)
    }
  }

  test("q267: streamed EWMA covers every user and all events exactly once") {
    val r = rows("q267_stream_ewma")
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    assert(r.length == ev.select("user_id").distinct().count())
    assert(r.map(_.getLong(1)).sum == ev.count())
    r.foreach(row => assert(!row.getDouble(2).isNaN))
  }

  test("q268: every bucket's mean degree lies inside its power-of-two bin") {
    val r = rows("q268_degree_histogram")
    assert(r.nonEmpty)
    r.foreach { row =>
      val lo = row.getLong(0)
      val mean = row.getDouble(3)
      assert(mean >= lo && mean < 2 * lo, s"mean $mean outside [$lo, ${2 * lo})")
      assert(row.getLong(2) >= row.getLong(1) * lo)
    }
  }

  test("q269: normalization is monotone within source and pooled-bounded") {
    val r = rows("q269_quantile_normalize")
    assert(r.nonEmpty)
    val all = r.map(_.getLong(2))
    val (lo, hi) = (all.min, all.max)
    r.foreach { row =>
      assert(row.getLong(3) >= lo && row.getLong(3) <= hi)
    }
    r.groupBy(_.getString(1)).foreach { case (_, g) =>
      g.sortBy(row => (row.getLong(2), row.getLong(0))).map(_.getLong(3))
        .sliding(2).foreach {
          case Array(a, b) => assert(b >= a, "rank order must be preserved")
          case _ => ()
        }
    }
  }

  test("q270: decomposition reconstructs the series within rounding") {
    val r = rows("q270_stl_decompose")
    assert(r.nonEmpty)
    r.foreach { row =>
      val recon = row.getDouble(2) + row.getDouble(3) + row.getDouble(4)
      assert(math.abs(recon - row.getDouble(1)) < 1e-4,
        s"trend+seasonal+residual != revenue on ${row.getString(0)}")
    }
  }

  test("q271: the weighted median is a true half-mass split point") {
    val r = rows("q271_weighted_median")
    assert(r.length == 3)
    import org.apache.spark.sql.functions._
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_returnflag"), col("l_quantity").cast("long").as("qty"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("wc"))
      .collect().groupBy(_.getString(0))
    r.foreach { row =>
      val (flag, med) = (row.getString(0), row.getLong(1))
      val g = li(flag)
      val w = g.map(_.getLong(2)).sum
      val below = g.filter(_.getLong(1) < med).map(_.getLong(2)).sum
      val upto = g.filter(_.getLong(1) <= med).map(_.getLong(2)).sum
      assert(2 * below < w && 2 * upto >= w,
        s"$flag: $med is not the weighted median")
      assert(row.getLong(2) == w)
    }
  }

  test("q272: semantic-only pairs are inside q34 and outside q32") {
    val dis = rows("q272_modality_disagreement")
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dis.nonEmpty, "the fixture has paraphrase-style pairs")
    val emb = rows("q34_embed_pairs").map(r => (r.getLong(0), r.getLong(1))).toSet
    val ng = rows("q32_ngram_jaccard").map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dis.subsetOf(emb))
    assert(dis.intersect(ng).isEmpty)
  }

  test("q273: the four-way delta algebra equals the from-scratch join") {
    import org.apache.spark.sql.functions._
    val full = spark.read.parquet(s"$sfDir/orders.parquet")
      .join(spark.read.parquet(s"$sfDir/lineitem.parquet"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("l_extendedprice").cast("decimal(18,4)") *
          (lit(1) - col("l_discount").cast("decimal(18,4)"))).cast("double"), 2)
          .as("revenue"))
      .collect().map(_.toString).toSet
    assert(rows("q273_incremental_join").map(_.toString).toSet == full)
  }

  test("q274: checksums are nonzero and row counts match the tables") {
    val r = rows("q274_table_checksums")
    assert(r.length == 5)
    r.foreach { row =>
      val n = spark.read.parquet(s"$sfDir/${row.getString(0)}.parquet").count()
      assert(row.getLong(1) == n)
      assert(row.getLong(2) > 0)
    }
  }

  test("q275: k-core peeling only shrinks and every survivor meets the bound") {
    val r = rows("q275_kcore").sortBy(_.getInt(0))
    assert(r.length == 4)
    r.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getLong(1) <= a.getLong(1) && b.getLong(2) <= a.getLong(2))
      case _ => ()
    }
    assert(r.head.getLong(1) > 0, "the fixture graph has a 3-core-ish center")
  }

  test("q276: required sample size matches the 16·var/delta² rule from its own row") {
    val r = rows("q276_power_analysis")
    assert(r.length == 5)
    r.foreach { row =>
      val (mean, variance, req) = (row.getDouble(2), row.getDouble(3), row.getLong(4))
      val expect = math.ceil(16.0 * variance / math.pow(mean * 0.01, 2))
      // rounded outputs vs exact internals: allow 1-count slack
      assert(math.abs(req - expect) <= math.max(1.0, expect * 1e-4),
        s"${row.getString(0)}: $req vs $expect")
      assert(req > 0 && variance > 0)
    }
  }

  test("q277: per-prefix completions are rank-consecutive and frequency-sorted") {
    val r = rows("q277_autocomplete")
    assert(r.nonEmpty)
    r.groupBy(_.getString(0)).foreach { case (p, g) =>
      val sorted = g.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to sorted.length))
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b.getLong(3) <= a.getLong(3), s"prefix $p")
        case _ => ()
      }
      g.foreach(row => assert(row.getString(2).startsWith(p)))
    }
  }

  test("q278: the backlog drains to zero and never goes negative") {
    val r = rows("q278_open_order_aging").sortBy(_.getString(0))
    assert(r.nonEmpty)
    r.foreach { row =>
      assert(row.getLong(1) >= 0, s"negative backlog on ${row.getString(0)}")
    }
    assert(r.last.getLong(1) == 0L, "every line eventually ships")
    assert(math.abs(r.last.getDouble(2)) < 0.005)
  }

  test("q279: stylometric delta is non-negative over the full 30-word panel") {
    val r = rows("q279_stylometry")
    assert(r.nonEmpty)
    r.foreach { row =>
      assert(row.getLong(2) == 30, "every pair scores the same word panel")
      assert(row.getDouble(3) >= 0.0)
      assert(row.getString(0) < row.getString(1))
    }
  }

  test("q280: multimodal retrieval ranks are consecutive with cosine in [-1, 1]") {
    val r = rows("q280_multimodal_knn")
    assert(r.length == 30, "10 queries x top-3")
    r.groupBy(_.getLong(0)).foreach { case (_, g) =>
      assert(g.map(_.getInt(1)).sorted.toSeq == Seq(1, 2, 3))
      g.foreach { row =>
        assert(row.getDouble(3) >= -1.0 && row.getDouble(3) <= 1.0)
        assert(row.getLong(2) != row.getLong(0))
      }
    }
  }

  test("q281: the three effects reconstruct the actual delta within rounding") {
    val r = rows("q281_price_volume_mix")
    assert(r.nonEmpty)
    r.foreach { row =>
      val sum = row.getDouble(3) + row.getDouble(4) + row.getDouble(5)
      // per-part cent rounding drifts at most 1.5 cents per part
      val tol = 0.015 * row.getLong(2) + 0.05
      assert(math.abs(sum - row.getDouble(6)) <= tol,
        s"${row.getInt(0)}->${row.getInt(1)}: $sum vs ${row.getDouble(6)}")
    }
  }

  test("q282: l-diversity is bounded by group size and the flag is consistent") {
    val r = rows("q282_l_diversity")
    assert(r.nonEmpty)
    r.foreach { row =>
      assert(row.getLong(3) >= 1 && row.getLong(3) <= row.getLong(2))
      assert((row.getInt(4) == 1) == (row.getLong(3) < 2))
    }
  }

  test("q283: the jackknife SE is positive and small relative to the ratio") {
    val r = rows("q283_jackknife_ratio")
    assert(r.length == 1)
    val (n, ratio, se) = (r(0).getLong(0), r(0).getDouble(1), r(0).getDouble(2))
    assert(n > 10)
    assert(ratio > 0 && ratio < 10)
    assert(se > 0 && se < ratio,
      "daily blocks of a stable ratio give sub-ratio standard error")
  }

  test("q284: streamed Holt state covers every user with finite level and trend") {
    val r = rows("q284_stream_holt")
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    assert(r.length == ev.select("user_id").distinct().count())
    assert(r.map(_.getLong(1)).sum == ev.count())
    r.foreach { row =>
      assert(!row.getDouble(2).isNaN && !row.getDouble(2).isInfinite)
      assert(!row.getDouble(3).isNaN && !row.getDouble(3).isInfinite)
    }
  }

  test("q242: weights sum to ~1 and temperature upweights small sources") {
    val r = rows("q242_mix_temperature")
    val total = r.map(_.getLong(1)).sum.toDouble
    assert(math.abs(r.map(_.getDouble(2)).sum - 1.0) < 1e-3)
    // alpha < 1: every source smaller than proportional share gets MORE
    // than its proportional weight, larger sources get less
    r.foreach { row =>
      val prop = row.getLong(1) / total
      val w = row.getDouble(2)
      if (prop < 1.0 / r.length) assert(w >= prop)
      else if (prop > 1.0 / r.length) assert(w <= prop)
    }
  }
}
