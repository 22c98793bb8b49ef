package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Structural invariants of the round-15 work:
  *   - the md5-HLL behind q7 (the last rows-only entry, flipped to a
  *     full oracle this round) is ACCURATE in its harmonic branch —
  *     the fixture vocabulary (31 words) only ever exercises the
  *     linear-counting branch, so drive the raw-estimate path at a
  *     cardinality well past the 2.5m threshold and hold it to HLL's
  *     published error envelope;
  *   - the q366 curriculum rewrite (withGlobalRank + broadcast decile
  *     offsets, the round-14 `weak` fix) is ROW-IDENTICAL to the
  *     formulation it replaced (a decile-partitioned row_number) —
  *     the oracle hash must not move, so pin the equivalence at the
  *     row level too.
  */
class Round15Spec extends AnyFunSuite with SparkTestBase {

  test("md5-HLL harmonic branch: within 5% at 60k distinct values") {
    val values = spark.range(60000)
      .select(concat(lit("hll-card-"), col("id").cast("string")).as("word"))
    val r = graft.queries.ReferenceQueries.md5Hll(values).collect().head
    val est = r.getAs[Long]("approx_vocab")
    val raw = r.getAs[Double]("est_raw")
    val vEmpty = r.getAs[Long]("v_empty")
    // the branch under test: raw estimate far above the 2.5m = 10240
    // linear-counting threshold, so approx_vocab IS round(raw)
    assert(raw > 10240.0, s"raw=$raw should be in the harmonic branch")
    assert(est == math.round(raw), s"est=$est raw=$raw")
    assert(vEmpty < 4096L)
    // m = 4096 → standard error 1.04/√m ≈ 1.6%; 5% is > 3σ
    assert(math.abs(est - 60000.0) / 60000.0 < 0.05,
      s"HLL estimate $est vs 60000 exceeds 5%")
  }

  test("md5-HLL linear-counting branch: exact at fixture vocabulary") {
    // 31 distinct register hits → E = round(4096·ln(4096/4065)) = 31:
    // the q7 drift pin's arithmetic, asserted here on the helper
    // directly so a parameter change surfaces with a readable diff
    val r = graft.queries.ReferenceQueries
      .q7ApproxVocabulary(spark, sfDir).collect().head
    assert(r.getAs[Long]("approx_vocab") == 31L)
    assert(r.getAs[Long]("n_registers") == 31L)
    assert(r.getAs[Long]("v_empty") == 4065L)
  }

  // ---- BPE ranked encoder (q368) ----

  private def replayEncode(merges: Seq[(String, String)]) =
    element_at(graft.functions.BpeEncode(array(col("word")), merges), 1)
  private def rankedEncode(merges: Seq[(String, String)]) =
    element_at(graft.functions.BpeEncodeRanked(array(col("word")), merges), 1)

  private def assertRankedEqualsReplay(
      words: org.apache.spark.sql.DataFrame,
      merges: Seq[(String, String)], what: String): Unit = {
    val diff = words
      .select(col("word"), replayEncode(merges).as("replay"),
        rankedEncode(merges).as("ranked"))
      .filter(not(col("replay") === col("ranked")))
    assert(diff.isEmpty,
      s"ranked must equal replay on $what: ${diff.limit(5).collect().mkString(", ")}")
  }

  test("BpeEncodeRanked ≡ sequential replay on every corpus word (learned 5-merge table)") {
    val merges = graft.queries.TextQueries
      .bpeRounds(spark, sfDir, 5)._1.map(m => (m._2, m._3))
    assertRankedEqualsReplay(
      graft.queries.TextQueries.bpeSeed(spark, sfDir).select("word"),
      merges, "corpus words")
  }

  test("BpeEncodeRanked ≡ replay under the EXHAUSTION merge table (every learnable merge)") {
    // the corpus vocabulary admits at most Σ(len−1) = 107 merges; learn
    // until the pair table is empty (the batched learner's early-exit
    // path) and pin the equivalence under the full table — the deepest
    // rank interleaving this corpus can produce
    val (log, _) = graft.queries.TextQueries.bpeRoundsBatched(
      spark, sfDir, totalMerges = 1 << 20, maxBatch = 16)
    val merges = log.map(m => (m._2, m._3))
    assert(merges.size >= 30,
      s"exhaustion table unexpectedly small: ${merges.size}")
    assertRankedEqualsReplay(
      graft.queries.TextQueries.bpeSeed(spark, sfDir).select("word"),
      merges, s"corpus words at ${merges.size} merges")
    // every word fully merged ⇒ one token per word: the exhaustion
    // witness (no pair left unlearned)
    val multi = graft.queries.TextQueries.bpeSeed(spark, sfDir)
      .select(size(rankedEncode(merges)).as("n")).filter(col("n") =!= 1)
    assert(multi.isEmpty, "exhaustion table must fully merge every training word")
  }

  test("BpeEncodeRanked on unseen/adversarial words + null contract") {
    import spark.implicits._
    // Round14Spec's fixtures verbatim: self-merge ladders and
    // symbol-colliding concatenations — the shapes where a wrong
    // scan order diverges. NOTE these pins cover UNSEEN words too:
    // the proof sketch in BpeEncodeRanked's doc is for valid learned
    // tables, which this ladder is.
    val merges = Seq(("x", "x"), ("xx", "x"), ("a", "b"), ("ab", "ab"))
    val fixtures = Seq(
      "x", "xx", "xxx", "xxxx", "xxxxx", "xxxxxx",
      "abab", "ababab", "aabb", "abba", "abxxab",
      "", "q", "qqq", "xax", "axxxb")
    assertRankedEqualsReplay(fixtures.toDF("word"), merges, "adversarial words")
    val r = Seq(Tuple1(Seq("ab", "xxx"))).toDF("w")
      .select(graft.functions.BpeEncodeRanked(
        array(element_at(col("w"), 1), lit(null).cast("string")), merges).as("s"),
        graft.functions.BpeEncodeRanked(
          lit(null).cast("array<string>"), merges).as("n"))
      .collect()(0)
    assert(r.isNullAt(1), "NULL words array must encode to NULL")
    val segs = r.getSeq[scala.collection.Seq[String]](0)
    assert(segs(0) == Seq("ab"), s"'ab' must merge to one token: ${segs(0)}")
    assert(segs(1) == null, "NULL element must encode to NULL inner array")
  }

  test("q369 per-language estimates coincide with exact per-language vocab at fixture scale") {
    // every language's fixture vocabulary is far below the
    // linear-counting error floor (the q7 drift-pin argument, per
    // group): round(4096·ln(4096/V)) must equal the exact count
    val est = SparkEntry.queries("q369_hll_per_lang")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = graft.queries.ReferenceQueries.docWords(spark, sfDir)
      .join(spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("lang")), Seq("doc_id"))
      .select("lang", "word").distinct()
      .groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet)
    for ((l, n) <- exact)
      assert(est(l) == n, s"lang $l: estimate ${est(l)} vs exact $n")
  }

  test("q371 manifest invariants: non-tail sequences read exactly 512 tokens; bucket totals conserve") {
    val dir = "/root/testdata/sf0.01"
    val rows = Runner.released(spark) {
      SparkEntry.queries("q371_pack_manifest")(spark, dir)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(5)))
    }
    assert(rows.nonEmpty)
    val lastSeq = rows.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    for ((b, s, _, toks) <- rows) {
      if (s < lastSeq(b))
        assert(toks == 512L, s"bucket $b seq $s reads $toks tokens (must be 512)")
      else
        assert(toks >= 1L && toks <= 512L, s"tail of bucket $b reads $toks")
    }
    // conservation: the manifest's token mass per bucket equals the
    // packed corpus token mass per bucket (no token lost or doubled
    // by the interval transpose)
    val manifestMass = rows.groupBy(_._1).view.mapValues(_.map(_._4).sum).toMap
    val packedMass = Runner.released(spark) {
      graft.operators.Curation
        .packSequences(
          spark.read.parquet(s"$dir/documents.parquet")
            .select(col("doc_id"), col("text")),
          "text", "doc_id", seqLen = 512, buckets = 8)
        .groupBy("bucket").agg(sum(col("n_tok")).as("t"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    }
    for ((b, t) <- packedMass if t > 0)
      assert(manifestMass(b) == t, s"bucket $b: manifest $manifestMass vs packed $t")
  }

  test("q372 FIM invariants: selected rows split into three ≥1-token parts summing to n") {
    val rows = SparkEntry.queries("q372_fim_plan")(spark, "/root/testdata/sf0.01")
      .collect().map(r => (r.getLong(1), r.getBoolean(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    val (sel, rest) = rows.partition(_._2)
    assert(sel.nonEmpty && rest.nonEmpty, "the 50% coin must select both ways")
    for ((n, _, p, m, s) <- sel) {
      assert(p >= 1 && m >= 1 && s >= 1, s"FIM parts must be non-empty: $p $m $s")
      assert(p + m + s == n, s"parts must partition the doc: $p+$m+$s != $n")
    }
    for ((n, _, p, m, s) <- rest)
      assert(p == n && m == 0 && s == 0, "unselected docs pass through whole")
    // coin rate sanity: md5's first hex digit is uniform, so the
    // selected share among eligible (n >= 3) docs concentrates near 1/2
    val eligible = rows.filter(_._1 >= 3)
    val rate = sel.length.toDouble / eligible.length
    assert(rate > 0.4 && rate < 0.6, s"FIM rate $rate drifted from 1/2")
  }

  test("q373 accuracy: sketch quantiles sit inside the exact ±0.1-quantile envelope") {
    val dir = "/root/testdata/sf0.01"
    val est = SparkEntry.queries("q373_quantile_sketch")(spark, dir)
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(est.keySet == Set(0.5, 0.9, 0.99))
    // exact distribution: every per-doc token count, sorted
    val exact = spark.read.parquet(s"$dir/documents.parquet")
      .select(coalesce(
        graft.functions.AlnumWordCount(col("text")).cast("long"), lit(0L)).as("v"))
      .collect().map(_.getLong(0)).sorted
    def exactQ(p: Double): Long =
      exact(math.min(exact.length - 1, math.max(0, (p * (exact.length - 1)).toInt)))
    for ((p, e) <- est) {
      val lo = exactQ(math.max(0.0, p - 0.1))
      val hi = exactQ(math.min(1.0, p + 0.1))
      assert(e >= lo && e <= hi,
        s"p=$p est=$e outside exact envelope [$lo, $hi] (k=256 of n=${exact.length})")
    }
  }

  test("q374 grouped sketch: monotone quantiles and exact per-source sample sizes") {
    val dir = "/root/testdata/sf0.01"
    val rows = SparkEntry.queries("q374_quantile_sketch_by_source")(spark, dir)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
    val bySrc = rows.groupBy(_._1)
    val counts = spark.read.parquet(s"$dir/documents.parquet")
      .groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc.keySet == counts.keySet)
    for ((src, rs) <- bySrc) {
      val byP = rs.map(t => t._2 -> t._3).toMap
      assert(byP(0.5) <= byP(0.9) && byP(0.9) <= byP(0.99),
        s"$src: quantiles must be monotone: $byP")
      val ka = rs.head._4
      assert(ka == math.min(128L, counts(src)),
        s"$src: k_actual $ka != min(128, ${counts(src)})")
    }
  }

  test("q366 rewrite is row-identical to the decile-window formulation") {
    import org.apache.spark.sql.expressions.Window
    val dir = "/root/testdata/sf0.01"
    val got = Runner.released(spark) {
      SparkEntry.queries("q366_curriculum_order")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .sortBy(_._1)
    }
    // the replaced formulation, verbatim (correct but parallelism-capped
    // at 10 by the decile partition key — the round-14 weak)
    val deciled = graft.operators.Quantiles.ntileExact(
      graft.queries.TextQueries.logprobScores(spark, dir), 10,
      Seq(col("mean_logprob").desc, col("doc_id").asc), "decile")
    val u = conv(substring(md5(concat(lit("graft-cur-"),
      col("doc_id").cast("string"))), 1, 13), 16, 10).cast("long")
    val w = Window.partitionBy(col("decile"))
      .orderBy(col("u").asc, col("doc_id").asc)
    val want = Runner.released(spark) {
      deciled.withColumn("u", u)
        .withColumn("position", row_number().over(w).cast("long"))
        .select(col("doc_id"), col("decile"), col("position"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .sortBy(_._1)
    }
    assert(got.length == want.length && got.length > 0)
    assert(got.sameElements(want),
      s"first diff: ${got.zip(want).find(p => p._1 != p._2)}")
  }
}
