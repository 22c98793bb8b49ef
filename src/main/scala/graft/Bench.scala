package graft

import scala.jdk.CollectionConverters._
import scala.util.Try
import com.fasterxml.jackson.databind.ObjectMapper

/** Benchmark main — runs the headline query set on
  * `SPARK_GRAFT_SF_DIR` and prints one JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...,"cores":...}`.
  *
  * The headline set covers every engine area (index build, relational
  * joins/windows, dedup, similarity, text analysis, event windows) —
  * it is the per-round scaling signal against BASELINE.md, not a
  * micro-benchmark: each entry is an end-to-end plan execution
  * (scan → shuffle(s) → action).
  */
object Bench {

  /** One per engine area; names must exist in SparkEntry.queries
    * (spec-guarded — a missing name would record a failed -1 here).
    */
  private[graft] val Headline = Seq(
    "q1_inverted_index",
    "q10_pricing_summary",
    "q11_revenue_by_nation",
    "q14_window_topn",
    "q18_asof_join",
    "q20_lang_id",
    "q22_token_counts",
    "q30_exact_dedup",
    "q31_minhash_lsh",
    "q9_bm25",
    "q33_simhash",
    "q40_knn_brute",
    "q42_ann_ivf",
    "q50_hourly_windows",
    "q70_curation",
    "q52_running_total",
    "q77_simhash64_pairs",
    "q38_dedup_apply",
    "q80_ann_ivf_scaled",
    "q88_logfreq_quality",
    "q89_semantic_dedup",
    "q97_dedup_cross_corpus",
    "q99_kmeans",
    "q101_passage_dedup",
    "q110_pq_adc_knn",
    "q111_click_attribution",
    "q115_textrank",
    "q117_index_compaction",
    "q122_funnel",
    "q124_ann_recall",
    "q126_incremental_agg",
    "q202_max_concurrency",
    "q214_binned_median",
    // index-serving hot path: BM25 top-k through the bounded TopKAgg and
    // the boolean serve from the term-filtered postings — the
    // user-facing read side of the index the engine builds, promoted per
    // round-7 verdict
    "q234_bm25_topk",
    "q237_serve_from_index",
    // round-8 flagships: the iterative BPE vocabulary learner (the
    // tokenizer-construction loop), bipartite HITS (bounded-rounds
    // graph family), and Markov removal-effect attribution (windowed
    // journey build + driver-bounded chain solve)
    "q263_bpe_learn",
    "q254_hits",
    "q266_markov_attribution",
    // round-9 flagships: the batched BPE learner (the 32k-vocab scale
    // path, hash-proved equal to sequential) and seed-conditioned
    // personalized PageRank over the shared bipartite purchase graph
    "q288_bpe_learn_batched",
    "q289_personalized_pagerank",
    // round-10 flagship: binary-quantization ANN — the 1-bit serving
    // rung (16 B/vector codes, xor+popcount shortlist, candidate-sized
    // exact rerank)
    "q301_binary_quant_ann",
    // round-10 continued: the stupid-backoff trigram LM (three count
    // aggs + five keyed scoring joins — the sharded n-gram serving
    // plan), delta-frontier weighted shortest paths, and the k-truss
    // support peel (wedge joins + edge-keyed semi-joins per round)
    "q319_backoff_lm",
    "q320_weighted_sssp",
    "q321_ktruss",
    // round-10 continued: the normalized LM complement (Kneser-Ney —
    // q319's serving joins plus the type-grain normalization aggs),
    // DSIR importance resampling (token-grain hash aggs + a 1024-row
    // broadcast model), and Rocchio PRF (two-pass retrieval with
    // data-dependent expansion terms through bm25Dynamic)
    "q322_kneser_ney_lm",
    "q323_importance_resampling",
    "q326_rocchio_prf",
    // round-11 flagships: the LM perplexity quality gate (q319's model
    // serving plus the exact distributed ntile — the curation capstone)
    // and exact-substring dedup (fingerprint-only anchor pass +
    // window-sorted consecutive-pair lcp extension)
    "q333_perplexity_gate",
    "q334_exact_substrings",
    // round-11 continued: SymSpell spell correction (delete-neighborhood
    // candidate join, vocabulary-grain — the completeness-proved fuzzy
    // lookup)
    "q341_spell_correct",
    // round-12 flagship: the exact-substring cut — q334's anchor/lcp
    // machinery plus the (doc, pos)-later victim rule, a token-grain
    // cut merge and the per-doc rebuild (the operator that actually
    // shrinks the corpus)
    "q344_substring_dedup_apply",
    // round-13 flagship: the Gopher repetition gate — document-local
    // exact n-gram character masses in one fused native pass, zero
    // shuffles (the quality dimension the C4-style funnel misses)
    "q354_gopher_repetition",
    // round-14: the leakage-safe split re-runs the full near-dup pair
    // graph + CC + join (q38-class cost — it must pay its way visibly)
    // and the Neyman stratified sample (corpus moments + driver
    // allocation + per-stratum rank); plus the round-14 flagship —
    // BPE APPLY, the tokenize-everything corpus pass under the learned
    // merge table
    "q358_leakage_safe_split",
    "q356_neyman_sample",
    "q360_bpe_apply",
    // round-15: the rank-priority BPE encoder — the |merges|-independent
    // production kernel beside q360's sequential replay; the pair in one
    // sweep keeps the kernels' relative cost visible per round
    "q368_bpe_apply_ranked",
    // round-16: the unigram-LM (SentencePiece-style) tokenizer corpus
    // pass — seed + 2 EM rounds + Viterbi apply — and the DoReMi
    // mixture-reweighting trajectory (one corpus-grain NLL agg + 5
    // driver EG rounds): the second production tokenizer family and
    // the data-mixing optimizer, priced beside the BPE pair
    "q378_unigram_apply",
    "q381_doremi_mixture")

  /** The top-5 movers of `cur` against `prevLine`, the full line of an
    * earlier sweep, by relative change: name -> (previous, current)
    * seconds. Empty unless `prevLine` parses and was recorded at `sfDir`
    * with `cores` (`SPARK_GRAFT_CPUS`), since minima of two datasets or
    * two core counts do not compare. An entry that failed (-1) or is
    * absent on either side is skipped.
    */
  private[graft] def movers(prevLine: Option[String], sfDir: String, cores: String,
      cur: Seq[(String, Double)]): Seq[(String, (Double, Double))] = {
    val prev = prevLine
      .flatMap(l => Try(new ObjectMapper().readTree(l)).toOption)
      .filter(p => p.path("sf").asText == sfDir && p.path("cores").asText == cores)
      .map(_.path("queries").properties.asScala
        .map(e => e.getKey -> e.getValue.asDouble(-1.0)).toMap)
      .getOrElse(Map.empty[String, Double])
    cur.flatMap { case (k, v) =>
      prev.get(k).collect { case p if p > 0 && v >= 0 => (k, p, v) }
    }.sortBy { case (_, p, v) => -math.abs(v - p) / p }
      .take(5).map { case (k, p, v) => k -> (p, v) }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Runner.session(s"local[$cpus]", 32)

    // JVM warmup: run every headline plan once at a small SF so the
    // measured runs see JIT-compiled expression paths (the interpreted
    // higher-order-function expressions are ~20x slower before C2 kicks
    // in), then once more on a trivial table for classloading. sf0.01,
    // not sf0.001: the tiny corpus executes the HOF lambdas too few times
    // to reach C2's invocation thresholds, which showed up as occasional
    // 8-10x first-measurement outliers on the lambda-heavy queries.
    // Same action as the measured loop, so warmup JITs the same
    // expression paths (a count-pruned warmup would skip them).
    val warmDir = "/root/testdata/sf0.01"
    if (new java.io.File(warmDir).isDirectory)
      Headline.foreach(Runner.run(spark, _, warmDir))
    spark.read.parquet(s"$sfDir/nation.parquet").count()

    // Timing: 4 INTERLEAVED full-list passes, per-query MIN across passes.
    // The host shows occasional multi-second contention windows lasting
    // tens of seconds; back-to-back reps of ONE query can both land inside
    // such a window (round 4's artifact mis-reported steady-state by up to
    // 8x that way). Interleaving spaces a query's reps minutes apart, so a
    // single bad window can inflate at most one of its four samples.
    // A failed run records -1 for the query.
    val reps = 4
    val samples = collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    for (_ <- 1 to reps; name <- Headline)
      samples(name) = Runner.run(spark, name, sfDir).fold(_ => -1.0, _.sec) :: samples(name)
    def across(pick: List[Double] => Double): Seq[(String, Double)] =
      Headline.map { name =>
        val secs = samples(name)
        name -> (if (secs.exists(_ < 0)) -1.0 else pick(secs))
      }
    val results = across(_.min)
    // Drift decidability (round-13 verdict): the min alone cannot
    // separate one-JVM sweep drift from a plan regression — a +71%
    // mover with an unchanged plan stayed a "watch item" because the
    // artifact held no variance information. Emit each query's MAX
    // across the interleaved passes alongside the min: a wide
    // (max ≫ min) band says the mover's worst samples were contention
    // or GC-pressure windows (drift); a tight band that still moved
    // versus the previous round is a real regression. Extra top-level
    // key — the driver's "queries" parse is untouched.
    val spreads = across(_.max)
    // apples-to-apples vs BASELINE.md: end-to-end index build of the
    // reference's own 355-doc corpus (its checker budget is 200 s).
    // min-of-2 for the same contention-window reason as the query sweep.
    val refManifest = "/root/reference/checker/test.txt"
    val refResults =
      if (new java.io.File(refManifest).isFile) {
        val secs = (1 to 2).map { _ =>
          val out = java.nio.file.Files.createTempDirectory("graft-bench-index").toString
          val t0 = System.nanoTime()
          val ok = Try(IndexJob.run(spark, refManifest, "/root/reference/checker", out)).isSuccess
          if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
        }
        Seq("index_reference_corpus" ->
          (if (secs.exists(_ < 0)) -1.0 else secs.min))
      } else Nil
    // an entry whose input is missing on this host is named, not dropped
    val absent = if (refResults.isEmpty) Seq("index_reference_corpus") else Nil
    absent.foreach(a => System.err.println(s"[bench] $a absent: $refManifest not found"))

    val all = results ++ refResults
    val qs = all.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val mx = spreads.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val ab = absent.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = all.map(_._2).filter(_ >= 0).sum
    val fullLine =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"reps":$reps,"max":$mx,"absent":$ab,"sf":"$sfDir","cores":"$cpus"}"""

    // Artifact self-containment (round-14 verdict): the driver captures
    // only the LAST 2000 chars of stdout, and the full per-query
    // min+max line outgrew that window (BENCH_r14.json: parsed null,
    // tail cut mid-map). So: the complete line goes to a FILE (and to
    // stdout first, for humans reading the raw log), and the LAST line
    // printed is a compact summary — total, entry count, reps, the
    // top-5 most expensive entries, and the top-5 movers against the
    // full line this run replaces (see [[movers]]) — sized to survive
    // the capture window whole.
    // The committed path is reserved for the CANONICAL sweep (the default
    // sf0.1 dataset): an ad-hoc run on /tmp/sf1 etc. would otherwise
    // silently clobber the round's record. Non-canonical runs default to
    // a /tmp path instead; SPARK_GRAFT_BENCH_FULL still overrides both.
    val canonicalSf = sfDir == "/root/testdata/sf0.1"
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL",
      if (canonicalSf) "bench/full_latest.json"
      else "/tmp/graft_bench_full_noncanonical.json")
    val fullFile = java.nio.file.Paths.get(fullPath)
    val prevLine = Try(java.nio.file.Files.readString(fullFile)).toOption
    Try {
      if (fullFile.getParent != null) java.nio.file.Files.createDirectories(fullFile.getParent)
      java.nio.file.Files.writeString(fullFile, fullLine + "\n")
    }
    val mv = movers(prevLine, sfDir, cpus, all)
      .map { case (k, (p, v)) => "\"" + k + f"""\":[$p%.3f,$v%.3f]""" }
      .mkString("{", ",", "}")
    val top5 = all.filter(_._2 >= 0).sortBy(-_._2).take(5)
      .map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")

    println(fullLine)
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","entries":${all.size},"reps":$reps,"top5":$top5,"movers_prev_cur":$mv,"full":"$fullPath","sf":"$sfDir"}""")
    System.out.flush() // forked-JVM stdout is pipe-buffered; the JSON line must land
    spark.stop()
  }
}
