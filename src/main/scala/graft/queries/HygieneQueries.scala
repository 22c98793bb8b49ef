package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Curation, Dedup, TextAnalysis}
import graft.sources.{Documents, Relational}

/** Corpus-hygiene query pack (round 7): incremental cross-corpus dedup
  * (q97), deterministic language rebalancing (q98), data-dependent
  * length gating (q100), passage-level exact dedup applied (q101), and
  * PII redaction (q102). Every query is hash-oracle-checked; the
  * data-dependent parameters (per-language counts, length percentiles)
  * are recomputed identically by the oracle so thresholds can never
  * drift between engines.
  */
object HygieneQueries {

  /** Source number: the fixture's `source` column is `src<N>`; the
    * "old corpus" is N < 10, the "new increment" N >= 10.
    */
  private def srcNum = substring(col("source"), 4, 10).cast("int")

  /** q97: incremental corpus dedup — the nightly-crawl shape: documents
    * from the NEW sources (src10-src19) that survive near-dup screening
    * (retained-shingle Jaccard >= 0.05, q32's threshold) against the
    * standing OLD corpus (src0-src9). Candidates come from the shared-
    * shingle equality join across the two corpora — no within-corpus
    * pair is ever generated, and the anti-join right side is the tiny
    * matched-id set ([[Dedup.dedupAgainstCorpus]]).
    */
  def q97DedupCrossCorpus(spark: SparkSession, dir: String): DataFrame = {
    val d = Documents.spread(spark, dir)
    Dedup.dedupAgainstCorpus(
      d.filter(srcNum >= 10), d.filter(srcNum < 10),
      "text", "doc_id", threshold = 0.05)
  }

  /** q98: deterministic language rebalancing — downsample every language
    * to the size of the SMALLEST one (the class-balance step before
    * training a language-ID or quality model). Per-language rates are
    * data-derived (min_count/count, from one languages-sized aggregate),
    * and the kept set is the md5-fraction coin of [[Curation
    * .sampleByRates]]: a pure function of the doc id — stable under
    * re-runs, re-partitioning and appends, with nested samples across
    * rate changes. The oracle recomputes the same counts and the same
    * `floor(rate·2^24)` hex bound, so the kept sets agree row-for-row.
    */
  def q98RebalanceSample(spark: SparkSession, dir: String): DataFrame = {
    val d = Documents.spread(spark, dir)
    // languages-sized aggregate (bounded driver state, like IVF seeds)
    val counts = d.groupBy("lang").agg(count(lit(1)).as("cnt")).collect()
    val minC = counts.map(_.getLong(1)).min
    val rates = counts.map(r => r.getString(0) -> minC.toDouble / r.getLong(1)).toMap
    Curation.sampleByRates(d, "lang", "doc_id", rates)
      .select(col("doc_id"), col("lang"), col("source"))
  }

  /** q100: data-dependent length gate — drop documents below the 10th or
    * above the 99th percentile of corpus token count (the too-short /
    * too-long heuristic every web-corpus pipeline applies, with
    * thresholds measured from the corpus rather than hard-coded).
    * Token counts come from the shared byte-wise tokenizer; the two
    * thresholds are ONE exact interpolated-percentile aggregate (Spark
    * `percentile` == DuckDB `quantile_cont`, q58's parity) broadcast
    * back over the corpus. Scale note: exact percentile holds sorted
    * per-group state — at 100 TB swap in `approx_percentile` (t-digest,
    * mergeable map-side), spec-asserted near the exact result, same as
    * the q58 trade.
    */
  def q100LengthGate(spark: SparkSession, dir: String): DataFrame = {
    val wc = Documents.spread(spark, dir).select(
      col("doc_id"),
      graft.functions.AlnumWordCount(col("text")).cast("long").as("n_words"))
    val th = wc.agg(
      round(expr("percentile(n_words, 0.10)"), 6).as("lo"),
      round(expr("percentile(n_words, 0.99)"), 6).as("hi"))
    wc.crossJoin(broadcast(th))
      .filter(col("n_words") >= col("lo") && col("n_words") <= col("hi"))
      .select(col("doc_id"), col("n_words"))
  }

  /** q101: passage-level exact dedup APPLIED — C4/RefinedWeb-style: cut
    * every document into non-overlapping 5-word passages, keep only each
    * distinct passage's globally FIRST occurrence (min (doc, position)),
    * and rebuild document text from the survivors
    * ([[Dedup.passageDedup]]). The fixture corpus repeats ~260 5-word
    * passages across documents, so the rewrite is non-trivial.
    */
  def q101PassageDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.passageDedup(Documents.spread(spark, dir), "text", "doc_id", passageWords = 5)

  /** q102: PII redaction — replace e-mails, IPv4s, and card-like digit
    * runs with typed placeholders and count redacted spans
    * ([[TextAnalysis.piiScrub]]). The fixture corpus contains no PII, so
    * here the query verifies the scrub is a clean identity (zero counts,
    * text byte-equal through both engines' regex stacks — patterns are
    * RE2-compatible by construction); redaction behavior itself is
    * pinned on synthetic PII in `TextAnalysisSpec`.
    */
  def q102PiiScrub(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.piiScrub(Documents.spread(spark, dir), "text", "doc_id")

  /** q103: maximal duplicated-span extraction (substring-dedup
    * primitive, [[Dedup.dupSpans]]) — per document, the maximal runs of
    * consecutive positions whose 3-gram also appears in another
    * document. Stride-1 and maximal, so unlike q101's passage grid it
    * has no boundary blindness; the oracle mirrors the islands-and-gaps
    * window arithmetic exactly.
    */
  def q103DupSpans(spark: SparkSession, dir: String): DataFrame =
    Dedup.dupSpans(Documents.spread(spark, dir), "text", "doc_id", n = 3)

  /** q334: longest duplicated substrings — the EXACT-substring rung of
    * the dedup ladder ([[Dedup.exactSubstrings]]: Lee et al. 2022's
    * suffix-array dedup as a bounded sorted-anchor pipeline), between
    * q103's per-doc duplicated-span MARKING (which says "this region of
    * this doc is duplicated somewhere") and q101's fixed-grid passage
    * removal: this one returns the duplicated substring ITSELF with
    * both occurrences, pairing occurrences of each 5-gram anchor
    * (2..256 occurrences — the cap enforced, q312's discipline) in
    * window-sorted order and extending consecutive pairs by token-lcp
    * up to 64 tokens. Top-50 by (length desc, ids). The oracle mirrors
    * the anchor/sort/lead/lcp arithmetic with raw k-gram strings where
    * the engine groups by their md5 — the hash IS the fingerprint≡text
    * grouping proof. Round11Spec pins the span-length agreement with
    * q103 on a two-doc fixture plus cap and left-maximality semantics.
    */
  def q334ExactSubstrings(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactSubstrings(Documents.spread(spark, dir), "text", "doc_id",
        k = 5, window = 64, anchorCap = 256)
      .orderBy(col("len_tokens").desc, col("doc_a"), col("pos_a"),
        col("doc_b"), col("pos_b"))
      .limit(50)

  /** q344: exact-substring dedup APPLIED — q334 finds the duplicated
    * spans; this is the production cut ([[Dedup.exactSubstringApply]],
    * the Lee et al. 2022 step that actually shrinks the corpus, and the
    * substring tier's analog of q38's near-dup apply): every pair ≥ 10
    * tokens has its (doc, pos)-later occurrence cut at token grain, and
    * every document is re-emitted with its surviving text. The oracle
    * composes the identical cut rule onto q334's pair CTE (no top-50 —
    * the apply consumes the FULL pair set), so a wrong victim choice, a
    * mis-merged overlap, or an off-by-one in the cut range all fail the
    * hash on `text_kept` itself.
    */
  def q344SubstringDedupApply(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactSubstringApply(Documents.spread(spark, dir), "text", "doc_id",
      k = 5, window = 64, anchorCap = 256, minLen = 10)

  /** q104: column profile over `lineitem` — the ANALYZE-style stats
    * pass ([[graft.sources.Tables.profile]]): one scan, one row per
    * column with nulls / exact distincts / numeric min-max.
    */
  def q104TableProfile(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.profile(
      Relational.read(spark, dir, "lineitem"),
      Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount", "l_returnflag", "l_linestatus"))

  /** q105: BPE first-merge statistics — the inner loop of byte-pair-
    * encoding tokenizer training: the 20 most frequent ADJACENT symbol
    * pairs (initial symbols = characters) across the corpus, each word
    * occurrence contributing its pairs. The pair counting runs over the
    * VOCABULARY-sized word-frequency table (weighting by occurrence
    * count), never per corpus token — the standard trick that makes BPE
    * training corpus-size-independent per merge: one corpus-token
    * aggregation up front, then every merge iteration is
    * vocabulary-sized. Top-20 is a TakeOrdered under the total
    * (count desc, pair asc) order.
    */
  def q105BpePairs(spark: SparkSession, dir: String): DataFrame = {
    val wf = Documents.spread(spark, dir)
      .select(graft.functions.AlnumTokens(col("text")))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    wf.filter(length(col("word")) >= 2)
      .select(col("freq"),
        explode(transform(
          sequence(lit(1), length(col("word")) - 1),
          i => col("word").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(sum(col("freq")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(20)
  }

  /** q106: equi-width histogram of `l_extendedprice` — the profiling
    * complement of q104: 10 buckets over the data-derived [min, max]
    * range (two passes: one 1-row min/max aggregate broadcast back, one
    * bucket aggregation). Bucket arithmetic is the same IEEE double
    * expression on both engines, so edges bin identically.
    */
  def q106Histogram(spark: SparkSession, dir: String): DataFrame = {
    val li = Relational.read(spark, dir, "lineitem")
      .select(col("l_extendedprice").as("x"))
    val mm = li.agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    li.crossJoin(broadcast(mm))
      .select(least(floor((col("x") - col("mn")) / ((col("mx") - col("mn")) / 10.0)), lit(9.0))
        .cast("int").as("bucket"),
        col("mn"), col("mx"))
      .groupBy("bucket", "mn", "mx")
      .agg(count(lit(1)).as("cnt"))
      .select(
        col("bucket"),
        round(col("mn") + col("bucket") * (col("mx") - col("mn")) / 10.0, 6).as("lo"),
        round(col("mn") + (col("bucket") + 1) * (col("mx") - col("mn")) / 10.0, 6).as("hi"),
        col("cnt"))
  }

  /** q138: deterministic weighted (priority) sampling — per-source top-20
    * documents by the priority key u/w, where u is the md5-fraction coin
    * of the doc id (the q98/q71 reproducibility idiom: pure function of
    * the id — stable under re-runs, re-partitioning, and appends) and w
    * is the document's size weight. Low key ⇔ high weight × luck, so
    * inclusion probability scales with w — the weighted-reservoir recipe
    * (Efraimidis-Spirakis priority family) with a deterministic coin
    * instead of an RNG. Arithmetic contract: u/2^52 is a power-of-two
    * scale (exact), the single divide by w is one correctly-rounded IEEE
    * op — both engines produce bit-identical keys. Scale: per-group
    * top-k via window here (the TopKAgg bounded-shuffle twin is proven
    * equivalent in q121); weights never leave their row, no global sort.
    */
  def q138WeightedSample(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = conv(
      substring(md5(concat(lit("graft-ws-"), col("doc_id").cast("string"))), 1, 13),
      16, 10).cast("long")
    val pri = (u.cast("double") / lit(4503599627370496.0)) /
      col("n_chars").cast("double")
    val w = Window.partitionBy(col("source"))
      .orderBy(col("priority").asc, col("doc_id").asc)
    Documents.spread(spark, dir)
      .select(col("source"), col("doc_id"), col("n_chars"), pri.as("priority"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 20)
      .select(col("source"), col("rank"), col("doc_id"), col("n_chars"),
        round(col("priority"), 9).as("priority"))
  }

  /** q154: k-anonymity audit over the release metadata — the governance
    * gate before publishing a corpus: any quasi-identifier combination
    * matching fewer than k=5 documents re-identifies its members. Audited
    * at TWO generalization levels of the QI lattice in one scan via
    * GROUPING SETS (the same Expand + single hash-agg plan as q129):
    * level 0 = (lang, source, length bucket), level 1 = (lang, source)
    * after suppressing the length column. Output is the per-level
    * violation summary — groups below k and total rows at risk. Scale:
    * the Expand doubles the scan rows but the shuffle carries only group
    * keys; the violation filter runs on the (tiny) group table.
    */
  /** q258: deterministic Laplace-calibration histogram — per
    * (source, lang) document counts with Laplace(b=1)-shaped noise
    * whose draw is a PUBLIC function of the group key
    * (md5(source|lang|dp)), the mechanism-calibration twin of a DP
    * release. NOT differential privacy: anyone can recompute the draw
    * from the key and subtract it, so the released counts are fully
    * invertible and must never be treated as a privacy-preserving
    * release — the op exists to pin the noise MECHANISM (inverse-CDF
    * shape, sensitivity-1 calibration, quantization) cross-engine so
    * that swapping in a secret per-release seed is the only change a
    * real DP deployment needs. DETERMINISM (and the reason the seed is
    * public here): the uniform is an exact 32-bit
    * dyadic rational from md5; the single ln is 1e9-quantized before
    * use (the q197/q218 idiom); everything else is integer/exact.
    * Scale shape: one |groups|-row hash agg + a per-row noise
    * projection — no join, no window, no corpus re-scan.
    */
  def q258DpCounts(spark: SparkSession, dir: String): DataFrame = {
    val v = conv(substring(md5(concat_ws("|", col("source"), col("lang"),
      lit("dp"))), 1, 8), 16, 10).cast("double")
    val u = v / 4294967296.0 - 0.5
    val lnq = round(log(greatest(lit(1e-12),
      lit(1.0) - lit(2.0) * abs(u))) * 1e9, 0).cast("long")
    Documents.spread(spark, dir)
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n"))
      .withColumn("lq", lnq)
      .withColumn("u", u)
      .select(col("source"), col("lang"), col("n"),
        round(col("n") +
          when(col("u") >= 0, -col("lq")).otherwise(col("lq")) / 1e9, 6)
          .as("noisy_n"))
  }

  /** q269: cross-source quantile normalization — every document's
    * length mapped onto the POOLED length distribution at its
    * within-source quantile: rank r of n_s in its source → midpoint
    * quantile p = (2r−1)/(2n_s) → pooled value at exact rank
    * ⌈p·N⌉. The batch-effect remover (microarray lineage) for corpus
    * stats: after it, every source's length distribution is the same
    * pooled shape, so cross-source comparisons see content, not
    * crawler truncation policy. DETERMINISM: ranks are total orders
    * (value, doc_id); the target rank is exact integer ceiling
    * arithmetic; the mapped value is a lookup, not an interpolation.
    * Scale shape: the within-source rank is a source-partitioned
    * window; the pooled rank uses `Quantiles.withGlobalRank`
    * (range-repartition, no single-partition sort); the mapping is one
    * equi-join on the rank — all exchanges keyed.
    */
  def q269QuantileNormalize(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Documents.spread(spark, dir).select(col("doc_id"), col("source"), col("n_chars"))
    val n = d.count()
    val r = d
      .withColumn("r", row_number().over(
        Window.partitionBy("source").orderBy(col("n_chars"), col("doc_id"))))
      .withColumn("ns", count(lit(1)).over(Window.partitionBy("source")))
      // 64-bit throughout: r is an INT row_number and a 32-bit product
      // (2r−1)·N overflows past ~2^31 rows×sources under ANSI (the
      // ScaleUp fixtures reach it); BIGINT on both factors keeps the
      // exact ceiling arithmetic at any corpus size. The oracle already
      // computes in BIGINT.
      .withColumn("k",
        expr(s"((2 * CAST(r AS BIGINT) - 1) * ${n}L + 2 * ns - 1) div (2 * ns)"))
    val pooled = graft.operators.Quantiles
      .withGlobalRank(d.select(col("n_chars"), col("doc_id")),
        Seq(col("n_chars"), col("doc_id")), "grank")
    r.join(pooled.select(col("grank").as("k"), col("n_chars").as("norm_chars")),
        Seq("k"))
      .select(col("doc_id"), col("source"), col("n_chars"), col("norm_chars"))
  }

  /** q282: l-diversity audit — k-anonymity q154's stronger sibling: a
    * quasi-identifier group that is large enough (k) can STILL leak if
    * every member shares the same sensitive value, so per
    * (lang, source) group this reports the group size AND the number
    * of distinct sensitive values (the length bucket standing in for
    * the sensitive attribute), flagging groups below l = 2. Publish
    * gates read both reports together. DETERMINISM: pure integer
    * counting. Scale shape: one (group, sensitive) dedup agg (the
    * only corpus-sized exchange) folded to group grain.
    */
  def q282LDiversity(spark: SparkSession, dir: String): DataFrame =
    Documents.spread(spark, dir)
      .select(col("lang"), col("source"),
        floor(col("n_chars") / 100).cast("long").as("len_b"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("len_b")).as("l_distinct"))
      .select(col("lang"), col("source"), col("n_rows"), col("l_distinct"),
        (col("l_distinct") < 2).cast("int").as("below_l2"))

  /** q325: t-closeness audit — the third rung of the release-privacy
    * ladder (k-anonymity q154 bounds GROUP SIZE, l-diversity q282
    * bounds sensitive-value VARIETY, t-closeness — Li, Li &
    * Venkatasubramanian 2007 — bounds sensitive-value DISTRIBUTION
    * SKEW): for every quasi-identifier group (lang, source), the Earth
    * Mover's Distance between the group's length-bucket distribution
    * and the corpus-wide one, flagged where EMD > 0.2. For an ORDERED
    * sensitive attribute with unit ground distance the EMD has the
    * exact closed form (1/(m−1))·Σᵢ|Σ_{j≤i}(p_j − q_j)| over the m
    * bucket values — and clearing denominators keeps it integral:
    * |Σ_{j≤i}(c_j/n_g − C_j/N)|·n_g·N = |N·Pc_i − n_g·PC_i| with Pc/PC
    * the integer prefix counts, so the per-group sum is an exact
    * DECIMAL aggregate (products in DECIMAL(38,0) — N·Pc overflows a
    * long near catalog scale) and the ONLY doubles are one division
    * per output group. DETERMINISM: exact integer/decimal arithmetic,
    * one fixed-order final division. Scale shape: one corpus scan →
    * (group, bucket) hash agg; the dense grid is |groups| × m with m
    * bounded by the bucket domain (a broadcast); prefix counts run
    * under a window PARTITIONED by group (never corpus-grain); the
    * global prefix rides the same m-row broadcast domain. Output =
    * one row per QI group.
    */
  def q325TCloseness(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = Documents.spread(spark, dir)
      .select(col("lang"), col("source"),
        floor(col("n_chars") / 100).cast("long").as("len_b"))
    // ONE corpus scan: glob and groups are rollups of the persisted
    // (group, bucket) grid, not separate scans of b
    val cells = b.groupBy("lang", "source", "len_b")
      .agg(count(lit(1)).as("c")).persist()
    val glob = cells.groupBy("len_b").agg(sum(col("c")).as("cg")).persist()
    val groups = cells.groupBy("lang", "source").agg(sum(col("c")).as("n_g"))
    val tot = glob.agg(sum(col("cg")).as("n_tot"), count(lit(1)).as("m"))
    val wg = Window.partitionBy(col("lang"), col("source"))
      .orderBy(col("len_b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dense = groups
      .crossJoin(broadcast(glob.select("len_b")))
      .join(cells, Seq("lang", "source", "len_b"), "left")
      .na.fill(0L, Seq("c"))
      .join(broadcast(glob), Seq("len_b"))
      .withColumn("pc", sum(col("c")).over(wg))
      .withColumn("pcg", sum(col("cg")).over(wg))
    dense
      .crossJoin(broadcast(tot))
      .select(col("lang"), col("source"), col("n_g"), col("m"), col("n_tot"),
        abs(col("n_tot").cast("decimal(19,0)") * col("pc").cast("decimal(19,0)")
          - col("n_g").cast("decimal(19,0)") * col("pcg").cast("decimal(19,0)"))
          .as("term"))
      .groupBy(col("lang"), col("source"), col("n_g"), col("m"), col("n_tot"))
      .agg(sum(col("term")).as("s"))
      .select(col("lang"), col("source"), col("n_g").as("n_rows"),
        when(col("m") > 1,
          round(col("s").cast("double")
            / (col("n_g").cast("double") * col("n_tot").cast("double")
              * (col("m") - 1)), 6))
          .otherwise(lit(0.0)).as("t_emd"))
      .withColumn("above_t02", (col("t_emd") > 0.2).cast("int"))
  }

  def q154KAnonymity(spark: SparkSession, dir: String): DataFrame = {
    Documents.spread(spark, dir)
      .select(col("lang"), col("source"),
        floor(col("n_chars") / 100).cast("long").as("len_b"))
      .createOrReplaceTempView("docs_q154")
    spark.sql(
      """SELECT level, count(*) AS n_violating_groups,
        |       sum(n_rows) AS n_rows_at_risk
        |FROM (
        |  SELECT CAST(grouping(len_b) AS INT) AS level, lang, source, len_b,
        |         count(*) AS n_rows
        |  FROM docs_q154
        |  GROUP BY GROUPING SETS ((lang, source, len_b), (lang, source)))
        |WHERE n_rows < 5
        |GROUP BY level""".stripMargin)
  }

  /** q155: small-files compaction plan — the table-maintenance step that
    * keeps a 100 TB lake readable: per source, documents are packed in
    * doc_id order into target-size output bins by START-offset bucketing
    * (`bin = ⌊(cum − size)/target⌋`, so a document starting inside bin b
    * belongs to b; every bin except a group's last holds ≥ target bytes
    * and overshoots by less than one document). One window exchange
    * partitioned by source computes the running offset; the plan rows —
    * per-bin file counts, byte totals and id ranges — are what a
    * compaction executor (or a `maxRecordsPerFile`-style writer) takes
    * as its manifest. Deterministic: integer cumulative sums, no RNG.
    * Scale: per-source window state is one running long; giant sources
    * shard hierarchically (bin within shard) with the same arithmetic.
    */
  def q155CompactionBins(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Documents.spread(spark, dir)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("cum", sum(col("n_chars")).over(w))
      .withColumn("bin",
        floor((col("cum") - col("n_chars")) / lit(4000)).cast("long"))
      .groupBy("source", "bin")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("bytes"),
        min(col("doc_id")).as("first_id"),
        max(col("doc_id")).as("last_id"))
  }

  /** q238: quality-filter cascade funnel — the per-stage survival report
    * of a Gopher/C4-style heuristic filter chain: (1) minimum length,
    * (2) mean word length in [3, 8], (3) type-token ratio ≥ 0.3,
    * (4) single-word dominance ≤ 10%. Stages gate CUMULATIVELY (a doc
    * reaches stage k only if it passed 1..k-1), and the output is the
    * funnel a curation team reads to see which rule costs what mass.
    * DETERMINISM: every predicate is an exact INTEGER comparison — mean
    * word length as 3·n_words ≤ Σlen ≤ 8·n_words, TTR as
    * 10·n_types ≥ 3·n_words, dominance as 10·max_freq ≤ n_words — no
    * division ever happens row-side; rates divide two exact longs once
    * per output row (guarded to 0 on an empty stage). Scale shape: ONE
    * map-side-combinable (doc, word) aggregation over the token stream,
    * one doc-grain agg, one 1-row fold; the funnel explode is 4 rows.
    */
  def q238FilterFunnel(spark: SparkSession, dir: String): DataFrame = {
    val wc = Documents.spread(spark, dir)
      .select(col("doc_id"), graft.functions.AlnumTokens(col("text")))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(sum(col("cnt")).as("n_words"),
        count(lit(1)).as("n_types"),
        max(col("cnt")).as("max_freq"),
        sum(length(col("word")) * col("cnt")).as("sum_len"))
    val st = Documents.spread(spark, dir).select(col("doc_id"))
      .join(wc, Seq("doc_id"), "left")
      .select(
        coalesce(col("n_words"), lit(0L)).as("nw"),
        coalesce(col("n_types"), lit(0L)).as("nt"),
        coalesce(col("max_freq"), lit(0L)).as("mf"),
        coalesce(col("sum_len"), lit(0L)).as("sl"))
    val p1 = col("nw") >= 50
    val p2 = lit(3) * col("nw") <= col("sl") && col("sl") <= lit(8) * col("nw")
    val p3 = lit(10) * col("nt") >= lit(3) * col("nw")
    val p4 = lit(10) * col("mf") <= col("nw")
    val f = st.agg(
      count(lit(1)).as("c0"),
      count(when(p1, 1)).as("c1"),
      count(when(p1 && p2, 1)).as("c2"),
      count(when(p1 && p2 && p3, 1)).as("c3"),
      count(when(p1 && p2 && p3 && p4, 1)).as("c4"))
    val names = Seq("min_words", "mean_word_len", "type_token_ratio", "repetition")
    f.select(explode(array((1 to 4).map { s =>
        struct(lit(s).as("stage"), lit(names(s - 1)).as("rule"),
          col(s"c${s - 1}").as("n_in"), col(s"c$s").as("n_pass"))
      }: _*)).as("x"))
      .select(col("x.stage"), col("x.rule"), col("x.n_in"), col("x.n_pass"),
        when(col("x.n_in") > 0,
          round(col("x.n_pass").cast("double") / col("x.n_in"), 6))
          .otherwise(lit(0.0)).as("pass_rate"))
  }

  /** q242: temperature-scaled source mixing weights — the multi-corpus
    * sampling-weight computation an LLM training pipeline runs before
    * interleaving sources: per source, token count n_s; sampling weight
    * w_s = n_s^α / Σ n_t^α at temperature α = 0.7 (upweights small
    * sources vs proportional sampling); and the implied epochs over each
    * source when drawing Σ n_t tokens under w (epochs > 1 ⇒ the source
    * repeats — the oversampling readout). DETERMINISM: n_s are exact
    * longs; n_s^α is computed once per SOURCE (|sources| values, not per
    * row) as exp(α·ln n) and quantized to 1e6 fixed point BEFORE the
    * (integer) sum, so the normalization denominator is exact; each
    * output divides integers through doubles once. Scale shape: one
    * map-side-combinable (source, token) count; everything after is
    * |sources|-grain.
    */
  def q242MixTemperature(spark: SparkSession, dir: String): DataFrame = {
    val tok = Documents.spread(spark, dir)
      .select(col("source"), graft.functions.AlnumTokens(col("text")))
      .groupBy("source").agg(count(lit(1)).as("n_tokens"))
    val afp = round(exp(lit(0.7) * log(col("n_tokens").cast("double"))) * 1e6)
      .cast("long")
    val w = tok.select(col("source"), col("n_tokens"), afp.as("a_fp"))
    val tot = w.agg(sum(col("a_fp")).as("sa"), sum(col("n_tokens")).as("st"))
    w.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"),
        round(col("a_fp").cast("double") / col("sa"), 6).as("weight"),
        round(col("a_fp").cast("double") / col("sa")
          * col("st").cast("double") / col("n_tokens"), 6).as("epochs"))
  }

  /** Shared constants of the q381 DoReMi family — literals in BOTH the
    * Spark loop and the DuckDB oracle emitter below; change in lockstep
    * or not at all. Weights live in 1e9 fixed point; per-token
    * log-probs in q88's 1e6 fixed point; eta is the exponentiated-
    * gradient step; smoothing mixes 10% uniform back in each round
    * (the DoReMi paper's u-smoothing, which also keeps every source's
    * weight strictly positive so no round can zero a domain out).
    */
  private val DoremiRounds = 5
  private val DoremiEta = 0.1

  /** round(x) with DuckDB's half-away-from-zero tie rule on the binary
    * double (q377's quantLn1e9 argument: BigDecimal.valueOf goes
    * through the double's shortest decimal form, which preserves
    * ordering against the exactly-representable .5 boundaries).
    */
  private def halfUp(x: Double): Long =
    java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact

  /** q381: DoReMi-style iterative mixture reweighting — the data-mixing
    * optimizer a training run consumes (Xie et al. 2023,
    * arXiv:2305.10429, simplified to a fixed reference model): per
    * source, an excess-loss proxy (the source's mean NLL under the
    * corpus unigram LM — q88's quantized log-prob chain re-grained to
    * source) drives [[DoremiRounds]] exponentiated-gradient rounds
    *   w ← normalize(w · exp(η·max(ℓ_s − ⟨ℓ⟩_w, 0))) with 10% uniform
    * smoothing, emitting (round, source, excess_q, weight_q) for the
    * whole trajectory. Sources whose loss exceeds the current
    * mixture-weighted mean gain weight — the "hard domains get more
    * data" update.
    *
    * DETERMINISM: per-token log-probs are quantized to 1e6 fixed point
    * BEFORE the per-source integer sum (q88's idiom — partition-order
    * invariant); weights/excesses are 1e9/1e6-fixed-point longs with
    * every double op a single division-or-exp per |sources|-grain
    * value, half-up-quantized immediately ([[halfUp]] = DuckDB round).
    * All cross-row sums in the rounds are exact integer arithmetic.
    *
    * Scale shape: corpus row count prices exactly ONE token scan →
    * vocabulary-grain freq join → map-side-combinable source-grain agg
    * (the q88 plan at coarser grain); the EG rounds are driver
    * arithmetic over the collected ≤|sources| NLL table (the q263
    * bounded-driver-round pattern — 20 rows here, never corpus data),
    * and the result is the (T+1)·|sources|-row trajectory built as a
    * local relation. At 100 TB the only heavy stage is the token agg,
    * which is the already-proven q88 shape.
    */
  def q381DoremiMixture(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.createDataset(doremiTrajectory(spark, dir)).toDF(
      "round", "source", "excess_q", "weight_q")
  }

  /** q381's trajectory rows (round, source, excess_q, weight_q) —
    * factored so q384 can consume the learned final-round weights
    * through the IDENTICAL computation (one definition of the NLL
    * chain and the EG rounds; the q372/q379 shared-columns
    * discipline at driver grain).
    */
  private[graft] def doremiTrajectory(spark: SparkSession, dir: String)
      : Seq[(Int, String, Long, Long)] = {
    val words = Documents.spread(spark, dir)
      .select(col("source"), graft.functions.AlnumTokens(col("text")))
      .select("source", "word")
    val freq = words.groupBy("word").agg(count(lit(1)).as("cnt")).persist()
    val total = freq.agg(sum(col("cnt")).as("total"))
    val nllRows = words.join(freq, Seq("word"))
      .crossJoin(broadcast(total))
      .select(col("source"),
        round(log(col("cnt").cast("double") / col("total").cast("double"))
          * 1e6).cast("long").as("lp"))
      .groupBy("source")
      .agg(count(lit(1)).as("n"), sum(col("lp")).as("slp"))
      .select(col("source"),
        round((-col("slp")).cast("double") / col("n")).cast("long")
          .as("nll_q"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    doremiRoundsFromNll(nllRows)
  }

  /** The EG rounds alone, from a per-source quantized-NLL table — the
    * driver-arithmetic half of [[doremiTrajectory]], factored so the
    * streaming gate (q385) can run the IDENTICAL update from its
    * complete-mode NLL state.
    */
  private[graft] def doremiRoundsFromNll(nllRows: Seq[(String, Long)])
      : Seq[(Int, String, Long, Long)] = {
    val srcs = nllRows.map(_._1)
    val nll = nllRows.toMap
    val k = srcs.length
    val out = Seq.newBuilder[(Int, String, Long, Long)]
    var w: Map[String, Long] = srcs.map(_ -> halfUp(1e9 / k)).toMap
    srcs.foreach(s => out += ((0, s, 0L, w(s))))
    for (t <- 1 to DoremiRounds) {
      val lbar = halfUp(srcs.map(s => w(s) * nll(s)).sum.toDouble / 1e9)
      val ex = srcs.map(s => s -> math.max(nll(s) - lbar, 0L)).toMap
      val u = srcs.map(s =>
        s -> w(s) * halfUp(math.exp(DoremiEta * ex(s).toDouble / 1e6) * 1e6))
        .toMap
      val su = srcs.map(u).sum
      w = srcs.map(s =>
        s -> halfUp(u(s).toDouble / su * 9e8 + 1e8 / k)).toMap
      srcs.foreach(s => out += ((t, s, ex(s), w(s))))
    }
    out.result()
  }

  /** q384: the DoReMi weights CONSUMED — the deterministic resample
    * plan a training run feeds its data loader: reshape the SAME
    * corpus volume (N = total docs) to q381's learned final-round
    * mixture by largest-remainder apportionment (q356's exact-integer
    * discipline: base = ⌊N·w_s/ΣW⌋, the N − Σbase leftovers to the
    * largest remainders, ties by source), plus the implied epochs per
    * source in 1e6 fixed point (target/n_s — epochs > 1 ⇒ the source
    * repeats, the oversampling readout q242 prints for temperature
    * mixing, here under the OPTIMIZED mixture). Closes the q379/q380
    * plan→consumption loop for the mixture optimizer: q381 learns,
    * q384 emits the executable allocation.
    *
    * DETERMINISM: the weights are [[doremiTrajectory]]'s (one
    * definition); apportionment is BigInt arithmetic (N·w_s can pass
    * 2⁶³ on a large corpus — the oracle mirrors with HUGEINT); the
    * only double op is the final epochs quantize. Scale shape: the
    * corpus prices the q381 token scan + one doc-count agg; the plan
    * itself is |sources|-grain driver arithmetic.
    */
  def q384DoremiResamplePlan(spark: SparkSession, dir: String): DataFrame = {
    val traj = doremiTrajectory(spark, dir)
    val w5 = traj.filter(_._1 == DoremiRounds).map(t => t._2 -> t._4).toMap
    val nd = Documents.spread(spark, dir).groupBy("source")
      .agg(count(lit(1)).as("n_docs"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    val srcs = nd.map(_._1)
    val ndMap = nd.toMap
    val n = nd.map(_._2).sum
    val tw = srcs.map(w5).sum
    val base = srcs.map { s =>
      (s, BigInt(n) * w5(s) / tw, BigInt(n) * w5(s) % tw) }
    val extra = (BigInt(n) - base.map(_._2).sum).toInt
    val bump = base.sortBy { case (s, _, rem) => (-rem, s) }
      .take(extra).map(_._1).toSet
    val rows = base.map { case (s, b, _) =>
      val target = (b + (if (bump(s)) 1 else 0)).toLong
      (s, ndMap(s), w5(s), target,
        halfUp(target.toDouble * 1e6 / ndMap(s)))
    }
    import spark.implicits._
    spark.createDataset(rows).toDF(
      "source", "n_docs", "weight_q", "target_docs", "epochs_q")
  }

  /** q244: length-bucketed batch padding efficiency — the batch-shaping
    * decision a training pipeline makes before fixing its bucketing: for
    * B ∈ {1, 2, 4, 8} equal-count length buckets (exact SQL-ntile
    * semantics over (token count, doc_id) via
    * [[graft.operators.Quantiles.ntileExact]] — no single-partition
    * sort), the padded token count if every doc pads to its bucket's
    * max, and the waste fraction. B=1 is "one global max-length batch"
    * (worst case); the curve shows the marginal value of finer
    * bucketing. DETERMINISM: bucket assignment is the exact rank closed
    * form; padded totals are Σ n_d·max_d exact longs; one division per
    * output row. Scale shape: ONE token-count agg (persisted, shared by
    * the four bucketings), each bucketing a range exchange + pid window
    * + B-row rollup.
    */
  def q244PaddingEfficiency(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = Documents.spread(spark, dir)
      .select(col("doc_id"), graft.functions.AlnumTokens(col("text")))
      .groupBy("doc_id").agg(count(lit(1)).as("n_tok"))
      .persist()
    val tot = perDoc.agg(sum(col("n_tok")).as("total_tokens"))
    val parts = Seq(1, 2, 4, 8).map { b =>
      graft.operators.Quantiles
        .ntileExact(perDoc, b, Seq(col("n_tok").asc, col("doc_id").asc), "bk")
        .groupBy("bk").agg(count(lit(1)).as("nd"), max(col("n_tok")).as("mx"))
        .agg(sum(col("nd") * col("mx")).as("padded_tokens"))
        .select(lit(b).as("n_buckets"), col("padded_tokens"))
    }
    parts.reduce(_ unionByName _)
      .crossJoin(broadcast(tot))
      .select(col("n_buckets"), col("total_tokens"), col("padded_tokens"),
        round((col("padded_tokens") - col("total_tokens")).cast("double")
          / col("padded_tokens"), 6).as("waste_frac"))
  }

  /** q300: the corpus card — the one-table datasheet a dataset release
    * ships (Datasheets-for-Datasets lineage): document/source/language
    * counts, token volume and vocabulary under the standard alnum
    * tokenizer, the exact-duplicate count, and mean tokens per
    * document. Composes the primitives the standalone queries verify
    * (q22 token semantics, q30's normalized fingerprint) into the
    * governance artifact. DETERMINISM: every stat is an exact integer
    * except the one final mean division, round 6. Scale shape: TWO
    * corpus scans total — one token aggregation (count + distinct
    * word), one doc-grain aggregation (counts + distinct fingerprint)
    * — then a constant-width stack; no joins, no windows.
    */
  def q300CorpusCard(spark: SparkSession, dir: String): DataFrame = {
    val d = Documents.spread(spark, dir)
    val tok = d
      .select(graft.functions.AlnumTokens(col("text")))
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("word")).as("vocab_size"))
    val doc = d.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("lang")).as("n_langs"),
      (count(lit(1)) - countDistinct(
        md5(graft.functions.TextFunctions.normText(col("text")))))
        .as("n_exact_dup_docs"))
    doc.crossJoin(broadcast(tok))
      .select(expr(
        """stack(7,
          |  'n_docs', CAST(n_docs AS DOUBLE),
          |  'n_sources', CAST(n_sources AS DOUBLE),
          |  'n_langs', CAST(n_langs AS DOUBLE),
          |  'n_tokens', CAST(n_tokens AS DOUBLE),
          |  'vocab_size', CAST(vocab_size AS DOUBLE),
          |  'n_exact_dup_docs', CAST(n_exact_dup_docs AS DOUBLE),
          |  'mean_tokens_per_doc',
          |    round(CAST(n_tokens AS DOUBLE) / n_docs, 6)
          |) AS (stat, value)""".stripMargin))
  }

  /** q356: Neyman-allocation stratified sample — the survey-statistics
    * completion of the sampling family (uniform q138 coin, rebalance
    * q98, streaming reservoirs q348/q349): a fixed budget of K = 200
    * documents split across sources PROPORTIONAL TO N_s·σ_s (stratum
    * size × stratum std-dev of `n_chars`) — the allocation that
    * minimizes the variance of the stratified estimate of the corpus
    * mean (Neyman 1934). A zero-variance stratum gets zero allocation:
    * sampling it teaches the estimator nothing.
    *
    * Determinism, end to end: per-source moments are EXACT integer
    * sums (n, Σx, Σx² — accumulated as DECIMAL(38,0), never LongType:
    * Σx² overflows 2⁶³ near 10⁹ docs of 10⁵ chars, exactly the scale
    * this engine targets, while DuckDB's BIGINT sum promotes to
    * HUGEINT — decimal keeps both engines exact to 10³⁸); σ_s is
    * σ² = Σx²/n − (Σx/n)² evaluated as double DIVISIONS of the exact
    * sums (division-first: the products stay ≤ the sums' magnitude, so
    * no intermediate ever outgrows a double's range; both engines run
    * the identical IEEE sequence, clamped at 0 against cancellation)
    * under one IEEE sqrt (correctly rounded — engine-identical);
    * the weight is NORMALIZED by the run's max raw weight before
    * quantizing — wq = floor(n·σ / max(n·σ) · 10⁶) — so wq ∈ [0, 10⁶]
    * and every downstream product (K·wq ≤ 2·10⁸, W ≤ |sources|·10⁶)
    * stays far inside Int64 REGARDLESS of corpus scale (the
    * unnormalized floor(n·σ·10⁶) breaches 2⁶³ near 10⁹ docs of 10⁵
    * chars — Spark would saturate while DuckDB raises, the one place
    * the engines could diverge); the allocation then runs in EXACT
    * integer arithmetic — largest-remainder apportionment
    * (k_s = ⌊K·w_s/W⌋ + 1 for the top-(K−Σ⌊⌋) by
    * (remainder desc, source asc)), the q242 quantize-then-integer
    * idiom. Normalizing is allocation-invariant in the reals (Neyman
    * weights are scale-free) and both engines quantize the identical
    * IEEE (rw/mx)·10⁶ value, so determinism is preserved.
    * Membership per stratum is the bottom-k_s under the q138
    * md5-fraction coin — pure function of the doc id, stable under
    * re-runs, re-partitioning and appends.
    *
    * Scale shape: one corpus scan for the moments (map-side
    * combinable), the |sources|-row allocation solved on the driver
    * (the q98 bounded-driver-state convention — NEVER an unpartitioned
    * window) and broadcast back, one source-partitioned row_number for
    * membership. No shuffle carries more than the corpus's (source,
    * doc_id, u) rows. A stratum smaller than its allocation yields all
    * its rows (the rank cap is the stratum size) — the classical
    * over-allocation trade, immaterial when strata dwarf K; Round13Spec
    * pins it alongside the zero-variance-gets-zero property.
    */
  def q356NeymanSample(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val K = 200L
    // unspread reader: only 3 narrow columns and one map-side-combinable
    // agg sit above the scan — the ScanSpread exchange costs more than
    // the work it parallelizes (measured r17; see SearchQueries.docsLight)
    val d = Documents.read(spark, dir)
      .select(col("source"), col("doc_id"), col("n_chars"))
    // exact integer moments; raw weight rw = n·σ with σ from one double
    // division + one sqrt — the only float ops before the quantize
    val moments = d.groupBy("source").agg(
        count(lit(1)).as("n"),
        sum(col("n_chars").cast("decimal(38,0)")).as("s1"),
        sum((col("n_chars") * col("n_chars")).cast("decimal(38,0)")).as("s2"))
      .select(col("source"),
        (col("n").cast("double") *
          sqrt(greatest(lit(0.0),
            col("s2").cast("double") / col("n").cast("double") -
              (col("s1").cast("double") / col("n").cast("double")) *
              (col("s1").cast("double") / col("n").cast("double")))))
          .as("rw"))
      .collect() // |sources| rows — bounded driver state (q98 convention)
      .map(r => (r.getString(0), r.getDouble(1)))
      .sortBy(_._1)
    val mx = moments.map(_._2).max
    require(mx > 0.0, "q356: degenerate corpus — every stratum has zero variance")
    // wq = floor(rw/mx · 1e6) ∈ [0, 1e6] — Int64-safe at any scale
    val quant = moments.map { case (s, rw) =>
      (s, math.floor(rw / mx * 1e6).toLong) }
    val w = quant.map(_._2).sum
    val base = quant.map { case (s, wq) => (s, K * wq / w, K * wq % w) }
    val extra = (K - base.map(_._2).sum).toInt
    val bump = base.sortBy { case (s, _, rem) => (-rem, s) }
      .take(extra).map(_._1).toSet
    val alloc = base.map { case (s, kf, _) =>
      (s, kf + (if (bump(s)) 1L else 0L)) }
    import spark.implicits._
    val allocDf = alloc.toSeq.toDF("source", "alloc")
    val u = conv(
      substring(md5(concat(lit("graft-ns-"), col("doc_id").cast("string"))), 1, 13),
      16, 10).cast("long")
    val win = Window.partitionBy(col("source")).orderBy(col("u").asc, col("doc_id").asc)
    d.select(col("source"), col("doc_id"), u.as("u"))
      .join(broadcast(allocDf), Seq("source"))
      .withColumn("rank", row_number().over(win).cast("long"))
      .filter(col("rank") <= col("alloc"))
      .select(col("source"), col("alloc"), col("rank"), col("doc_id"))
  }

  /** q373: md5 bottom-k quantile SKETCH — the quantile member of the
    * deterministic sketch family (cardinality q7/q73, membership q93,
    * frequency q113): estimate the p50/p90/p99 of the per-document
    * token-count distribution (the statistic a pipeline sizes its
    * seqLen/packing by) from the k = 256 documents with the SMALLEST
    * md5(doc_id) — a uniform sample without replacement whose
    * membership is a pure function of ids (reproducible, mergeable:
    * the bottom-k of a union is the k smallest of the per-shard
    * bottom-k's — the KMV property, reused for order statistics).
    * Estimate = the type-1 sample quantile, index ⌊p·(k−1)⌋+1 over
    * the (value, u, doc_id) total order — integer once the one
    * p·(k−1) double product is taken, identical in any IEEE engine.
    * The selection key is (u = first-13-hex of md5 as a 52-bit
    * integer, doc_id) — ONE key contract shared by the batch, grouped
    * (q374) and streaming (q375) forms, chosen because 52 bits is
    * exactly representable as the Double score the streaming form's
    * bounded TopKAgg orders by. Scale shape: a narrow projection, a
    * TakeOrdered-class bottom-k (k per partition, driver-bounded
    * merge), a ≤k-row rank + a 3-row join; the corpus is never
    * sorted. Round15Spec holds the accuracy envelope against the
    * exact quantiles.
    */
  def q373QuantileSketch(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = 256
    val s = Documents.spread(spark, dir).select(
        conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10)
          .cast("long").as("u"),
        col("doc_id"),
        coalesce(graft.functions.AlnumWordCount(col("text")).cast("long"),
          lit(0L)).as("v"))
      .orderBy(col("u").asc, col("doc_id").asc).limit(k)
    // post-limit window: ≤ k rows, the adjudicated bounded class
    val w = Window.orderBy(col("v").asc, col("u").asc, col("doc_id").asc)
    val r = s.withColumn("rn", row_number().over(w).cast("long"))
    val px = r.agg(count(lit(1)).as("k_actual"))
      .select(col("k_actual"),
        explode(array(lit(0.5), lit(0.9), lit(0.99))).as("p"))
      .withColumn("idx",
        floor(col("p") * (col("k_actual") - 1L).cast("double")).cast("long") + 1L)
    r.join(broadcast(px), col("rn") === col("idx"))
      .select(col("p"), col("v").as("est"), col("k_actual"))
  }

  /** q374: the GROUPED quantile sketch — q373 per source (the
    * per-domain length profile a mixture design reads), with the
    * bottom-k per group through the bounded [[graft.functions.TopKAgg]]
    * (map-side combinable, ≤ k rows per group per partition cross the
    * shuffle) instead of a source-partitioned window over the full
    * corpus, whose parallelism would be capped at |sources| — the q366
    * lesson applied at design time. The 13-hex md5 prefix (52 bits) is
    * exactly representable as the Double score TopKAgg orders by, so
    * the selection is bit-deterministic; values re-join on the
    * (source, doc_id) winner set (|sources|·k rows, broadcast), and
    * the final rank runs on that bounded set only.
    */
  def q374QuantileSketchBySource(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = 128
    val topk = udaf(graft.functions.TopKAgg(k))
    val base = Documents.spread(spark, dir).select(
      col("source"), col("doc_id"),
      conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10)
        .cast("long").as("u"),
      coalesce(graft.functions.AlnumWordCount(col("text")).cast("long"),
        lit(0L)).as("v"))
    val winners = base
      .groupBy("source")
      .agg(topk((-col("u")).cast("double"), col("doc_id")).as("tops"))
      .select(col("source"), explode(col("tops")).as("t"))
      .select(col("source"), col("t._2").as("doc_id"))
    val sample = base.join(broadcast(winners), Seq("source", "doc_id"))
    val w = Window.partitionBy("source")
      .orderBy(col("v").asc, col("u").asc, col("doc_id").asc)
    val r = sample.withColumn("rn", row_number().over(w).cast("long"))
    val px = r.groupBy("source").agg(count(lit(1)).as("k_actual"))
      .select(col("source"), col("k_actual"),
        explode(array(lit(0.5), lit(0.9), lit(0.99))).as("p"))
      .withColumn("idx",
        floor(col("p") * (col("k_actual") - 1L).cast("double")).cast("long") + 1L)
    r.join(broadcast(px), Seq("source"))
      .filter(col("rn") === col("idx"))
      .select(col("source"), col("p"), col("v").as("est"), col("k_actual"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q373_quantile_sketch" -> (q373QuantileSketch _),
    "q374_quantile_sketch_by_source" -> (q374QuantileSketchBySource _),
    "q356_neyman_sample" -> (q356NeymanSample _),
    "q300_corpus_card" -> (q300CorpusCard _),
    "q244_padding_efficiency" -> (q244PaddingEfficiency _),
    "q238_filter_funnel" -> (q238FilterFunnel _),
    "q242_mix_temperature" -> (q242MixTemperature _),
    "q381_doremi_mixture" -> (q381DoremiMixture _),
    "q384_doremi_resample_plan" -> (q384DoremiResamplePlan _),
    "q154_k_anonymity" -> (q154KAnonymity _),
    "q258_dp_counts" -> (q258DpCounts _),
    "q269_quantile_normalize" -> (q269QuantileNormalize _),
    "q282_l_diversity" -> (q282LDiversity _),
    "q325_t_closeness" -> (q325TCloseness _),
    "q155_compaction_bins" -> (q155CompactionBins _),
    "q138_weighted_sample" -> (q138WeightedSample _),
    "q97_dedup_cross_corpus" -> (q97DedupCrossCorpus _),
    "q98_rebalance_sample" -> (q98RebalanceSample _),
    "q100_length_gate" -> (q100LengthGate _),
    "q101_passage_dedup" -> (q101PassageDedup _),
    "q102_pii_scrub" -> (q102PiiScrub _),
    "q103_dup_spans" -> (q103DupSpans _),
    "q334_exact_substrings" -> (q334ExactSubstrings _),
    "q344_substring_dedup_apply" -> (q344SubstringDedupApply _),
    "q104_table_profile" -> (q104TableProfile _),
    "q105_bpe_pairs" -> (q105BpePairs _),
    "q106_histogram" -> (q106Histogram _))

  /** Cleaned word arrays — SQL twin of TextFunctions.wordsArr (same CTE
    * as DedupQueries' ShingleCte head).
    */
  private val WordsCte =
    """WITH wd AS (
      |  SELECT doc_id,
      |         list_filter(
      |           list_transform(string_split_regex(lower(text), '\s+'),
      |                          t -> regexp_replace(t, '[^a-z0-9]', '', 'g')),
      |           x -> length(x) > 0) AS w
      |  FROM documents)""".stripMargin

  /** q381's oracle — the corpus-grain NLL table (q88's chain at source
    * grain), then the EG rounds replayed as chained per-round CTEs.
    * Every CTE is `AS MATERIALIZED`: DuckDB otherwise INLINES each
    * round's references to the previous round (~12 copies per round),
    * so the unrolled plan grows exponentially in [[DoremiRounds]] and
    * never finishes even at sf0.001 (measured; materialized, the whole
    * trajectory runs in ~0.06 s at sf0.01).
    */
  private def doremiOracle: String = {
    val tail = (1 to DoremiRounds)
      .map(r => s"UNION ALL SELECT $r, source, ex, w FROM w$r")
      .mkString("\n")
    s"""$doremiCtes
       |SELECT 0 AS round, source, CAST(0 AS BIGINT) AS excess_q, w AS weight_q FROM w0
       |$tail""".stripMargin
  }

  /** q384's oracle: [[doremiCtes]]' final-round weights, then the
    * largest-remainder apportionment in exact integers (HUGEINT for
    * the N·w products — the Spark side uses BigInt) and the one
    * epochs quantize.
    */
  private def doremiResampleOracle: String =
    s"""$doremiCtes,
       |nd AS MATERIALIZED (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
       |  FROM documents GROUP BY source),
       |tn AS MATERIALIZED (SELECT CAST(sum(n_docs) AS BIGINT) AS n FROM nd),
       |tw AS MATERIALIZED (
       |  SELECT CAST(sum(w) AS BIGINT) AS tw FROM w$DoremiRounds),
       |bs AS MATERIALIZED (
       |  SELECT wf.source, nd.n_docs, wf.w AS weight_q,
       |         CAST(CAST(tn.n AS HUGEINT) * wf.w // tw.tw AS BIGINT) AS base,
       |         CAST(CAST(tn.n AS HUGEINT) * wf.w % tw.tw AS BIGINT) AS rem
       |  FROM w$DoremiRounds wf JOIN nd USING (source)
       |  CROSS JOIN tn CROSS JOIN tw),
       |exr AS MATERIALIZED (
       |  SELECT CAST(tn.n - (SELECT sum(base) FROM bs) AS BIGINT) AS extra
       |  FROM tn),
       |rk AS MATERIALIZED (
       |  SELECT source, n_docs, weight_q, base, rem,
       |         row_number() OVER (ORDER BY rem DESC, source ASC) AS rn
       |  FROM bs)
       |SELECT source, n_docs, weight_q,
       |       base + CASE WHEN rn <= extra THEN 1 ELSE 0 END AS target_docs,
       |       CAST(round(CAST(base + CASE WHEN rn <= extra THEN 1 ELSE 0 END
       |                       AS DOUBLE) * 1e6 / n_docs) AS BIGINT) AS epochs_q
       |FROM rk CROSS JOIN exr""".stripMargin

  private def doremiCtes: String = {
    val rounds = (1 to DoremiRounds).map { r =>
      s"""lbar$r AS MATERIALIZED (
         |  SELECT CAST(round(CAST(sum(w * nll_q) AS DOUBLE) / 1e9) AS BIGINT) AS lbar
         |  FROM w${r - 1}),
         |ex$r AS MATERIALIZED (
         |  SELECT source, nll_q, w, greatest(nll_q - lbar, CAST(0 AS BIGINT)) AS ex
         |  FROM w${r - 1} CROSS JOIN lbar$r),
         |u$r AS MATERIALIZED (
         |  SELECT source, nll_q, ex,
         |         w * CAST(round(exp($DoremiEta * CAST(ex AS DOUBLE) / 1e6) * 1e6)
         |                  AS BIGINT) AS u
         |  FROM ex$r),
         |su$r AS MATERIALIZED (SELECT CAST(sum(u) AS BIGINT) AS su FROM u$r),
         |w$r AS MATERIALIZED (
         |  SELECT source, nll_q, ex,
         |         CAST(round(CAST(u AS DOUBLE) / su * 9e8 + 1e8 / k) AS BIGINT) AS w
         |  FROM u$r CROSS JOIN su$r CROSS JOIN ns)""".stripMargin
    }.mkString(",\n")
    s"""WITH wd AS MATERIALIZED (
       |  SELECT doc_id,
       |         list_filter(
       |           list_transform(string_split_regex(lower(text), '\\s+'),
       |                          t -> regexp_replace(t, '[^a-z0-9]', '', 'g')),
       |           x -> length(x) > 0) AS w
       |  FROM documents),
       |tok AS MATERIALIZED (SELECT doc_id, unnest(w) AS word FROM wd),
       |freq AS MATERIALIZED (SELECT word, count(*) AS cnt FROM tok GROUP BY word),
       |tot AS MATERIALIZED (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM freq),
       |pl AS MATERIALIZED (
       |  SELECT t.doc_id,
       |         CAST(round(ln(CAST(f.cnt AS DOUBLE) / CAST(tot.total AS DOUBLE))
       |                    * 1000000) AS BIGINT) AS lp
       |  FROM tok t JOIN freq f USING (word) CROSS JOIN tot),
       |ps AS MATERIALIZED (
       |  SELECT d.source,
       |         CAST(round(-CAST(sum(t.lp) AS DOUBLE) / count(*)) AS BIGINT) AS nll_q
       |  FROM pl t JOIN documents d USING (doc_id) GROUP BY 1),
       |ns AS MATERIALIZED (SELECT count(*) AS k FROM ps),
       |w0 AS MATERIALIZED (
       |  SELECT source, nll_q, CAST(round(1e9 / k) AS BIGINT) AS w
       |  FROM ps CROSS JOIN ns),
       |$rounds""".stripMargin
  }

  // same 5-gram anchors (raw strings where the engine uses their
  // md5 — identical grouping), same 2..256 occurrence band, same
  // (window-string, doc, pos) sort with consecutive-pair lead, same
  // token-lcp extension, same left-maximality rule (drop only when
  // prevs agree AND the left-shifted anchor is itself in-band — the
  // same cnt table serves both the band filter and the left lookup).
  // Shared through `e` (the full surviving pair set) by the q334
  // top-50 report and the q344 apply.
  private val ExactSubstrCte =
    s"""$WordsCte,
       |p AS (
       |  SELECT doc_id, CAST(t.i AS INT) AS pos,
       |         array_to_string(w[t.i:t.i+4], ' ') AS a
       |  FROM wd, unnest(range(1, len(w) - 3)) AS t(i)
       |  WHERE len(w) >= 5),
       |cnt AS (SELECT a, count(*) AS n FROM p GROUP BY a),
       |an AS (SELECT a FROM cnt WHERE n BETWEEN 2 AND 256),
       |cand AS (
       |  SELECT p.a, p.doc_id, p.pos,
       |         array_to_string(w[p.pos:p.pos+63], ' ') AS winstr,
       |         CASE WHEN p.pos > 1 THEN w[p.pos-1] END AS prev,
       |         w[p.pos:p.pos+63] AS win,
       |         CASE WHEN p.pos > 1
       |              THEN array_to_string(w[p.pos-1:p.pos+3], ' ') END AS lg
       |  FROM p JOIN an USING (a) JOIN wd USING (doc_id)),
       |pr AS (
       |  SELECT doc_id, pos, prev, win, lg,
       |         lead(doc_id) OVER ww AS doc_id2,
       |         lead(pos) OVER ww AS pos2,
       |         lead(prev) OVER ww AS prev2,
       |         lead(win) OVER ww AS win2
       |  FROM cand WINDOW ww AS (PARTITION BY a ORDER BY winstr, doc_id, pos)),
       |l AS (
       |  SELECT doc_id AS doc_a, pos AS pos_a, doc_id2 AS doc_b,
       |         pos2 AS pos_b, win,
       |         list_filter(range(1, least(len(win), len(win2)) + 1),
       |                     i -> win[i] <> win2[i]) AS m,
       |         least(len(win), len(win2)) AS mn
       |  FROM pr LEFT JOIN cnt lcnt ON lcnt.a = pr.lg
       |  WHERE doc_id2 IS NOT NULL
       |    AND (prev IS NULL OR prev2 IS NULL OR prev <> prev2
       |         OR lcnt.n > 256)),
       |e AS (
       |  SELECT CAST(CASE WHEN len(m) = 0 THEN mn ELSE m[1] - 1 END
       |              AS BIGINT) AS len_tokens,
       |         doc_a, pos_a, doc_b, pos_b, win
       |  FROM l)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // the same bottom-256-by-(u, doc_id) sample, the same type-1 index
    "q373_quantile_sketch" ->
      s"""$WordsCte,
         |t AS (
         |  SELECT doc_id,
         |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
         |              AS BIGINT) AS u,
         |         CAST(len(w) AS BIGINT) AS v
         |  FROM wd),
         |s AS (SELECT u, doc_id, v FROM t ORDER BY u ASC, doc_id ASC LIMIT 256),
         |r AS (
         |  SELECT v, CAST(row_number() OVER (ORDER BY v ASC, u ASC, doc_id ASC)
         |              AS BIGINT) AS rn
         |  FROM s),
         |ka AS (SELECT CAST(count(*) AS BIGINT) AS k_actual FROM s),
         |px AS (
         |  SELECT k_actual,
         |         unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
         |                 CAST(0.99 AS DOUBLE)]) AS p
         |  FROM ka),
         |pi AS (
         |  SELECT p, k_actual,
         |         CAST(floor(p * CAST(k_actual - 1 AS DOUBLE)) AS BIGINT) + 1 AS idx
         |  FROM px)
         |SELECT pi.p, r.v AS est, pi.k_actual
         |FROM pi JOIN r ON r.rn = pi.idx""".stripMargin,
    // per-source bottom-128 by the same 13-hex md5 prefix, same rank
    "q374_quantile_sketch_by_source" ->
      s"""$WordsCte,
         |t AS (
         |  SELECT d.source, d.doc_id,
         |         CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 13))
         |              AS BIGINT) AS u,
         |         CAST(len(wd.w) AS BIGINT) AS v
         |  FROM documents d JOIN wd ON wd.doc_id = d.doc_id),
         |s AS (
         |  SELECT source, doc_id, u, v,
         |         row_number() OVER (PARTITION BY source
         |                            ORDER BY u ASC, doc_id ASC) AS srn
         |  FROM t),
         |b AS (SELECT source, doc_id, u, v FROM s WHERE srn <= 128),
         |r AS (
         |  SELECT source, v,
         |         CAST(row_number() OVER (PARTITION BY source
         |                                 ORDER BY v ASC, u ASC, doc_id ASC)
         |              AS BIGINT) AS rn
         |  FROM b),
         |ka AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS k_actual
         |  FROM b GROUP BY source),
         |px AS (
         |  SELECT source, k_actual,
         |         unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
         |                 CAST(0.99 AS DOUBLE)]) AS p
         |  FROM ka),
         |pi AS (
         |  SELECT source, k_actual, p,
         |         CAST(floor(p * CAST(k_actual - 1 AS DOUBLE)) AS BIGINT) + 1 AS idx
         |  FROM px)
         |SELECT pi.source, pi.p, r.v AS est, pi.k_actual
         |FROM pi JOIN r ON r.source = pi.source AND r.rn = pi.idx""".stripMargin,
    // q356: the same exact-integer pipeline from scratch — exact sums
    // (DuckDB's HUGEINT mirrors the Spark side's DECIMAL(38,0): no 2⁶³
    // overflow at any stratum size), the division-first variance as the
    // identical IEEE sequence, sqrt + 1e6 quantize, largest-remainder
    // apportionment in BIGINTs, the q138-style md5 coin for membership
    "q356_neyman_sample" ->
      """WITH m AS (
        |  SELECT source, count(*) AS n, sum(n_chars) AS s1,
        |         sum(n_chars * n_chars) AS s2
        |  FROM documents GROUP BY source),
        |rw AS (
        |  SELECT source,
        |         CAST(n AS DOUBLE) *
        |         sqrt(greatest(0.0,
        |              CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) -
        |              (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) *
        |              (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))) AS rw
        |  FROM m),
        |w AS (
        |  SELECT source,
        |         CAST(floor(rw / (max(rw) OVER ()) * 1000000.0) AS BIGINT) AS wq
        |  FROM rw),
        |t AS (SELECT sum(wq) AS wt FROM w),
        |f AS (SELECT source, wq, wt, (200 * wq) // wt AS kf,
        |             (200 * wq) % wt AS rem
        |      FROM w, t),
        |e AS (SELECT sum(kf) AS fl FROM f),
        |a AS (
        |  SELECT source,
        |         kf + CASE WHEN row_number() OVER (ORDER BY rem DESC, source ASC)
        |                        <= 200 - fl THEN 1 ELSE 0 END AS alloc
        |  FROM f, e),
        |p AS (
        |  SELECT source, doc_id,
        |         CAST(('0x' || substr(md5('graft-ns-' || CAST(doc_id AS VARCHAR)), 1, 13))
        |              AS BIGINT) AS u
        |  FROM documents),
        |r AS (
        |  SELECT p.source, a.alloc, p.doc_id,
        |         row_number() OVER (PARTITION BY p.source ORDER BY p.u, p.doc_id) AS rank
        |  FROM p JOIN a ON a.source = p.source)
        |SELECT source, CAST(alloc AS BIGINT) AS alloc,
        |       CAST(rank AS BIGINT) AS rank, doc_id
        |FROM r WHERE rank <= alloc""".stripMargin,
    // same alnum token alphabet, same normalized fingerprint, same
    // seven stats stacked long-form
    "q300_corpus_card" ->
      """WITH wd AS (
        |  SELECT doc_id, text,
        |         list_filter(
        |           list_transform(string_split_regex(lower(text), '\s+'),
        |                          t -> regexp_replace(t, '[^a-z0-9]', '', 'g')),
        |           x -> length(x) > 0) AS w
        |  FROM documents),
        |tok AS (SELECT unnest(w) AS word FROM wd),
        |t AS (SELECT count(*) AS n_tokens, count(DISTINCT word) AS vocab FROM tok),
        |d AS (
        |  SELECT count(*) AS n_docs,
        |         count(DISTINCT source) AS n_sources,
        |         count(DISTINCT lang) AS n_langs,
        |         count(*) - count(DISTINCT
        |           md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))))
        |           AS n_dups
        |  FROM documents)
        |SELECT stat, value FROM d CROSS JOIN t CROSS JOIN LATERAL (VALUES
        |  ('n_docs', CAST(n_docs AS DOUBLE)),
        |  ('n_sources', CAST(n_sources AS DOUBLE)),
        |  ('n_langs', CAST(n_langs AS DOUBLE)),
        |  ('n_tokens', CAST(n_tokens AS DOUBLE)),
        |  ('vocab_size', CAST(vocab AS DOUBLE)),
        |  ('n_exact_dup_docs', CAST(n_dups AS DOUBLE)),
        |  ('mean_tokens_per_doc', round(CAST(n_tokens AS DOUBLE) / n_docs, 6))
        |) AS v(stat, value)""".stripMargin,
    // same (lang, source) QI groups and len_b buckets, same
    // denominator-cleared |N*Pc - n_g*PCg| decimal prefix terms, same
    // single final division per group
    "q325_t_closeness" ->
      """WITH b AS (
        |  SELECT lang, source, n_chars // 100 AS len_b FROM documents),
        |cells AS (SELECT lang, source, len_b, count(*) AS c
        |          FROM b GROUP BY 1, 2, 3),
        |gall AS (SELECT len_b, count(*) AS cg FROM b GROUP BY 1),
        |grp AS (SELECT lang, source, count(*) AS n_g FROM b GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(cg) AS BIGINT) AS n_tot, count(*) AS m FROM gall),
        |dense AS (
        |  SELECT g.lang, g.source, g.n_g, d.len_b,
        |         coalesce(c.c, 0) AS c, d.cg
        |  FROM grp g CROSS JOIN gall d
        |  LEFT JOIN cells c ON c.lang = g.lang AND c.source = g.source
        |                   AND c.len_b = d.len_b),
        |pref AS (
        |  SELECT lang, source, n_g,
        |         sum(c) OVER w AS pc, sum(cg) OVER w AS pcg
        |  FROM dense
        |  WINDOW w AS (PARTITION BY lang, source ORDER BY len_b
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |agg AS (
        |  SELECT p.lang, p.source, p.n_g, t.m, t.n_tot,
        |         sum(abs(CAST(t.n_tot AS DECIMAL(19,0)) * CAST(p.pc AS DECIMAL(19,0))
        |                 - CAST(p.n_g AS DECIMAL(19,0)) * CAST(p.pcg AS DECIMAL(19,0))))
        |           AS s
        |  FROM pref p CROSS JOIN tot t
        |  GROUP BY 1, 2, 3, 4, 5)
        |SELECT lang, source, n_g AS n_rows,
        |       CASE WHEN m > 1
        |            THEN round(CAST(s AS DOUBLE)
        |                       / (CAST(n_g AS DOUBLE) * CAST(n_tot AS DOUBLE) * (m - 1)), 6)
        |            ELSE 0.0 END AS t_emd,
        |       CAST((CASE WHEN m > 1
        |            THEN round(CAST(s AS DOUBLE)
        |                       / (CAST(n_g AS DOUBLE) * CAST(n_tot AS DOUBLE) * (m - 1)), 6)
        |            ELSE 0.0 END) > 0.2 AS INT) AS above_t02
        |FROM agg""".stripMargin,
    // same quasi-identifier grouping and length-bucket sensitive value
    "q282_l_diversity" ->
      """SELECT lang, source, count(*) AS n_rows,
        |       count(DISTINCT n_chars // 100) AS l_distinct,
        |       CAST(count(DISTINCT n_chars // 100) < 2 AS INT) AS below_l2
        |FROM documents GROUP BY 1, 2""".stripMargin,
    // same (value, doc_id) total orders, same midpoint-quantile integer
    // ceiling, same pooled-rank lookup join
    "q269_quantile_normalize" ->
      """WITH d AS (SELECT doc_id, source, n_chars FROM documents),
        |nn AS (SELECT count(*) AS n FROM d),
        |r AS (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY n_chars, doc_id) AS r,
        |    count(*) OVER (PARTITION BY source) AS ns
        |  FROM d),
        |kk AS (
        |  SELECT doc_id, source, n_chars,
        |         ((2 * r - 1) * n + 2 * ns - 1) // (2 * ns) AS k
        |  FROM r CROSS JOIN nn),
        |p AS (
        |  SELECT n_chars AS norm_chars,
        |         row_number() OVER (ORDER BY n_chars, doc_id) AS k
        |  FROM d)
        |SELECT kk.doc_id, kk.source, kk.n_chars, p.norm_chars
        |FROM kk JOIN p USING (k)""".stripMargin,
    // same md5-derived 32-bit uniform, same 1e9-quantized ln, same
    // inverse-CDF sign rule
    "q258_dp_counts" ->
      """WITH g AS (
        |  SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2),
        |x AS (
        |  SELECT source, lang, n,
        |    CAST(('0x' || substr(md5(source || '|' || lang || '|dp'), 1, 8))
        |         AS BIGINT) / 4294967296.0 - 0.5 AS u
        |  FROM g),
        |l AS (
        |  SELECT source, lang, n, u,
        |    CAST(round(ln(greatest(1e-12, 1.0 - 2.0 * abs(u))) * 1e9)
        |         AS BIGINT) AS lq
        |  FROM x)
        |SELECT source, lang, n,
        |  round(n + (CASE WHEN u >= 0 THEN -lq ELSE lq END) / 1e9, 6)
        |    AS noisy_n
        |FROM l""".stripMargin,
    // same per-doc token counts, same ntile bucketings (the engine's
    // ntileExact is bit-equal to SQL ntile), same Σ n·max padded totals
    "q244_padding_efficiency" -> {
      def block(b: Int): String =
        s"""b$b AS (SELECT ntile($b) OVER (ORDER BY n_tok, doc_id) AS bk, n_tok FROM per),
           |g$b AS (SELECT bk, count(*) AS nd, max(n_tok) AS mx FROM b$b GROUP BY 1),
           |p$b AS (SELECT CAST(sum(nd * mx) AS BIGINT) AS padded FROM g$b)""".stripMargin
      def row(b: Int): String =
        s"""SELECT $b AS n_buckets, tot.total AS total_tokens,
           |       p$b.padded AS padded_tokens,
           |       round((p$b.padded - tot.total) * 1.0 / p$b.padded, 6) AS waste_frac
           |FROM p$b CROSS JOIN tot""".stripMargin
      s"""$WordsCte,
         |tok AS (SELECT doc_id, unnest(w) AS word FROM wd),
         |per AS (SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS total FROM per),
         |${block(1)},
         |${block(2)},
         |${block(4)},
         |${block(8)}
         |${Seq(1, 2, 4, 8).map(row).mkString("\n", "\nUNION ALL\n", "")}""".stripMargin
    },
    // same integer-compare stage predicates, same cumulative gating;
    // counts are FILTERed count(*) (BIGINT), one divide per output row
    "q238_filter_funnel" ->
      s"""$WordsCte,
         |tok AS (SELECT doc_id, unnest(w) AS word FROM wd),
         |wcnt AS (SELECT doc_id, word, count(*) AS cnt FROM tok GROUP BY 1, 2),
         |per AS (
         |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS nw, count(*) AS nt,
         |         CAST(max(cnt) AS BIGINT) AS mf,
         |         CAST(sum(length(word) * cnt) AS BIGINT) AS sl
         |  FROM wcnt GROUP BY doc_id),
         |st AS (
         |  SELECT coalesce(p.nw, 0) AS nw, coalesce(p.nt, 0) AS nt,
         |         coalesce(p.mf, 0) AS mf, coalesce(p.sl, 0) AS sl
         |  FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id),
         |f AS (
         |  SELECT count(*) AS c0,
         |    count(*) FILTER (nw >= 50) AS c1,
         |    count(*) FILTER (nw >= 50 AND 3 * nw <= sl AND sl <= 8 * nw) AS c2,
         |    count(*) FILTER (nw >= 50 AND 3 * nw <= sl AND sl <= 8 * nw
         |                     AND 10 * nt >= 3 * nw) AS c3,
         |    count(*) FILTER (nw >= 50 AND 3 * nw <= sl AND sl <= 8 * nw
         |                     AND 10 * nt >= 3 * nw AND 10 * mf <= nw) AS c4
         |  FROM st)
         |SELECT s.stage, s.rule,
         |  CASE s.stage WHEN 1 THEN c0 WHEN 2 THEN c1 WHEN 3 THEN c2 ELSE c3 END AS n_in,
         |  CASE s.stage WHEN 1 THEN c1 WHEN 2 THEN c2 WHEN 3 THEN c3 ELSE c4 END AS n_pass,
         |  coalesce(round(
         |    CASE s.stage WHEN 1 THEN c1 WHEN 2 THEN c2 WHEN 3 THEN c3 ELSE c4 END * 1.0
         |    / NULLIF(CASE s.stage WHEN 1 THEN c0 WHEN 2 THEN c1 WHEN 3 THEN c2 ELSE c3 END, 0),
         |    6), CAST(0 AS DOUBLE)) AS pass_rate
         |FROM f CROSS JOIN (VALUES (1, 'min_words'), (2, 'mean_word_len'),
         |                          (3, 'type_token_ratio'), (4, 'repetition'))
         |                  AS s(stage, rule)""".stripMargin,
    // same per-source token counts, same exp(0.7·ln n)·1e6 fixed-point
    // quantization before the integer normalization sum
    "q242_mix_temperature" ->
      s"""$WordsCte,
         |tok AS (SELECT d.source, unnest(w.w) AS word
         |        FROM wd w JOIN documents d ON d.doc_id = w.doc_id),
         |cnts AS (SELECT source, count(*) AS n_tokens FROM tok GROUP BY 1),
         |a AS (
         |  SELECT source, n_tokens,
         |         CAST(round(exp(0.7 * ln(CAST(n_tokens AS DOUBLE))) * 1000000)
         |              AS BIGINT) AS a_fp
         |  FROM cnts),
         |tot AS (SELECT CAST(sum(a_fp) AS BIGINT) AS sa,
         |               CAST(sum(n_tokens) AS BIGINT) AS st FROM a)
         |SELECT a.source, a.n_tokens,
         |       round(CAST(a.a_fp AS DOUBLE) / tot.sa, 6) AS weight,
         |       round(CAST(a.a_fp AS DOUBLE) / tot.sa
         |             * CAST(tot.st AS DOUBLE) / a.n_tokens, 6) AS epochs
         |FROM a CROSS JOIN tot""".stripMargin,
    // the full EG trajectory replayed round-by-round (doremiOracle —
    // chained MATERIALIZED CTEs; same 1e6/1e9 fixed points, same
    // half-away-from-zero rounds, exact-integer cross-row sums)
    "q381_doremi_mixture" -> doremiOracle,
    // the same EG rounds, then largest-remainder apportionment of the
    // corpus volume under the final weights (exact integers end-to-end)
    "q384_doremi_resample_plan" -> doremiResampleOracle,
    // same two-level QI lattice; DuckDB's GROUPING SETS + grouping()
    "q154_k_anonymity" ->
      """WITH d AS (
        |  SELECT lang, source, n_chars // 100 AS len_b FROM documents),
        |g AS (
        |  SELECT CAST(grouping(len_b) AS INT) AS level, lang, source, len_b,
        |         count(*) AS n_rows
        |  FROM d
        |  GROUP BY GROUPING SETS ((lang, source, len_b), (lang, source)))
        |SELECT level, count(*) AS n_violating_groups,
        |       CAST(sum(n_rows) AS BIGINT) AS n_rows_at_risk
        |FROM g WHERE n_rows < 5
        |GROUP BY level""".stripMargin,
    // identical start-offset bucketing arithmetic on integer sums
    "q155_compaction_bins" ->
      """WITH c AS (
        |  SELECT source, doc_id, n_chars,
        |         sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM documents)
        |SELECT source, CAST((cum - n_chars) // 4000 AS BIGINT) AS bin, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS bytes,
        |       min(doc_id) AS first_id, max(doc_id) AS last_id
        |FROM c GROUP BY 1, 2""".stripMargin,
    // identical md5-fraction coin and single-divide priority key
    "q138_weighted_sample" ->
      """WITH p AS (
        |  SELECT source, doc_id, n_chars,
        |         (CAST(('0x' || substr(md5('graft-ws-' || CAST(doc_id AS VARCHAR)), 1, 13))
        |               AS BIGINT) / 4503599627370496.0)
        |         / CAST(n_chars AS DOUBLE) AS pri
        |  FROM documents),
        |r AS (SELECT source, doc_id, n_chars, pri,
        |             row_number() OVER (PARTITION BY source
        |                                ORDER BY pri, doc_id) AS rk
        |      FROM p)
        |SELECT source, CAST(rk AS INTEGER) AS rank, doc_id, n_chars,
        |       round(pri, 9) AS priority
        |FROM r WHERE rk <= 20""".stripMargin,
    "q105_bpe_pairs" ->
      s"""$WordsCte,
         |wf AS (
         |  SELECT w AS word, count(*) AS freq
         |  FROM (SELECT unnest(w) AS w FROM wd) GROUP BY w),
         |p AS (
         |  SELECT substr(word, CAST(t.i AS INT), 2) AS pair, freq
         |  FROM wf, unnest(range(1, length(word))) AS t(i)
         |  WHERE length(word) >= 2)
         |SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt
         |FROM p GROUP BY pair
         |ORDER BY cnt DESC, pair ASC LIMIT 20""".stripMargin,
    "q106_histogram" ->
      """WITH mm AS (
        |  SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx
        |  FROM lineitem),
        |b AS (
        |  SELECT CAST(least(floor((l_extendedprice - mn) / ((mx - mn) / 10.0)), 9.0) AS INT)
        |           AS bucket, mn, mx
        |  FROM lineitem CROSS JOIN mm)
        |SELECT bucket,
        |       round(mn + bucket * (mx - mn) / 10.0, 6) AS lo,
        |       round(mn + (bucket + 1) * (mx - mn) / 10.0, 6) AS hi,
        |       count(*) AS cnt
        |FROM b GROUP BY bucket, mn, mx""".stripMargin,
    "q103_dup_spans" ->
      s"""$WordsCte,
         |g AS (
         |  SELECT doc_id, len(w) AS nw, CAST(t.i AS INT) AS pos,
         |         CASE WHEN len(w) >= 3
         |              THEN w[t.i+1] || ' ' || w[t.i+2] || ' ' || w[t.i+3]
         |              ELSE array_to_string(w, ' ') END AS sh
         |  FROM wd, unnest(range(0, CASE WHEN len(w) >= 3 THEN len(w) - 2
         |                               WHEN len(w) > 0 THEN 1
         |                               ELSE 0 END)) AS t(i)),
         |df2 AS (
         |  SELECT sh FROM (
         |    SELECT sh, count(DISTINCT doc_id) AS df FROM g GROUP BY sh)
         |  WHERE df >= 2),
         |d AS (SELECT g.* FROM g JOIN df2 USING (sh)),
         |r AS (
         |  SELECT doc_id, nw, pos,
         |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |  FROM d),
         |sp AS (
         |  SELECT doc_id, grp, min(pos) AS mn, max(pos) AS mx,
         |         count(*) AS n_grams, min(nw) AS nw
         |  FROM r GROUP BY doc_id, grp)
         |SELECT doc_id, CAST(mn AS INT) AS start_tok, n_grams,
         |       least(mx + 3 - mn, nw) AS n_tokens
         |FROM sp""".stripMargin,
    // the shared pair CTE (see ExactSubstrCte), top-50 report
    "q334_exact_substrings" ->
      s"""$ExactSubstrCte
         |SELECT len_tokens, doc_a, pos_a, doc_b, pos_b,
         |       array_to_string(win[1:CAST(len_tokens AS INT)], ' ') AS dup_text
         |FROM e
         |ORDER BY len_tokens DESC, doc_a, pos_a, doc_b, pos_b
         |LIMIT 50""".stripMargin,
    // the same pair CTE composed with the cut rule: victim = the
    // (doc, pos)-later occurrence of every >= 10-token pair, cut at
    // token grain (DISTINCT merges overlaps), every doc re-emitted
    // from its surviving tokens in order
    "q344_substring_dedup_apply" ->
      s"""$ExactSubstrCte,
         |v AS (
         |  SELECT CASE WHEN doc_a > doc_b OR (doc_a = doc_b AND pos_a > pos_b)
         |              THEN doc_a ELSE doc_b END AS vd,
         |         CASE WHEN doc_a > doc_b OR (doc_a = doc_b AND pos_a > pos_b)
         |              THEN pos_a ELSE pos_b END AS vp,
         |         len_tokens AS lt
         |  FROM e WHERE len_tokens >= 10),
         |cut AS (
         |  SELECT DISTINCT vd AS doc_id, CAST(t.i AS INT) AS cp
         |  FROM v, unnest(range(vp, vp + lt)) AS t(i)),
         |tok AS (
         |  SELECT doc_id, CAST(t.i AS INT) AS p, w[CAST(t.i AS INT)] AS tk
         |  FROM wd, unnest(range(1, len(w) + 1)) AS t(i)),
         |keep AS (
         |  SELECT t.doc_id, t.p, t.tk
         |  FROM tok t LEFT JOIN cut c ON c.doc_id = t.doc_id AND c.cp = t.p
         |  WHERE c.doc_id IS NULL),
         |fin AS (
         |  SELECT doc_id, string_agg(tk, ' ' ORDER BY p) AS text_kept
         |  FROM keep GROUP BY doc_id),
         |nc AS (SELECT doc_id, count(*) AS n_cut FROM cut GROUP BY doc_id)
         |SELECT wd.doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
         |       CAST(coalesce(nc.n_cut, 0) AS BIGINT) AS n_cut,
         |       coalesce(f.text_kept, '') AS text_kept
         |FROM wd
         |LEFT JOIN nc ON nc.doc_id = wd.doc_id
         |LEFT JOIN fin f ON f.doc_id = wd.doc_id""".stripMargin,
    "q104_table_profile" -> {
      def one(c: String, num: Boolean) =
        s"""SELECT '$c' AS "column", count(*) AS n_rows,
           |       count(*) - count($c) AS n_null,
           |       count(DISTINCT $c) AS n_distinct,
           |       ${if (num) s"CAST(min($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"} AS min_num,
           |       ${if (num) s"CAST(max($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"} AS max_num
           |FROM lineitem""".stripMargin
      Seq("l_orderkey" -> true, "l_linenumber" -> true, "l_quantity" -> true,
        "l_extendedprice" -> true, "l_discount" -> true,
        "l_returnflag" -> false, "l_linestatus" -> false)
        .map { case (c, n) => one(c, n) }.mkString("\nUNION ALL\n")
    },
    "q97_dedup_cross_corpus" ->
      s"""$WordsCte,
         |sh AS (
         |  SELECT DISTINCT doc_id, sh FROM (
         |    SELECT doc_id,
         |           unnest(CASE WHEN len(w) >= 3
         |                  THEN list_transform(range(1, len(w) - 1),
         |                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
         |                  ELSE [array_to_string(w, ' ')] END) AS sh
         |    FROM wd)),
         |srcn AS (SELECT doc_id, CAST(substr(source, 4) AS INT) AS sn FROM documents),
         |shn AS (SELECT s.doc_id, s.sh FROM sh s JOIN srcn USING (doc_id) WHERE sn >= 10),
         |sho AS (SELECT s.doc_id, s.sh FROM sh s JOIN srcn USING (doc_id) WHERE sn < 10),
         |szn AS (SELECT doc_id, count(*) AS n FROM shn GROUP BY doc_id),
         |szo AS (SELECT doc_id, count(*) AS n FROM sho GROUP BY doc_id),
         |inter AS (
         |  SELECT n.doc_id AS new_id, o.doc_id AS old_id, count(*) AS i
         |  FROM shn n JOIN sho o ON n.sh = o.sh
         |  GROUP BY 1, 2),
         |matched AS (
         |  SELECT DISTINCT i.new_id
         |  FROM inter i
         |  JOIN szn ON szn.doc_id = i.new_id
         |  JOIN szo ON szo.doc_id = i.old_id
         |  WHERE round(i.i * 1.0 / (szn.n + szo.n - i.i), 6) >= 0.05)
         |SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
         |FROM documents d JOIN srcn USING (doc_id)
         |WHERE sn >= 10 AND d.doc_id NOT IN (SELECT new_id FROM matched)""".stripMargin,
    "q98_rebalance_sample" ->
      """WITH counts AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
        |mn AS (SELECT min(cnt) AS m FROM counts)
        |SELECT d.doc_id, d.lang, d.source
        |FROM documents d JOIN counts c ON c.lang = d.lang CROSS JOIN mn
        |WHERE c.cnt = mn.m
        |   OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6)
        |      < printf('%06x', CAST(floor(mn.m * 1.0 / c.cnt * 16777216) AS BIGINT))""".stripMargin,
    "q100_length_gate" ->
      s"""$WordsCte,
         |wc AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words FROM wd),
         |th AS (
         |  SELECT round(quantile_cont(n_words, 0.10), 6) AS lo,
         |         round(quantile_cont(n_words, 0.99), 6) AS hi
         |  FROM wc)
         |SELECT doc_id, n_words FROM wc CROSS JOIN th
         |WHERE n_words >= lo AND n_words <= hi""".stripMargin,
    "q101_passage_dedup" ->
      s"""$WordsCte,
         |p AS (
         |  SELECT doc_id, CAST(t.i AS INT) AS cid,
         |         array_to_string(w[t.i*5 + 1 : t.i*5 + 5], ' ') AS pass
         |  FROM wd, unnest(range(0, CASE WHEN len(w) = 0 THEN 0
         |                               ELSE 1 + (len(w) - 1) // 5 END)) AS t(i)),
         |r AS (
         |  SELECT doc_id, cid, pass,
         |         row_number() OVER (PARTITION BY pass ORDER BY doc_id, cid) AS rn
         |  FROM p),
         |agg AS (
         |  SELECT doc_id,
         |         count(*) AS n_passages,
         |         count(*) FILTER (rn = 1) AS n_kept,
         |         coalesce(
         |           array_to_string(list(pass ORDER BY cid) FILTER (rn = 1), ' '),
         |           '') AS text_kept
         |  FROM r GROUP BY doc_id)
         |SELECT d.doc_id,
         |       coalesce(a.n_passages, 0) AS n_passages,
         |       coalesce(a.n_kept, 0) AS n_kept,
         |       coalesce(a.text_kept, '') AS text_kept
         |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin,
    "q102_pii_scrub" ->
      """WITH s AS (
        |  SELECT doc_id, text,
        |         regexp_replace(text,
        |           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
        |  FROM documents),
        |s2 AS (
        |  SELECT doc_id, text, t1,
        |         regexp_replace(t1,
        |           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS t2
        |  FROM s)
        |SELECT doc_id,
        |       CAST(len(regexp_extract_all(text,
        |              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |          + len(regexp_extract_all(t1,
        |              '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
        |          + len(regexp_extract_all(t2, '\b\d{13,19}\b')) AS BIGINT)
        |         AS n_redacted,
        |       regexp_replace(t2, '\b\d{13,19}\b', '<NUM>', 'g') AS text_clean
        |FROM s2""".stripMargin)
}
