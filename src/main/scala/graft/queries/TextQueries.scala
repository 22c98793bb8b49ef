package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.TextAnalysis
import graft.sources.Documents

/** Text-analysis query pack over `documents` (q20-q23): language ID,
  * quality scoring, token counting, fingerprinting — each an oracle-checked
  * view of a TextAnalysis operator.
  */
object TextQueries {

  /** q88's unigram-LM quality score, shared with q121: per-doc token
    * count and mean log-probability under the corpus unigram model.
    * Determinism: each token's log-prob is quantized to fixed-point
    * (round(ln(p)·1e6) as a long) BEFORE the per-doc sum, so the
    * aggregation is exact integer arithmetic — partition-order
    * invariant; the only double ops are one ln per DISTINCT frequency
    * value and one division at the end. Scale shape: token→freq is one
    * hash agg; the re-join is on `word` (vocabulary-sized right side);
    * the per-doc regroup is one more hash agg. No driver state, no
    * window.
    */
  private[graft] def logprobScores(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val words = Documents.spread(s, dir)
      .select(col("doc_id"), graft.functions.AlnumTokens(col("text")))
      .select("doc_id", "word")
    val freq = words.groupBy("word").agg(count(lit(1)).as("cnt")).persist()
    val total = freq.agg(sum(col("cnt")).as("total"))
    words.join(freq, Seq("word"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        round(log(col("cnt").cast("double") / col("total").cast("double")) * 1e6)
          .cast("long").as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("lp")).as("slp"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("slp").cast("double") / col("n_tokens") / 1e6, 6)
          .as("mean_logprob"))
  }

  /** Shared DuckDB word-array CTE — the SQL twin of TextFunctions.wordsArr. */
  private[queries] val WordsCte =
    """WITH wd AS (
      |  SELECT doc_id, text,
      |         list_filter(
      |           list_transform(string_split_regex(lower(text), '\s+'),
      |                          t -> regexp_replace(t, '[^a-z0-9]', '', 'g')),
      |           x -> length(x) > 0) AS w
      |  FROM documents)""".stripMargin

  /** The q20 language-ID replica as a reusable CTE suffix (appended after
    * [[WordsCte]]): per-doc stopword scores + the alpha-tiebreak argmax
    * prediction. Shared by the q164/q165/q166 evaluation oracles so the
    * classifier under evaluation is EXACTLY the one q20 pins.
    */
  private val LangPredCte =
    """scored AS (
      |  SELECT doc_id,
      |    len(list_filter(w, x -> list_contains(['der','die','das','und','ein','zu','ist'], x))) AS s_de,
      |    len(list_filter(w, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS s_en,
      |    len(list_filter(w, x -> list_contains(['el','la','los','de','y','un','una'], x))) AS s_es,
      |    len(list_filter(w, x -> list_contains(['le','la','les','de','et','un','une'], x))) AS s_fr
      |  FROM wd),
      |pred AS (
      |  SELECT doc_id, s_de, s_en, s_es, s_fr,
      |    CASE WHEN s_de = 0 AND s_en = 0 AND s_es = 0 AND s_fr = 0 THEN 'und'
      |         WHEN s_fr > greatest(s_de, s_en, s_es) THEN 'fr'
      |         WHEN s_es > greatest(s_de, s_en) THEN 'es'
      |         WHEN s_en > s_de THEN 'en'
      |         ELSE 'de' END AS pred_lang
      |  FROM scored)""".stripMargin

  /** q24: winnowing near-copy pairs. Standard corpus recipe: drop
    * boilerplate fingerprints (document frequency > 20 — they indicate
    * common phrasing, not copying, and unbound the join fan-out), then
    * keep pairs whose CONTAINMENT (shared / smaller fingerprint set)
    * >= 0.6. On a corpus without real near-copies the result is
    * correctly empty.
    *
    * Oracle-checked: the Long-wraparound rolling hash IS SQL-expressible
    * — each k-gram hash is the closed-form fold `Σ b·Base^j mod 2^64`
    * (HUGEINT headroom; intermediate wraps distribute over the modulus),
    * converted to SIGNED before the window minima because the Scala
    * comparisons are signed-Long, and only the distinct min VALUES
    * survive so the rightmost-tie rule needs no SQL analog.
    */
  def q24WinnowPairs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val fps = Documents.spread(spark, dir)
      .select(col("doc_id"), graft.functions.Winnow(col("text"), 5, 4).as("fp"))
      .persist()
    val rare = fps.groupBy("fp").agg(count(lit(1)).as("df")).filter(col("df") <= 20)
    val kept = fps.join(rare.select("fp"), Seq("fp")).persist()
    val sizes = kept.groupBy(col("doc_id").as("id")).agg(count(lit(1)).as("n"))
    kept.select(col("doc_id").as("id_a"), col("fp"))
      .join(kept.select(col("doc_id").as("id_b"), col("fp")), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("shared"))
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "na"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "nb"), "id_b")
      .withColumn("containment",
        round(col("shared").cast("double") / least(col("na"), col("nb")), 6))
      .filter(col("containment") >= 0.6)
      .select("id_a", "id_b", "shared", "containment")
  }

  /** Shared BPE learning loop (q263 merges / q264 compression curve):
    * `rounds` iterations of count-adjacent-pairs → (cnt desc, lex)
    * winner → greedy left-to-right merge over the persisted
    * VOCABULARY-grain symbol table. Driver state per round is bounded:
    * the 1-row winning pair (a plan literal for the merge fold — the
    * kmeans pattern) and one Σ freq·|syms| scalar. Returns the merge
    * log and the per-round corpus token totals (index 0 = characters).
    */
  /** The (word, freq) corpus word-frequency table both BPE learners
    * seed from — factored out so specs can drive the learners over a
    * synthetic frequency fixture (wide-batch coverage) while the
    * queries keep the corpus path.
    */
  private[graft] def bpeSeed(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    Documents.spread(s, dir)
      .select(graft.functions.AlnumTokens(col("text")))
      .groupBy("word").agg(count(lit(1)).as("freq"))
  }

  private[graft] def bpeRounds(
      s: SparkSession, dir: String, rounds: Int, needTotals: Boolean = true)
      : (Seq[(Int, String, String, Long, String)], Seq[(Int, Long)]) =
    bpeRoundsFromWords(bpeSeed(s, dir), rounds, needTotals)

  /** The q360 BPE-APPLY table — factored out so the q362 capstone runs
    * the IDENTICAL stage (same helper, byte-identical output), the q86
    * capstone discipline. See the q360 entry below for the full
    * semantics/scale discussion.
    */
  private[graft] def bpeApplyTable(s: SparkSession, dir: String): DataFrame =
    bpeApplyProjection(Documents.spread(s, dir),
      bpeRounds(s, dir, 5, needTotals = false)._1.map(m => (m._2, m._3)))

  /** The APPLY projection itself, over any (doc_id, text) relation —
    * STATELESS (document-local, zero shuffles), which is what makes
    * the same projection streaming-safe in append mode: Round14Spec
    * pins stream==batch bit-parity by pushing the corpus through a
    * MemoryStream under this exact definition. `ranked = true` swaps
    * the sequential-replay kernel for the rank-priority-queue encoder
    * ([[graft.functions.BpeEncodeRanked]] — O(len²) per first-seen
    * word instead of O(|merges|·len), the production shape at a 32k
    * vocabulary); the q368 driver gate proves the two encode the whole
    * corpus identically through q360's independent DuckDB replay.
    */
  private[graft] def bpeApplyProjection(
      d: DataFrame, merges: Seq[(String, String)],
      ranked: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions._
    val enc: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      if (ranked) graft.functions.BpeEncodeRanked(_, merges)
      else graft.functions.BpeEncode(_, merges)
    d.select(col("doc_id"),
        graft.functions.TextFunctions.wordsArr(col("text")).as("w"))
      .select(col("doc_id"),
        enc(col("w")).as("segs"))
      .select(col("doc_id"),
        size(col("segs")).cast("long").as("n_words"),
        size(flatten(col("segs"))).cast("long").as("n_bpe_tokens"),
        md5(array_join(
          transform(col("segs"), a => array_join(a, " ")), "|")).as("seg_fp"))
  }

  /** `needTotals = false` (the learn-only callers: q263, the q360/q368
    * apply pair, the streaming gate, q362) skips the per-round corpus
    * token total — HALVING the learn loop's action count (rounds + 1
    * vocab-grain jobs removed; the totals exist for q264's compression
    * curve only). The totals action doubled as the
    * materialize-before-release step, so the no-totals path defers each
    * round's `unpersist` by one round instead: round r's top-pair
    * aggregation (the one remaining action) materializes syms(r-1)
    * through the still-cached syms(r-2), after which syms(r-2) is
    * released — same single-fold evaluation per round, same merge log
    * (the pair aggregation is unchanged), one action per round.
    */
  private[graft] def bpeRoundsFromWords(
      words: DataFrame, rounds: Int, needTotals: Boolean = true)
      : (Seq[(Int, String, String, Long, String)], Seq[(Int, Long)]) = {
    import org.apache.spark.sql.functions._
    var syms = words
      .withColumn("syms", expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
      .select("word", "freq", "syms").persist()
    def total(df: DataFrame): Long =
      df.agg(sum(col("freq") * size(col("syms")))).collect()(0).getLong(0)
    val merges = collection.mutable.Buffer.empty[(Int, String, String, Long, String)]
    val totals = collection.mutable.Buffer.empty[(Int, Long)]
    if (needTotals) totals += ((0, total(syms)))
    // the round- (r-2) state: cached and materialized, released once
    // round r's action has materialized syms(r-1) through it
    var grandparent: DataFrame = null
    for (r <- 1 to rounds) {
      val top = syms.filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          """transform(sequence(1, size(syms) - 1),
            |  i -> struct(element_at(syms, i) AS a,
            |              element_at(syms, i + 1) AS b))""".stripMargin))
          .as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(1).collect()(0)
      if (grandparent != null) { grandparent.unpersist(); grandparent = null }
      val (a, b, cnt) = (top.getString(0), top.getString(1), top.getLong(2))
      merges += ((r, a, b, cnt, a + b))
      val merged = syms.withColumn("syms", expr(
        s"""aggregate(syms, CAST(array() AS array<string>), (acc, x) ->
           |  CASE WHEN size(acc) > 0 AND element_at(acc, -1) = '$a'
           |            AND x = '$b'
           |       THEN concat(slice(acc, 1, size(acc) - 1),
           |                   array('$a' || '$b'))
           |       ELSE concat(acc, array(x)) END)""".stripMargin))
        .persist()
      if (needTotals) {
        totals += ((r, total(merged))) // also materializes before release
        syms.unpersist()
      } else grandparent = syms // released after the next round's action
      syms = merged
    }
    if (grandparent != null) grandparent.unpersist()
    syms.unpersist()
    (merges.toSeq, totals.toSeq)
  }

  // ---- unigram-LM (SentencePiece-style) tokenizer: q377 learn / q378 apply

  /** Shared constants of the q377/q378 unigram family — literals in BOTH
    * the Spark loop and the DuckDB oracle emitters below; change in
    * lockstep or not at all.
    */
  private val UnigramMaxLen = 4    // seed substring + Viterbi scan bound
  private val UnigramSeedTop = 200 // multi-char seed pieces kept
  private val UnigramRounds = 2    // hard-EM refinement rounds

  /** round(x·1e9) with DuckDB's half-away-from-zero tie rule (java
    * math.round is floor(x+0.5) — wrong side for negative halves).
    * BigDecimal.valueOf goes through the double's shortest decimal
    * form, which preserves ordering against the exactly-representable
    * .5 boundaries, so this IS round() on the binary double.
    */
  private def quantLn1e9(num: Long, den: Long): Long =
    java.math.BigDecimal.valueOf(math.log(num.toDouble / den.toDouble) * 1e9)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact

  private[graft] def unigramVocab(s: SparkSession, dir: String)
      : Seq[(String, Long, Long)] =
    unigramVocabFromWords(bpeSeed(s, dir))

  /** The unigram-LM LEARNER over a (word, freq) table — hard (Viterbi)
    * EM, every quantity fixed-point so the DuckDB oracle replays it
    * bit-for-bit:
    *
    *  1. SEED: count every substring of length 1..[[UnigramMaxLen]]
    *     of every word type, freq-weighted; keep ALL single chars (the
    *     alphabet — segmentation totality) plus the top
    *     [[UnigramSeedTop]] multi-char pieces by (cnt desc, piece asc).
    *     Piece log-prob = round(ln(cnt/Σcnt)·1e9) as a long.
    *  2. E-step: Viterbi-segment each word type under the current
    *     quantized model ([[graft.functions.UnigramEncode]] — the SAME
    *     kernel q378 ships, so learn and apply cannot drift); count
    *     piece uses freq-weighted.
    *  3. M-step: multi-char pieces keep their use count (dropped at 0 —
    *     the prune), single chars keep max(count, 1) (alphabet
    *     retention); renormalize; requantize. Repeat [[UnigramRounds]]
    *     times.
    *
    * Scale shape (the q263 bounded-driver-round pattern): everything is
    * VOCABULARY-grain — the seed is one substring explode + hash agg
    * over word TYPES (≤ |vocab|·len·maxLen rows), each EM round is one
    * zero-shuffle Viterbi projection + one ≤|pieces|-group agg, and
    * driver state per round is the ≤(|alphabet| + SeedTop)-row piece
    * table that ships back as the next round's plan literal. Corpus
    * row count prices only the initial word-frequency agg.
    */
  private[graft] def unigramVocabFromWords(words: DataFrame)
      : Seq[(String, Long, Long)] = {
    import org.apache.spark.sql.functions._
    val seed = words.select(
        explode(expr(
          s"""flatten(transform(sequence(1, length(word)), i ->
             |  transform(sequence(i, least(i + ${UnigramMaxLen - 1}, length(word))), e ->
             |    substring(word, i, e - i + 1))))""".stripMargin)).as("piece"),
        col("freq"))
      .groupBy("piece").agg(sum(col("freq")).as("cnt"))
      .persist()
    val singles = seed.filter(length(col("piece")) === 1)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val multi = seed.filter(length(col("piece")) > 1)
      .orderBy(col("cnt").desc, col("piece").asc).limit(UnigramSeedTop)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    seed.unpersist()
    def quantize(sel: Seq[(String, Long)]): Seq[(String, Long, Long)] = {
      val t = sel.map(_._2).sum
      sel.map { case (p, c) => (p, c, quantLn1e9(c, t)) }
    }
    var vocab = quantize((singles ++ multi).toSeq)
    for (_ <- 1 to UnigramRounds) {
      val lpTable = vocab.map { case (p, _, l) => (p, l) }
      val cnts = words.select(col("freq"),
          explode(element_at(
            graft.functions.UnigramEncode(array(col("word")), lpTable), 1))
            .as("piece"))
        .groupBy("piece").agg(sum(col("freq")).as("cnt"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      vocab = quantize(vocab.flatMap { case (p, _, _) =>
        if (p.length == 1) Some(p -> math.max(cnts.getOrElse(p, 0L), 1L))
        else cnts.get(p).filter(_ > 0).map(p -> _)
      })
    }
    vocab
  }

  /** The q378 APPLY projection over any (doc_id, text) relation —
    * STATELESS (document-local, zero shuffles), factored like
    * [[bpeApplyProjection]] so the batch query (q378), the streaming
    * ingest gate (q382) and the split-timing tool run the IDENTICAL
    * stage: Viterbi-encode each cleaned word under the quantized
    * piece table (plan literal, per-task memo), emit per-doc word
    * count, piece count and the md5 fingerprint of the full
    * segmentation (q360's output shape).
    */
  private[graft] def unigramApplyProjection(
      d: DataFrame, lpTable: Seq[(String, Long)]): DataFrame = {
    import org.apache.spark.sql.functions._
    d.select(col("doc_id"),
        graft.functions.TextFunctions.wordsArr(col("text")).as("w"))
      .select(col("doc_id"),
        graft.functions.UnigramEncode(col("w"), lpTable).as("segs"))
      .select(col("doc_id"),
        size(col("segs")).cast("long").as("n_words"),
        size(flatten(col("segs"))).cast("long").as("n_pieces"),
        md5(array_join(
          transform(col("segs"), a => array_join(a, " ")), "|")).as("seg_fp"))
  }

  /** The q372/q379 shared FIM columns over a (doc_id, text) relation —
    * ONE definition of the 50% md5 coin and the two modular split
    * points, so the plan (q372) and the applied render (q379) cannot
    * drift: w (cleaned words), n_tokens, fim, and the 1-based split
    * offsets a < b (null when fim = false). All parts ≥ 1 token by
    * construction: a ∈ [1, n−2], b ∈ [a+1, n−1]. Document-local, zero
    * shuffles.
    */
  private[graft] def fimBase(d: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val coin = substring(md5(concat(lit("graft-fim-"),
      col("doc_id").cast("string"))), 1, 1)
      .isin("0", "1", "2", "3", "4", "5", "6", "7")
    val u1 = conv(substring(md5(concat(lit("graft-fim-a-"),
      col("doc_id").cast("string"))), 1, 13), 16, 10).cast("long")
    val u2 = conv(substring(md5(concat(lit("graft-fim-b-"),
      col("doc_id").cast("string"))), 1, 13), 16, 10).cast("long")
    d.select(col("doc_id"),
        graft.functions.TextFunctions.wordsArr(col("text")).as("w"))
      .withColumn("n_tokens", size(col("w")).cast("long"))
      .withColumn("fim", coin && col("n_tokens") >= 3L)
      .withColumn("a",
        when(col("fim"), pmod(u1, col("n_tokens") - 2L) + 1L))
      .withColumn("b",
        when(col("fim"),
          pmod(u2, col("n_tokens") - col("a") - 1L) + col("a") + 1L))
  }

  /** The q364/q380 shared span-offset coin: the masked span's 0-based
    * offset inside its 20-token block — md5(doc_id|block) mod
    * (block_len − 2), so the 3-token span always fits. ONE definition
    * for the plan (q364) and the applied render (q380).
    */
  private def spanOffsetCol(docId: org.apache.spark.sql.Column,
      block: org.apache.spark.sql.Column,
      blockLen: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    pmod(conv(substring(md5(concat(docId.cast("string"),
      lit("|"), block.cast("string"))), 1, 13), 16, 10).cast("long"),
      blockLen - 2L)
  }

  /** BATCHED BPE learning: [[bpeRounds]]'s loop with up to `maxBatch`
    * merges accepted per super-round, PROVABLY equal to the sequential
    * learner (q288's driver oracle is literally q263's sequential SQL).
    * A real 32k-merge vocabulary cannot round-trip the driver 32k
    * times — one pair-count aggregation per merge is the scale
    * bottleneck — so per super-round this ranks pairs ONCE and accepts
    * the maximal CONSECUTIVE prefix of the (cnt desc, a, b) ranking
    * such that
    *   (1) accepted pairs are pairwise symbol-disjoint and no accepted
    *       pair's concatenation collides with another's symbol or
    *       concatenation — so applying them in one pass equals applying
    *       them one-by-one (their occurrence sets cannot interact), and
    *   (2) the last accepted count strictly exceeds the first excluded
    *       count — so no skipped or newly-created pair (whose count is
    *       bounded by an excluded pair's count, since any pair touching
    *       an accepted symbol was excluded) can tie into the winner
    *       sequence by the lexicographic tie-break.
    * Under (1)+(2) each accepted pair IS the sequential winner of its
    * round, so the merge log is identical; the batch degenerates to 1
    * (plain sequential) exactly when the ranking forces it. All
    * accepted merges apply in ONE symbol-table pass via a literal
    * lookup map. Driver state per super-round: maxBatch+1 ranked rows.
    */
  private[graft] def bpeRoundsBatched(
      s: SparkSession, dir: String, totalMerges: Int, maxBatch: Int)
      : (Seq[(Int, String, String, Long, String)], Seq[Int]) =
    bpeRoundsBatchedFromWords(bpeSeed(s, dir), totalMerges, maxBatch)

  private[graft] def bpeRoundsBatchedFromWords(
      words: DataFrame, totalMerges: Int, maxBatch: Int)
      : (Seq[(Int, String, String, Long, String)], Seq[Int]) = {
    import org.apache.spark.sql.functions._
    require(maxBatch >= 1, "bpeRoundsBatched needs maxBatch >= 1")
    val merges = collection.mutable.Buffer.empty[(Int, String, String, Long, String)]
    val batchSizes = collection.mutable.Buffer.empty[Int]
    // every super-round accepts at least one merge, so totalMerges
    // rounds always suffice
    graft.operators.Rounds("bpeRoundsBatched", totalMerges) { rs =>
      var syms = rs.persisted(words
        .withColumn("syms", expr(
          "transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
        .select("word", "freq", "syms"))
      rs.fixpoint { _ =>
        val want = math.min(maxBatch, totalMerges - merges.size)
        val top = syms.filter(size(col("syms")) >= 2)
          .select(col("freq"), explode(expr(
            """transform(sequence(1, size(syms) - 1),
              |  i -> struct(element_at(syms, i) AS a,
              |              element_at(syms, i + 1) AS b))""".stripMargin))
            .as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("freq")).as("cnt"))
          .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
          .limit(want + 1).collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        top.nonEmpty && {
          val accepted = collection.mutable.Buffer(top.head)
          var open = true
          for (p <- top.tail.take(want - 1) if open) {
            val pSyms = Set(p._1, p._2)
            val ok = accepted.forall { q =>
              val qSyms = Set(q._1, q._2)
              pSyms.intersect(qSyms).isEmpty &&
                !qSyms.contains(p._1 + p._2) && !pSyms.contains(q._1 + q._2) &&
                p._1 + p._2 != q._1 + q._2
            }
            if (ok) accepted += p else open = false
          }
          // strict-gap trim: everything at or below the first excluded
          // count could be overtaken (or tied) by a pair the batch changes
          if (top.length > accepted.length) {
            val t = top(accepted.length)._3
            while (accepted.length > 1 && accepted.last._3 <= t)
              accepted.dropRightInPlace(1)
          }
          // vocabulary-clash trim: if an accepted pair's concatenation is
          // ALREADY a symbol in the current vocabulary, merging it CREATES
          // new occurrences of that symbol, so pairs touching it can GROW
          // past later accepted merges — the one case the count bound
          // (new pairs ≤ an excluded pair's count) does not cover. One
          // vocab-grain membership scan per super-round finds the clashing
          // concatenations; everything accepted AFTER the first clash is
          // dropped (the clash merge itself is still the exact sequential
          // winner of its own round).
          if (accepted.length > 1) {
            val concats = accepted.map(p => p._1 + p._2).toSeq
            val present = syms
              .select(explode(col("syms")).as("_s"))
              .filter(col("_s").isin(concats: _*))
              .select("_s").distinct().collect().map(_.getString(0)).toSet
            if (present.nonEmpty) {
              val firstClash = accepted.indexWhere(p => present.contains(p._1 + p._2))
              if (firstClash >= 0 && firstClash + 1 < accepted.length)
                accepted.takeInPlace(firstClash + 1)
            }
          }
          val entries = accepted
            .map(p => s"'${p._1}|${p._2}', '${p._1}${p._2}'").mkString(", ")
          syms = rs.next(syms, syms.withColumn("syms", expr(
            s"""aggregate(syms, CAST(array() AS array<string>), (acc, x) ->
               |  CASE WHEN size(acc) > 0 AND element_at(map($entries),
               |            concat(element_at(acc, -1), '|', x)) IS NOT NULL
               |       THEN concat(slice(acc, 1, size(acc) - 1),
               |                   array(element_at(map($entries),
               |                     concat(element_at(acc, -1), '|', x))))
               |       ELSE concat(acc, array(x)) END)""".stripMargin)))
          accepted.foreach { p =>
            merges += ((merges.size + 1, p._1, p._2, p._3, p._1 + p._2))
          }
          batchSizes += accepted.size
          merges.size < totalMerges
        }
      }
    }
    (merges.toSeq, batchSizes.toSeq)
  }

  /** q319: stupid-backoff trigram language model — the distributed
    * count-based n-gram LM of Brants et al. 2007 ("Large Language Models
    * in Machine Translation"), THE workload that motivated serving n-gram
    * models as sharded count tables: train trigram/bigram/unigram counts
    * on the q71 'train' split and score every 'test'-split document with
    * stupid backoff (α = 0.4):
    *
    *   S(w3|w1,w2) = c3/c2(w1,w2)            if the trigram was seen
    *               = α · c2(w2,w3)/c1(w2)    else if the bigram was seen
    *               = α² · c1(w3)/N           else if the word was seen
    *               = α² · 1/N                OOV floor
    *
    * (backoff contexts (w1,w2) and w2 are always present when their
    * numerator is — a prefix of any counted n-gram is itself counted —
    * so no division guards are needed beyond the CASE order). Stupid
    * backoff is the distributed choice PRECISELY because the score needs
    * no normalization pass: every branch is a ratio of two counts, so
    * the model "build" is three independent hash aggregations and
    * scoring is pure keyed joins — no per-context renormalization agg
    * over the trigram table. DETERMINISM: each position's ln S is
    * 1e9-quantized to a long BEFORE the per-doc sum (q261's idiom);
    * the only double ops are one division + ln per scored position.
    * Scale shape: n-gram generation is per-row (transform over the word
    * array — no window, no shuffle); the three count tables are n-gram-
    * keyed hash aggs (map-side combinable); scoring is five shuffle
    * equi-joins of the test trigram stream against the count tables on
    * their n-gram keys — the Brants sharded-model serving plan verbatim
    * (at 100 TB the trigram table IS too big to broadcast; hash-
    * partitioning model and stream on the same key is the design) —
    * plus one 1-row broadcast for N; the rollup is one doc-keyed agg.
    * Docs with < 3 words have no scored position and produce no row.
    * Scores are reported as mean negative log-likelihood (q261's sign
    * convention — the quantized values stay positive, so the half-up
    * rounding never sits on a signed boundary).
    */
  def q319BackoffLm(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val wd = backoffSplitDocs(s, dir)
    backoffScore(wd.filter(col("split") === "train"),
      backoffTris(wd.filter(col("split") === "test")))
  }

  /** The (doc_id, text, split) table behind q319/q333: raw docs under
    * the q71 md5 split (the coin is doc-keyed, so it needs no
    * tokenization). The heavy tokenization moved into the native
    * [[graft.functions.WordNgrams]] generators below (r17, the q323
    * precedent): one byte pass per consumer replaces the interpreted
    * wordsArr HOF + persisted word-array cache whose trigram transform
    * was the profile's hottest stage (13.7 s CPU at sf0.1).
    * Tokenization parity: cleanWords ≡ wordsArr on ASCII corpora (the
    * fixtures and the oracle's alphabet; byte-wise ASCII lower vs
    * Unicode lower is the known WordNgrams-wide trade, see ADVICE r16).
    */
  private def backoffSplitDocs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.operators.Curation.hashSplit(
      Documents.spread(s, dir).select(col("doc_id"), col("text")),
      "doc_id", Seq("test" -> "1a", "val" -> "34"), "train")
      .persist()
  }

  /** Trigram stream of a (doc_id, text) table as space-joined gram
    * STRINGS (occurrence mode: every position, nothing for docs < 3
    * words — exactly the old size(w) >= 3 filter). Words are [a-z0-9]+
    * so " "-joined grams are bijective with (w1, w2, w3) triples; the
    * single-string key also makes every model join one-column.
    */
  private def backoffTris(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    df.select(col("doc_id"),
      graft.functions.WordNgrams(col("text"), 3, distinct = false).as("g"))
  }

  /** The shared stupid-backoff model build + scorer behind q319 (test
    * split only) and q333 (whole corpus): trains the three count tables
    * on `train` and scores the `scoreTris` trigram stream through the
    * five keyed model joins, rolling up per-doc mean negative log
    * likelihood. Semantics and plan are q319's verbatim — q333 reuses
    * the identical tables, not a re-derivation.
    */
  private def backoffScore(train: DataFrame, scoreTris: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val alpha = 0.4
    // model counts from the native occurrence-mode generators (one byte
    // pass each; grams < n emit nothing ≡ the old size(w) >= n filters);
    // single-string gram keys replace the 2/3-column composites
    def grams(n: Int) = train.select(
      graft.functions.WordNgrams(col("text"), n, distinct = false).as("g"))
    val c3 = grams(3).groupBy("g").agg(count(lit(1)).as("c3"))
    val c2 = grams(2).groupBy("g").agg(count(lit(1)).as("c2")).persist()
    val c1 = grams(1).groupBy("g").agg(count(lit(1)).as("c1")).persist()
    val n = c1.agg(sum(col("c1")).as("n_total"))
    // Same five keyed model joins as before, but every key is ONE
    // string column sliced from the gram (substring_index is codegen'd;
    // words are [a-z0-9]+ so the slices are exact) instead of 2/3-column
    // string composites. (An attach-the-denominators-at-model-grain
    // variant — 3 stream joins + 2 model-grain joins — measured SLOWER
    // here: the trigram-TYPE model side is as large as the scored
    // stream, so the saved stream exchanges cost more as model
    // exchanges; recorded in OPTIMIZATION_r17.md.)
    val score =
      when(col("c3").isNotNull, col("c3").cast("double") / col("c2ctx"))
        .otherwise(when(col("c2_23").isNotNull,
          lit(alpha) * col("c2_23").cast("double") / col("c1_w2"))
          .otherwise(lit(alpha * alpha) *
            coalesce(col("c1_w3"), lit(1L)).cast("double") / col("n_total")))
    scoreTris
      .withColumn("g12", substring_index(col("g"), " ", 2))
      .withColumn("g23", substring_index(col("g"), " ", -2))
      .withColumn("w2", substring_index(col("g23"), " ", 1))
      .withColumn("w3", substring_index(col("g"), " ", -1))
      .join(c3, Seq("g"), "left")
      .join(c2.select(col("g").as("g12"), col("c2").as("c2ctx")), Seq("g12"), "left")
      .join(c2.select(col("g").as("g23"), col("c2").as("c2_23")), Seq("g23"), "left")
      .join(c1.select(col("g").as("w2"), col("c1").as("c1_w2")), Seq("w2"), "left")
      .join(c1.select(col("g").as("w3"), col("c1").as("c1_w3")), Seq("w3"), "left")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), round(-log(score) * 1e9).cast("long").as("lq"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_scored"), sum(col("lq")).as("s"))
      .select(col("doc_id"), col("n_scored"),
        round(col("s") / 1e9 / col("n_scored"), 6).as("avg_nll"))
  }

  /** q333: LM-based quality gate — CCNet's perplexity filter (Wenzek et
    * al. 2020) / Gopher's quality rung (Rae et al. 2021) instantiated on
    * q319's trained stupid-backoff trigram LM: score EVERY document
    * (≥ 3 words) against the 'train'-split count tables, rank the corpus
    * by mean negative log likelihood, and flag the worst decile — the
    * actual production use of a count LM in a data pipeline, and the
    * missing rung between the unigram-frequency quality score (q88) and
    * the LMs themselves (q319/q322). Output per doc: (doc_id, n_scored,
    * avg_nll, ppl_decile, flagged) with decile 1 = highest avg_nll =
    * worst; `flagged` marks it. DETERMINISM: the per-doc score is
    * q319's 1e9-quantized exact sum; the decile is
    * [[graft.operators.Quantiles.ntileExact]] over the
    * (avg_nll desc, doc_id) TOTAL order — bit-equal to SQL
    * ntile(10), which the oracle uses verbatim. Scale shape: the model
    * build and five serving joins are q319's (sharded count tables,
    * map-side-combinable aggs); the decile adds ONE range exchange +
    * pid-partitioned window (no single-partition sort — ntileExact's
    * contract); nothing else touches the corpus grain.
    */
  def q333PerplexityGate(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val wd = backoffSplitDocs(s, dir)
    val scored = backoffScore(wd.filter(col("split") === "train"), backoffTris(wd))
    graft.operators.Quantiles
      .ntileExact(scored, 10, Seq(col("avg_nll").desc, col("doc_id")), "ppl_decile")
      .select(col("doc_id"), col("n_scored"), col("avg_nll"),
        col("ppl_decile"), (col("ppl_decile") === 1).as("flagged"))
  }

  /** q322: interpolated Kneser–Ney bigram language model — the
    * NORMALIZED complement to q319's stupid backoff (Kneser & Ney 1995;
    * Chen & Goodman 1999's interpolated form). Train bigram counts on
    * the q71 'train' split and score every 'test'-split bigram position
    * with absolute discounting D = 0.75 interpolated against the
    * continuation distribution:
    *
    *   P(v|u) = (max(c(u,v) − D, 0) + D·N1+(u,•)·Pcont(v)) / c(u,•)
    *   Pcont(v) = (N1+(•,v) + 1) / (B + V + 1)
    *
    * where N1+(u,•)/N1+(•,v) are distinct follower/predecessor type
    * counts, B = distinct bigram types, V = train vocabulary size —
    * Pcont carries add-one smoothing over vocab ∪ {OOV} so it is a
    * proper distribution with no zero, and an unseen context u backs
    * off to Pcont(v) alone (λ = 1). Every quantity is a ratio of exact
    * integer TYPE/token counts, so unlike stupid backoff the model is a
    * true probability (sums to 1 per context) — the cost is exactly the
    * normalization passes q319 avoids, and the plan shows they are
    * cheap: both (c(u,•), N1+(u,•)) and N1+(•,v) derive from the bigram
    * count table by ONE more hash agg each, grain = bigram/unigram
    * TYPES, not tokens. DETERMINISM: per-position -ln P is 1e9-quantized
    * to a long before the per-doc sum (q319's idiom); the double ops per
    * position are fixed-order mul/div/add of exactly-representable
    * integers + one ln. Scale shape: model build = one token-grain
    * bigram agg + two type-grain aggs + two 1-row totals; scoring = the
    * test bigram stream through THREE keyed joins (bigram, context,
    * continuation — the same Brants sharded-serving shape as q319) +
    * two 1-row broadcasts; rollup one doc-keyed agg. Docs with < 2
    * words have no scored position and produce no row.
    */
  def q322KneserNeyLm(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    // (doc_id, text, split) — the md5 coin is doc-keyed; tokenization
    // happens in the native occurrence-mode WordNgrams generators below
    // (r17, the q319/q323 treatment: one byte pass per consumer, no
    // interpreted wordsArr HOF chains; emits nothing for docs < n ≡ the
    // old size(w) >= n filters; ASCII-equivalent tokenization, see
    // backoffSplitDocs). Bigrams are space-joined gram STRINGS — words
    // are [a-z0-9]+ so "u v" ↔ (u, v) bijectively, and the context /
    // continuation keys are codegen'd substring_index slices.
    val wd = graft.operators.Curation.hashSplit(
      Documents.spread(s, dir).select(col("doc_id"), col("text")),
      "doc_id", Seq("test" -> "1a", "val" -> "34"), "train")
      .persist()
    def bis(df: DataFrame) = df.select(col("doc_id"),
      graft.functions.WordNgrams(col("text"), 2, distinct = false).as("g"))
    val train = wd.filter(col("split") === "train")
    val c2 = bis(train).groupBy("g").agg(count(lit(1)).as("c2")).persist()
    val ctx = c2.groupBy(substring_index(col("g"), " ", 1).as("u"))
      .agg(sum(col("c2")).as("cctx"), count(lit(1)).as("n1f"))
    val np = c2.groupBy(substring_index(col("g"), " ", -1).as("v"))
      .agg(count(lit(1)).as("n1p"))
    val bt = c2.agg(count(lit(1)).as("btypes"))
    val vc = train
      .select(graft.functions.WordNgrams(col("text"), 1, distinct = false).as("word"))
      .distinct()
      .agg(count(lit(1)).as("v_sz"))
    val test = bis(wd.filter(col("split") === "test"))
      .withColumn("u", substring_index(col("g"), " ", 1))
      .withColumn("v", substring_index(col("g"), " ", -1))
    // fixed-order IEEE ops, mirrored verbatim in the oracle SQL
    val pcont = (coalesce(col("n1p"), lit(0L)) + 1).cast("double") /
      (col("btypes") + col("v_sz") + 1)
    val p = when(col("cctx").isNotNull,
      (greatest(coalesce(col("c2"), lit(0L)).cast("double") - 0.75, lit(0.0))
        + lit(0.75) * col("n1f").cast("double") * pcont) / col("cctx").cast("double"))
      .otherwise(pcont)
    test
      .join(c2, Seq("g"), "left")
      .join(ctx, Seq("u"), "left")
      .join(np, Seq("v"), "left")
      .crossJoin(broadcast(bt))
      .crossJoin(broadcast(vc))
      .select(col("doc_id"), round(-log(p) * 1e9).cast("long").as("lq"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_scored"), sum(col("lq")).as("s"))
      .select(col("doc_id"), col("n_scored"),
        round(col("s") / 1e9 / col("n_scored"), 6).as("avg_nll"))
  }

  /** q323: hashed n-gram importance resampling — the DSIR recipe (Xie
    * et al. 2023, "Data Selection for Language Models via Importance
    * Resampling"): featurize every document as counts over 1024 hashed
    * unigram+bigram buckets, fit add-one-smoothed bucket distributions
    * for the TARGET domain (lang = 'en') and the RAW pool (all docs),
    * and score each document with its log importance weight
    * Σ_b n_doc(b) · ln(p_target(b)/p_raw(b)); report the top-50 non-'en'
    * docs by (weight desc, doc_id) — the "select raw data that looks
    * like the target" primitive of modern pretraining curation.
    * DETERMINISM: each bucket's log-ratio is computed once from exact
    * integer counts (the ratio is formed as a quotient of two exact-
    * rounded double PRODUCTS so 100 TB count magnitudes cannot overflow
    * a long) and 1e9-quantized to a long; the per-doc score is then an
    * exact INTEGER dot product n_doc(b)·lq(b) — order-free. Bucket =
    * md5 6-hex-prefix mod 1024 (q81's reproducible-hash idiom).
    * Scale shape: the token-grain work is ONE (doc, bucket) hash agg
    * and one (bucket) hash agg each for target/raw (all map-side
    * combinable); the model is a ≤1024-row broadcast; selection is one
    * bounded TakeOrdered. No windows, no driver state.
    */
  def q323ImportanceResampling(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    // occurrence-mode native n-gram generators (one byte pass each, no
    // intermediate word array): the previous wordsArr-HOF + explode
    // chains re-ran the interpreted tokenizer per branch. Occurrence
    // mode emits nothing for docs shorter than n — exactly the old
    // size(w) >= n filters. Same gram multiset, same buckets.
    val d = Documents.spread(s, dir)
    def grams1(n: Int) = d.select(col("doc_id"), col("lang"),
      graft.functions.WordNgrams(col("text"), n, distinct = false).as("g"))
    val grams = grams1(1).unionByName(grams1(2))
      .withColumn("bkt",
        conv(substring(md5(col("g")), 1, 6), 16, 10).cast("long") % 1024)
    // lang is doc-functional, so carrying it through the (doc, bucket)
    // agg is free — and raw/tgt then derive from the PERSISTED docBkt
    // instead of re-tokenizing the corpus once each
    val docBkt = grams.groupBy(col("doc_id"), col("lang"), col("bkt"))
      .agg(count(lit(1)).as("n")).persist()
    // ONE conditional-sum agg produces BOTH the pool and the target
    // bucket counts (r17, guide §2.4): the previous raw/tgt pair was
    // two separate aggregations over docBkt joined back on bkt — one
    // full cache read, one exchange and one join more than needed.
    // ct = 0 where no target grams hit the bucket ≡ the old left
    // join's coalesce(ct, 0). One divergence: with zero target-language
    // rows the old separate sum gave nt = null (null scores); this sum
    // of zeros gives nt = 0 and finite scores.
    val bktTab = docBkt.groupBy("bkt").agg(sum(col("n")).as("cr"),
      sum(when(col("lang") === "en", col("n")).otherwise(lit(0L))).as("ct"))
    val tots = bktTab.agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt"))
    val lqTab = bktTab
      .crossJoin(broadcast(tots))
      .select(col("bkt"),
        round(log(
          ((col("ct") + 1).cast("double")
            * (col("nr") + 1024).cast("double"))
            / ((col("cr") + 1).cast("double")
              * (col("nt") + 1024).cast("double"))) * 1e9)
          .cast("long").as("lq"))
    // lang rides the persisted docBkt grain — no doc-grain join-back
    // scan just to recover it (round-10 review finding)
    docBkt.join(broadcast(lqTab), Seq("bkt"))
      .groupBy("doc_id", "lang")
      .agg(sum(col("n") * col("lq")).as("wq"), sum(col("n")).as("n_feats"))
      .filter(col("lang") =!= "en")
      .orderBy(col("wq").desc, col("doc_id").asc)
      .limit(50)
      .select(col("doc_id"), col("lang"), col("n_feats"),
        round(col("wq") / 1e9, 6).as("log_importance"))
  }

  /** q332: skip-gram negative-sampling table — the word2vec/SGNS
    * TRAINING-DATA generator (Mikolov et al. 2013): distinct
    * (center, context) pairs from ±2 skip-gram windows, each paired
    * with k = 2 negatives drawn from the unigram^0.75 distribution —
    * the op that turns a corpus into contrastive training triples.
    * Windows are generated by POSITION-SHIFT EQUI-JOINS ((doc, pos+o)
    * for o ∈ {1,2}, both directions emitted) — never a per-doc
    * positional self-join whose intermediate is n² per doc. Negative
    * draws are the md5 convention: u = md5(center|context|i) mod W
    * over the 1e6-quantized cumulative c^0.75 weights (prefix sums via
    * `Quantiles.prefixSums` — range exchange, no single-partition
    * window even though the grain is vocabulary); the interval lookup
    * is a BUCKETED range join — each vocab interval exploded onto the
    * ~1024 fixed buckets it overlaps, draws equi-joined on bucket and
    * range-filtered — the scale path where a broadcast nested-loop
    * against a production-sized vocabulary would be draws×|V|. A draw
    * may land on its own center/context (the standard SGNS collision;
    * kept, deterministically, rather than resampled). DETERMINISM:
    * weights and prefix sums are exact longs after one quantized pow
    * per vocab TYPE; draws are exact integer arithmetic; exactly one
    * interval contains each u. Scale shape: two position-shift
    * equi-joins + one distinct for pairs; vocab-grain weight table;
    * draws = 2 rows per distinct pair through one bucket equi-join.
    */
  def q332NegativeSampling(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val pos = graft.operators.Ranking
      .tokensWithPos(Documents.spread(s, dir), "text", "doc_id").persist()
    val shifted = Seq(1, 2).map { o =>
      pos.as("a").join(pos.as("b"),
        col("a.doc_id") === col("b.doc_id")
          && col("b.pos") === col("a.pos") + o)
        .select(col("a.word").as("center"), col("b.word").as("context"))
    }.reduce(_ unionByName _)
    // both orientations emitted from ONE pass over the join output —
    // a union of two selects over `shifted` would re-execute the
    // token-grain joins once per branch (round-10 review finding)
    val pairs = shifted
      .select(explode(array(
        struct(col("center"), col("context")),
        struct(col("context").as("center"), col("center").as("context"))))
        .as("p"))
      .select(col("p.center").as("center"), col("p.context").as("context"))
      .distinct()
    val vocab = pos.groupBy("word").agg(count(lit(1)).as("c"))
      .withColumn("w_fp", round(pow(col("c").cast("double"), 0.75) * 1e6)
        .cast("long"))
    val cum = graft.operators.Quantiles.prefixSums(
      vocab, Seq(col("word").asc), Seq("w_fp" -> "cum"))
    val tot = cum.agg(max(col("cum")).as("w_tot"))
    // fixed ~1024 bucket grid over [0, W): every vocab interval
    // [cum - w_fp, cum) lands on the buckets it overlaps. ONE
    // definition of the bucket step, shared by grid and probes — a
    // drifted copy would silently drop draws whose bucket misses its
    // interval (round-10 review finding)
    val step = greatest(lit(1L), expr("w_tot div 1024"))
    val buckets = cum.crossJoin(broadcast(tot))
      .withColumn("stp", step)
      .select(col("word").as("negative"),
        (col("cum") - col("w_fp")).as("lo"), col("cum").as("hi"),
        explode(sequence(expr("(cum - w_fp) div stp"),
          expr("(cum - 1) div stp"))).as("bkt"))
    val draws = pairs
      .select(col("center"), col("context"),
        explode(array(lit(1), lit(2))).as("draw_i"))
      .crossJoin(broadcast(tot))
      .withColumn("stp", step)
      .select(col("center"), col("context"), col("draw_i"), col("stp"),
        (conv(substring(md5(concat_ws("|", col("center"), col("context"),
          col("draw_i").cast("string"))), 1, 13), 16, 10).cast("long")
          % col("w_tot")).as("u"))
    draws
      .select(col("center"), col("context"), col("draw_i"), col("u"),
        expr("u div stp").as("bkt"))
      .join(broadcast(buckets), Seq("bkt"))
      .filter(col("u") >= col("lo") && col("u") < col("hi"))
      .select(col("center"), col("context"), col("draw_i"), col("negative"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q319_backoff_lm" -> (q319BackoffLm _),
    "q333_perplexity_gate" -> (q333PerplexityGate _),
    "q332_negative_sampling" -> (q332NegativeSampling _),
    "q322_kneser_ney_lm" -> (q322KneserNeyLm _),
    "q323_importance_resampling" -> (q323ImportanceResampling _),
    // q253: tokenizer fertility by (source, lang) — per corpus slice,
    // the cost profile a training pipeline reads before budgeting
    // tokens: document/char/word counts, sub-token count under the
    // BPE-ish pre-tokenizer split (q22's per-doc counters, rolled up),
    // fertility = subtokens per whitespace word (the multiplier that
    // turns a word budget into a token budget; code/digit-heavy
    // sources run high), and chars per subtoken (compression the
    // tokenizer achieves on that slice). DETERMINISM: exact integer
    // sums; the two ratios are single divisions of longs, round 6.
    // Scale shape: ONE scan with per-row regexp counters folded
    // map-side into a |sources×langs|-row hash agg — no join, no
    // window, composes with streaming ingest unchanged.
    "q253_token_fertility" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      Documents.spread(s, dir)
        .select(col("source"), col("lang"),
          length(col("text")).as("nc"),
          size(filter(split(trim(col("text")), "\\s+"),
            t => length(t) > 0)).as("nw"),
          regexp_count(col("text"),
            lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).as("nt"))
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nc")).as("n_chars"),
          sum(col("nw")).as("n_words"),
          sum(col("nt")).as("n_subtokens"))
        .select(col("source"), col("lang"), col("n_docs"), col("n_chars"),
          col("n_words"), col("n_subtokens"),
          when(col("n_words") > 0,
            round(col("n_subtokens").cast("double") / col("n_words"), 6))
            .otherwise(lit(0.0)).as("fertility"),
          when(col("n_subtokens") > 0,
            round(col("n_chars").cast("double") / col("n_subtokens"), 6))
            .otherwise(lit(0.0)).as("chars_per_token"))
    }),
    // q257: feature-hashing (hashing-trick) collision profile — the
    // corpus vocabulary folded into 32 hash buckets (md5 16-bit prefix
    // mod 32, the same portable coin as the split/sampling ops), per
    // bucket: distinct words landing there (collision load), total
    // corpus term frequency, and the bucket's share of all tokens.
    // This is the audit a pipeline runs before swapping unbounded
    // vocab embeddings for a fixed-width hashed TF vector (the q8
    // term table with bounded dimensionality): skewed shares mean
    // hash-feature collisions will dominate the signal.
    // DETERMINISM: md5 is engine-independent; counts are exact longs,
    // one final division. Scale shape: token scan → vocab-grain hash
    // agg (map-side combinable) → 32-row agg; the 1-row total
    // broadcasts back. No corpus-grain shuffle beyond the token agg.
    "q257_feature_hash" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val tf = Documents.spread(s, dir)
        .select(graft.functions.AlnumTokens(col("text")))
        .select(col("word"))
        .groupBy("word").agg(count(lit(1)).as("tf"))
        .select(
          (conv(substring(md5(col("word")), 1, 4), 16, 10).cast("long") % 32)
            .as("bucket"),
          col("tf"))
      val tot = tf.agg(sum(col("tf")).as("t"))
      tf.groupBy("bucket")
        .agg(count(lit(1)).as("n_words"), sum(col("tf")).as("total_tf"))
        .crossJoin(broadcast(tot))
        .select(col("bucket"), col("n_words"), col("total_tf"),
          round(col("total_tf").cast("double") / col("t"), 6).as("tf_share"))
    }),
    // q263: BPE merge learning — five rounds of the byte-pair-encoding
    // vocabulary construction loop over the corpus word types: start
    // from character symbols, and each round (a) count every adjacent
    // symbol pair weighted by word frequency, (b) pick the most
    // frequent pair (ties: lexicographic), (c) greedily left-to-right
    // merge it in every word. q105 counts ONE round's pairs; this runs
    // the actual iterative learner a tokenizer build executes.
    // DETERMINISM: pair counts are exact integer sums; the per-round
    // winner has a total (cnt desc, a asc, b asc) order; the merge is
    // the standard greedy left fold (both engines fold left-to-right:
    // Spark `aggregate`, DuckDB `list_reduce`). Scale shape: the loop
    // state is VOCABULARY-grain (word types × symbol arrays, persisted
    // per round) — corpus row count prices only the initial word-count
    // agg; each round is one explode + hash agg + a 1-ROW driver
    // round-trip (the kmeans bounded-state pattern: the chosen pair is
    // a plan literal, so no corpus- or vocab-grain driver state) + a
    // narrow fold projection. Rounds are a constant (5).
    "q263_bpe_learn" -> ((s, dir) => {
      import s.implicits._
      bpeRounds(s, dir, 5, needTotals = false)._1
        .toDF("round", "lhs", "rhs", "pair_freq", "merged_token")
    }),
    // q288: the BATCHED BPE learner (up to 3 merges accepted per
    // super-round under the disjointness + strict-count-gap rule) must
    // produce the IDENTICAL merge log as sequential q263 — the oracle
    // is literally q263's unrolled sequential CTE, so the driver hash
    // proves the batching equivalence, not just a spec. This is the
    // 32k-vocab scale path: driver round-trips scale with
    // merges/batch, not merges.
    "q288_bpe_learn_batched" -> ((s, dir) => {
      import s.implicits._
      bpeRoundsBatched(s, dir, totalMerges = 5, maxBatch = 3)._1
        .toDF("round", "lhs", "rhs", "pair_freq", "merged_token")
    }),
    // q264: BPE compression curve — corpus token totals after each of
    // q263's merge rounds (round 0 = raw characters), with the
    // compression ratio vs the character baseline: the "is the
    // vocabulary earning its size" readout a tokenizer build tracks
    // per merge. DETERMINISM/scale: same loop as q263 (shared helper);
    // the totals are one exact Σ freq·|syms| scalar per round.
    "q264_bpe_compression" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.functions._
      val totals = bpeRounds(s, dir, 5)._2
      val t0 = totals.head._2
      totals.toDF("round", "corpus_tokens")
        .withColumn("compression_ratio",
          round(lit(t0).cast("double") / col("corpus_tokens"), 6))
    }),
    // q360: BPE APPLY — encode the whole corpus under q263's LEARNED
    // merge table: per document, each cleaned word replayed through the
    // five merges in priority order ([[graft.functions.BpeEncode]] —
    // the native sequential-replay expression with a per-task word
    // memo), emitting the per-doc word count, the post-encoding BPE
    // token count, and an md5 fingerprint of the FULL segmentation
    // (tokens ' '-joined within a word, words '|'-joined) so the
    // driver hash pins the entire encoding, not just its volume. This
    // is the tokenize-everything step a training pipeline runs over
    // all 100 TB. DETERMINISM: the merge table is q263's (already
    // hash-proven against the oracle's unrolled chain); the replay
    // fold is the learner's own per-round recurrence, so a corpus
    // word encodes to exactly the learner's final symbol table entry.
    // Scale shape: the learn loop is vocab-grain (q263's analysis);
    // the APPLY is ONE corpus scan, document-local, zero shuffles —
    // the merge table ships as a plan literal (vocabulary-sized), and
    // the per-task memo makes repeated words one hash probe each.
    // Oracle: the INDEPENDENT replay — DuckDB re-learns the merges
    // (bpeCte's unrolled chain) and reads each word's segmentation
    // from the final symbol table s5 (vocab-sized, exact), joins back
    // to documents, and re-aggregates the same three outputs.
    "q360_bpe_apply" -> (bpeApplyTable _),
    // q368: the SAME apply under the rank-priority encoder
    // (BpeEncodeRanked — O(len²) per first-seen word, |merges|-
    // independent: the production kernel at a 32k vocabulary, where
    // q360's sequential replay pays |merges| array passes per distinct
    // word). Oracle = q360's independent DuckDB merge replay VERBATIM,
    // so the driver's hash row IS the ranked ≡ replay equivalence
    // proof at corpus grain (Round15Spec carries the per-word pins,
    // including adversarial overlap/self-merge/unseen fixtures).
    "q368_bpe_apply_ranked" -> ((s, dir) =>
      bpeApplyProjection(Documents.spread(s, dir),
        bpeRounds(s, dir, 5, needTotals = false)._1.map(m => (m._2, m._3)),
        ranked = true)),
    // q377: unigram-LM (SentencePiece-style) tokenizer LEARN — the
    // OTHER production tokenizer family beside BPE (q263/q288): a
    // substring seed vocabulary refined by hard (Viterbi) EM, all
    // arithmetic fixed-point (see [[unigramVocabFromWords]]). The
    // E-step runs the SAME native Viterbi kernel q378 ships
    // ([[graft.functions.UnigramEncode]]), so learn and apply cannot
    // drift. Oracle: DuckDB re-derives the seed, unrolls both EM
    // rounds, and replays the per-word Viterbi DP as a recursive CTE
    // carrying the (best, backpointer) arrays — exact integer argmax,
    // ties to the smallest split (both engines scan j ascending with
    // strict >), so the learned table matches bit-for-bit.
    "q377_unigram_learn" -> ((s, dir) => {
      import s.implicits._
      unigramVocab(s, dir).toDF("piece", "piece_count", "logp_q")
    }),
    // q378: unigram-LM APPLY — Viterbi-encode the whole corpus under
    // q377's learned piece table (q360's output shape: per-doc word
    // count, piece count, md5 fingerprint of the full segmentation).
    // Scale shape: the learn loop is vocab-grain (q377's analysis);
    // the apply is ONE corpus scan, document-local, zero shuffles —
    // the ≤(alphabet+200)-piece table ships as a plan literal, the
    // per-task memo makes repeated words one hash probe each, and the
    // kernel is O(len · maxPieceLen) hash probes per first-seen word,
    // |vocab|-independent (the q368 scale argument).
    "q378_unigram_apply" -> ((s, dir) =>
      unigramApplyProjection(Documents.spread(s, dir),
        unigramVocab(s, dir).map { case (p, _, l) => (p, l) })),
    // q362: tokenizer ROUND-TRIP capstone (the q86 composition
    // discipline) — learned tokenizer to packed training batches in one
    // pipeline: q360's BPE APPLY (the SAME helper, byte-identical
    // stage output) supplies per-doc learned-token counts, q84's
    // packing CORE (Curation.packByCount — one definition of the md5
    // bucket coin and the integer cut arithmetic) assigns every doc a
    // (bucket, seq_id, tok_offset) under 512-token sequences, and the
    // q244-style padding readout prices the result: per bucket, the
    // sequence count, padded token volume (n_seqs · 512 — the last
    // sequence pads) and waste fraction, joined back to the doc grain
    // (8 rows, broadcast). This is the batch plan a training run
    // actually consumes — lengths measured in LEARNED tokens, not raw
    // words. DETERMINISM: counts are exact integers off the
    // hash-pinned q360 encoding; cuts are integer DIV/MOD; one rounded
    // division per bucket. Scale shape: q360's zero-shuffle corpus
    // pass, one per-bucket running-sum window (8-way parallel,
    // bucket-partitioned — never global), an 8-row rollup broadcast
    // back.
    "q362_tokenizer_roundtrip" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val enc = bpeApplyTable(s, dir)
        .select(col("doc_id"), col("n_bpe_tokens").as("n_tok"))
      // persisted: referenced TWICE below (the per-bucket rollup and the
      // doc-grain join) — without the cache the scan + BpeEncode replay
      // + running-sum window subtree would execute once per reference
      // (exchange reuse is not guaranteed across the two jobs); the
      // query runner owns the cache lifecycle (ADVICE r14)
      val packed = graft.operators.Curation
        .packByCount(enc, "doc_id", seqLen = 512, buckets = 8)
        .persist()
      // sequences the bucket OCCUPIES = ceil(tokens/512): the packed
      // stream is contiguous from offset 0, so this is exact — and it
      // is NOT max(seq_id)+1, which counts only the last doc's START
      // sequence and undercounts (negative "waste") whenever that doc
      // crosses a 512 boundary. A zero-token bucket occupies zero
      // sequences; its waste is 0 by the greatest() guard.
      val perBucket = packed.groupBy("bucket").agg(
        sum(col("n_tok")).as("bucket_tokens"))
        .withColumn("bucket_seqs", expr("(bucket_tokens + 511) DIV 512L"))
      packed.join(broadcast(perBucket), Seq("bucket"))
        .select(col("doc_id"), col("bucket"), col("seq_id"),
          col("tok_offset"), col("n_tok"), col("bucket_seqs"),
          (col("bucket_seqs") * 512L).as("bucket_padded_tokens"),
          round((col("bucket_seqs") * 512L - col("bucket_tokens"))
            .cast("double") /
            greatest(col("bucket_seqs") * 512L, lit(1L)), 6)
            .as("bucket_waste_frac"))
    }),
    // q363: per-language BPE fertility — tokens-per-word under the
    // LEARNED tokenizer, grouped by language: the multilingual-fairness
    // readout a tokenizer build ships (a vocabulary learned on a
    // skewed mix over-segments the minority languages, inflating their
    // effective sequence lengths and training cost — Ács 2019 /
    // XLM-R-style fertility audits). Composes q360's APPLY (the same
    // byte-identical helper) with the doc-grain language column; the
    // fertility is ONE rounded division per language over exact
    // integer sums. Scale shape: q360's zero-shuffle encode pass, a
    // doc-grain equi-join to the language column, one |langs|-row agg.
    "q363_bpe_fertility" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      bpeApplyTable(s, dir)
        .join(Documents.spread(s, dir).select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy("lang")
        .agg(sum(col("n_words")).as("n_words"),
          sum(col("n_bpe_tokens")).as("n_bpe_tokens"))
        .select(col("lang"), col("n_words"), col("n_bpe_tokens"),
          round(col("n_bpe_tokens").cast("double") /
            greatest(col("n_words"), lit(1L)), 6).as("fertility"))
    }),
    // q364: span-corruption masking plan — the T5-style denoising
    // objective's data-prep step, made DETERMINISTIC and shuffle-free:
    // each document's cleaned token stream is cut into fixed blocks of
    // 20 tokens, and every block long enough (≥ 4 tokens) masks ONE
    // 3-token span whose offset inside the block is the md5 coin of
    // (doc_id, block) — ~15% token corruption (3/20), non-overlapping
    // BY CONSTRUCTION (one span per disjoint block), reproducible
    // under re-runs/repartitioning/appends (pure function of ids, the
    // q71/q138 coin discipline; the paper's sequential random-span
    // walk would need order-dependent state and an engine-specific
    // RNG). Output: one row per masked span (doc_id, block, span_start
    // 1-based global, span_len, mask_id = block ordinal — the sentinel
    // id the target sequence interleaves). Scale shape: document-local
    // (one generate + one per-row transform), zero shuffles, any
    // corpus size.
    "q364_span_corruption" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      Documents.spread(s, dir)
        .select(col("doc_id"),
          size(graft.functions.TextFunctions.wordsArr(col("text")))
            .cast("long").as("n"))
        .select(col("doc_id"), col("n"),
          explode(sequence(lit(0L),
            greatest(ceil(col("n").cast("double") / 20.0).cast("long") - 1L,
              lit(0L)))).as("block"))
        .withColumn("block_len",
          least(lit(20L), col("n") - col("block") * 20L))
        .filter(col("block_len") >= 4L)
        .withColumn("offset",
          spanOffsetCol(col("doc_id"), col("block"), col("block_len")))
        .select(col("doc_id"), col("block"),
          (col("block") * 20L + col("offset") + 1L).as("span_start"),
          lit(3L).as("span_len"),
          col("block").as("mask_id"))
    }),
    // q380: span-corruption APPLY — the composed render of q364's plan
    // (the q379 discipline on the T5 side): the corrupted INPUT stream
    // (each masked 3-token span replaced by its block's sentinel
    // <extra_id_k>) and the TARGET stream (sentinel + the masked
    // tokens, block order) a denoising trainer actually consumes.
    // Only a doc's LAST block can be shorter than 20 tokens, so the
    // eligible-block ordinal IS the block number — the sentinel ids
    // match q364's mask_id exactly, and the same [[spanOffsetCol]]
    // coin places the span (one definition, plan ≡ render). Emits the
    // stream md5 fingerprints + exact token counts (the q360 seg_fp
    // discipline: the hash pins the entire render, the counts pin the
    // mass balance n_corrupted = n − 2·masks, n_target = 4·masks).
    // Scale shape: document-local array algebra inside ONE projection
    // — zero shuffles, no explode/regroup round trip — any corpus size.
    "q380_span_corruption_apply" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      def blockLen(k: org.apache.spark.sql.Column) =
        least(lit(20L), col("n_tokens") - k * 20L)
      def off(k: org.apache.spark.sql.Column) =
        spanOffsetCol(col("doc_id"), k, blockLen(k))
      def sentinel(k: org.apache.spark.sql.Column) =
        concat(lit("<extra_id_"), k.cast("string"), lit(">"))
      val base = Documents.spread(s, dir)
        .select(col("doc_id"),
          graft.functions.TextFunctions.wordsArr(col("text")).as("w"))
        .withColumn("n_tokens", size(col("w")).cast("long"))
        .withColumn("blocks", sequence(lit(0L),
          greatest(ceil(col("n_tokens").cast("double") / 20.0).cast("long") - 1L,
            lit(0L))))
      base.select(col("doc_id"), col("n_tokens"),
          size(filter(col("blocks"), k => blockLen(k) >= 4L)).cast("long")
            .as("n_masks"),
          flatten(transform(col("blocks"), k =>
            when(blockLen(k) >= 4L,
              concat(
                slice(col("w"), (k * 20L + 1L).cast("int"), off(k).cast("int")),
                array(sentinel(k)),
                slice(col("w"), (k * 20L + off(k) + 4L).cast("int"),
                  (blockLen(k) - off(k) - 3L).cast("int"))))
              .otherwise(slice(col("w"), (k * 20L + 1L).cast("int"),
                greatest(blockLen(k), lit(0L)).cast("int"))))).as("corrupted"),
          flatten(transform(filter(col("blocks"), k => blockLen(k) >= 4L), k =>
            concat(array(sentinel(k)),
              slice(col("w"), (k * 20L + off(k) + 1L).cast("int"), lit(3)))))
            .as("target"))
        .select(col("doc_id"), col("n_tokens"), col("n_masks"),
          size(col("corrupted")).cast("long").as("n_corrupted"),
          size(col("target")).cast("long").as("n_target"),
          md5(array_join(col("corrupted"), " ")).as("corrupted_fp"),
          md5(array_join(col("target"), " ")).as("target_fp"))
    }),
    // q366: curriculum data ordering — easy-to-hard training order
    // (Bengio et al. 2009) from signals the engine already verifies:
    // documents deciled by q88's unigram quality score (decile 1 =
    // highest mean log-prob = "easiest"), then SHUFFLED within each
    // decile by the md5 coin (a curriculum orders difficulty tiers,
    // not documents — within a tier the order must be unbiased and
    // reproducible, the q90 seeded-permutation discipline). Output:
    // (doc_id, decile, position, mean_logprob) — the read order a
    // training loop consumes tier by tier. Grain = q88's (docs with
    // ≥1 token; an empty doc has no difficulty signal). DETERMINISM:
    // deciles via Quantiles.ntileExact (exact SQL-ntile closed form,
    // no single-partition sort); position inside each decile over
    // (md5 coin, doc_id). Scale shape: q88's two hash aggs, then the
    // per-decile position through Quantiles.withGlobalRank over
    // (decile, u, doc_id) — within a decile the global ranks are
    // contiguous in (u, doc_id) order, so position = global rank −
    // the decile's min rank + 1 (a 10-row broadcast join). A decile-
    // PARTITIONED window would be a corpus-grain sort whose
    // parallelism is semantically capped at 10 (the round-14 `weak`);
    // the range exchange + pid window runs at full parallelism.
    "q366_curriculum_order" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val deciled = graft.operators.Quantiles.ntileExact(
        logprobScores(s, dir), 10,
        Seq(col("mean_logprob").desc, col("doc_id").asc), "decile")
      val u = conv(substring(md5(concat(lit("graft-cur-"),
        col("doc_id").cast("string"))), 1, 13), 16, 10).cast("long")
      val ranked = graft.operators.Quantiles.withGlobalRank(
        deciled.withColumn("u", u),
        Seq(col("decile").asc, col("u").asc, col("doc_id").asc), "grank")
      // min global rank per decile: 10 rows, recomputed off the rank
      // pass's internally persisted range partitioning — broadcast back
      val offs = ranked.groupBy("decile").agg(min(col("grank")).as("d0"))
      ranked.join(broadcast(offs), Seq("decile"))
        .select(col("doc_id"), col("decile"),
          (col("grank") - col("d0") + 1L).as("position"),
          col("mean_logprob"))
    }),
    // q277: autocomplete serving index — per 3-char prefix, the top-3
    // corpus words by frequency (freq desc, word asc): the
    // type-ahead result table a search box reads, built beside the
    // inverted index. DETERMINISM: exact counts over a total order.
    // Scale shape: token scan → vocab-grain hash agg → a window
    // PARTITIONED by prefix (high-cardinality key, no global sort);
    // at serving time the table is range-partitioned by prefix so a
    // keystroke touches one partition.
    "q277_autocomplete" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      Documents.spread(s, dir)
        .select(graft.functions.AlnumTokens(col("text")))
        .select(col("word"))
        .filter(length(col("word")) >= 3)
        .groupBy("word").agg(count(lit(1)).as("freq"))
        .withColumn("prefix", substring(col("word"), 1, 3))
        .withColumn("rank", row_number().over(
          Window.partitionBy("prefix")
            .orderBy(col("freq").desc, col("word").asc)))
        .filter(col("rank") <= 3)
        .select(col("prefix"), col("rank"), col("word"), col("freq"))
    }),
    // q279: Burrows' Delta stylometry — the authorship-attribution
    // distance between sources: z-scores of each source's relative
    // frequency of the corpus's top-30 words (the "function word"
    // proxy), pairwise mean |Δz|. High delta = different registers;
    // near-zero = same template/author — the provenance forensic
    // beside lexical cosine q229. DETERMINISM: relative frequencies
    // are exact integer divisions ((c·1e9) div tokens); z-scores are
    // mirrored double formulas 1e6-QUANTIZED to integers BEFORE the
    // 30-word pair sum (order-free); zero-variance words z = 0.
    // Scale shape: one token scan → (source, word) agg; everything
    // after is 30·|sources| rows, the pair table |sources|²·30.
    "q279_stylometry" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val sw = Documents.spread(s, dir)
        .select(col("source"), graft.functions.AlnumTokens(col("text")))
        .groupBy("source", "word").agg(count(lit(1)).as("c"))
        .persist()
      val top = sw.groupBy("word").agg(sum(col("c")).as("tc"))
        .orderBy(col("tc").desc, col("word").asc).limit(30)
        .select(col("word"))
      val tok = sw.groupBy("source").agg(sum(col("c")).as("toks"))
      // zero-count (source, top-word) cells materialized via the grid
      val grid = tok.crossJoin(broadcast(top))
      val rf = grid.join(sw, Seq("source", "word"), "left")
        .select(col("source"), col("word"),
          expr("(coalesce(c, 0) * 1000000000) div toks").as("rfq"))
      val st = rf.groupBy("word")
        .agg(count(lit(1)).as("ns"), sum(col("rfq")).as("sx"),
          sum(col("rfq").cast("decimal(38,0)") * col("rfq")).as("sxx"))
        .select(col("word"),
          (col("sx").cast("double") / col("ns")).as("mu"),
          sqrt((col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double") / col("ns"))
            / col("ns")).as("sd"))
      val z = rf.join(broadcast(st), Seq("word"))
        .select(col("source"), col("word"),
          when(col("sd") > 0,
            round((col("rfq") - col("mu")) / col("sd") * 1e6, 0).cast("long"))
            .otherwise(lit(0L)).as("zq"))
        .persist()
      z.select(col("source").as("source_a"), col("word"), col("zq").as("za"))
        .join(z.select(col("source").as("source_b"), col("word"),
          col("zq").as("zb")), Seq("word"))
        .filter(col("source_a") < col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("n_words"), sum(abs(col("za") - col("zb"))).as("sd"))
        .select(col("source_a"), col("source_b"), col("n_words"),
          round(col("sd") / 1e6 / col("n_words"), 6).as("delta"))
    }),
    // q232: quality-vs-duplication audit — documents deciled by
    // stopword ratio (q21's graded quality axis) against their exact-
    // duplicate rate (md5-fingerprint multiplicity > 1, q30's notion):
    // the curation diagnostic that tests the web-scale prior that
    // low-quality text is disproportionately boilerplate/duplicated —
    // whether dedup and quality filters will remove the SAME or
    // DIFFERENT mass. DETERMINISM: the decile is ntile over the total
    // (ratio, doc_id) order; dup flags are integer fingerprint counts.
    // Scale shape: one DocStats scan + one fingerprint hash agg (via a
    // fp-keyed count window) + a 10-row rollup; the decile assignment
    // runs as Quantiles.ntileExact (range exchange + pid window +
    // broadcast offsets, bit-equal to SQL ntile) — no single-partition
    // sort over the doc grain, same swap as q128/q173.
    "q232_quality_dup_rate" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val q = graft.operators.TextAnalysis.quality(Documents.spread(s, dir), "text", "doc_id")
        .select(col("doc_id"), col("stopword_ratio"))
      val dup = Documents.spread(s, dir)
        .select(col("doc_id"), md5(col("text")).as("fp"))
        .withColumn("is_dup",
          when(count(lit(1)).over(Window.partitionBy(col("fp"))) > 1, 1)
            .otherwise(0))
        .select(col("doc_id"), col("is_dup"))
      graft.operators.Quantiles.ntileExact(
          q.join(dup, Seq("doc_id")), 10,
          Seq(col("stopword_ratio").asc, col("doc_id").asc), "decile")
        .groupBy("decile")
        .agg(count(lit(1)).as("n_docs"), sum(col("is_dup")).as("n_dups"))
        .select(col("decile"), col("n_docs"), col("n_dups"),
          round(col("n_dups").cast("double") / col("n_docs"), 6).as("dup_rate"))
    }),
    // q229: lexical source similarity — cosine between source
    // word-FREQUENCY vectors through a shared-word equi-join (the
    // inverted-index dot-product trick of q153 at source grain): the
    // surface-form twin of q207's embedding-centroid matrix — when the
    // two disagree, sources share vocabulary but not meaning (or vice
    // versa). DETERMINISM: exact integer dot/norm sums, one double
    // division+sqrt per pair. Scale shape: pair work is bounded by
    // vocab × |sources|² — vocabulary-grain, never corpus²; norms are
    // one |sources|-sized agg off the same frequency table.
    "q229_source_lexical_sim" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val wf = Documents.spread(s, dir)
        .select(col("source"), graft.functions.AlnumTokens(col("text")))
        .groupBy("source", "word").agg(count(lit(1)).as("f"))
        .persist()
      val norms = wf.groupBy("source").agg(sum(col("f") * col("f")).as("n2"))
      val dots = wf
        .select(col("source").as("source_a"), col("word"), col("f").as("fa"))
        .join(wf.select(col("source").as("source_b"), col("word"),
          col("f").as("fb")), Seq("word"))
        .filter(col("source_a") < col("source_b"))
        .groupBy("source_a", "source_b").agg(sum(col("fa") * col("fb")).as("dot"))
      dots
        .join(norms.select(col("source").as("source_a"), col("n2").as("na2")),
          Seq("source_a"))
        .join(norms.select(col("source").as("source_b"), col("n2").as("nb2")),
          Seq("source_b"))
        .select(col("source_a"), col("source_b"),
          round(col("dot").cast("double") /
            sqrt(col("na2").cast("double") * col("nb2").cast("double")), 6)
            .as("cos"))
    }),
    // q213: KMV sketch MERGE — per-source k-minimum-values vocabulary
    // sketches (q73's deterministic md5 sketch, k=16) plus the '__merged'
    // row built ONLY from the per-source sketches (k smallest of their
    // union — exactly the global sketch, the mergeability that lets a
    // 1000-executor corpus fold sketches instead of words). DETERMINISM:
    // md5 order is a total order; estimates are one double division from
    // exact integers and a hex prefix. Scale shape: per-source top-k via
    // a source-partitioned window over the vocab-grain distinct (q121's
    // bounded TopKAgg is the swap if one source's vocab dominates);
    // the merge works on |sources|·k rows.
    "q213_kmv_union" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val k = 16
      val sk = Documents.spread(s, dir)
        .select(col("source"), graft.functions.AlnumTokens(col("text")))
        // the generator also emits `pos` — project to (source, word)
        // BEFORE distinct or the dedup key silently includes position
        .select(col("source"), col("word")).distinct()
        .select(col("source"), md5(col("word")).as("h"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("source").orderBy(col("h").asc)))
        .filter(col("rk") <= k)
        .persist()
      val per = sk.groupBy("source")
        .agg(count(lit(1)).as("k_actual"), max(col("h")).as("hmax"))
      val merged = sk.select(col("h")).distinct()
        .orderBy(col("h").asc).limit(k)
        .agg(count(lit(1)).as("k_actual"), max(col("h")).as("hmax"))
        .select(lit("__merged").as("source"), col("k_actual"), col("hmax"))
      per.unionByName(merged)
        .select(col("source"), col("k_actual"),
          round((col("k_actual") - 1).cast("double") /
            (conv(substring(col("hmax"), 1, 8), 16, 10).cast("double")
              / 4294967296.0), 6).as("est_vocab"))
    }),
    // q250: KMV sketch SET OPERATIONS — per source pair, the union and
    // intersection vocabulary estimates derived ONLY from the per-source
    // k=16 sketches (pair-merged sketch for the union, inclusion-
    // exclusion for the intersection, clamped at 0), with the EXACT
    // intersection beside them as the audit column: q213 proves sketches
    // merge; this proves the merged algebra answers overlap questions —
    // the sketch path for q127's cross-source contamination matrix when
    // exact vocab joins are unaffordable. DETERMINISM: md5 total order,
    // exact integer counts, the estimate divisions in one fixed
    // expression per row, round 6. Scale shape: sketch algebra touches
    // |sources|·k rows (|sources|²·2k for the pair merge); only the
    // audit column's vocab self-join is vocabulary-sized.
    "q250_kmv_setops" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val k = 16
      val vocab = Documents.spread(s, dir)
        .select(col("source"), graft.functions.AlnumTokens(col("text")))
        .select(col("source"), col("word")).distinct()
        .persist()
      val sk = vocab
        .select(col("source"), md5(col("word")).as("h"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("source").orderBy(col("h").asc)))
        .filter(col("rk") <= k)
        .persist()
      def est(ka: org.apache.spark.sql.Column,
          hm: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        (ka - 1).cast("double") /
          (conv(substring(hm, 1, 8), 16, 10).cast("double") / 4294967296.0)
      val per = sk.groupBy("source")
        .agg(count(lit(1)).as("ka"), max(col("h")).as("hm"))
      val pairs = per
        .select(col("source").as("source_a"), col("ka").as("ka_a"), col("hm").as("hm_a"))
        .crossJoin(per.select(col("source").as("source_b"),
          col("ka").as("ka_b"), col("hm").as("hm_b")))
        .filter(col("source_a") < col("source_b"))
      val grid = pairs.select("source_a", "source_b")
      val u = grid.join(sk.select(col("source").as("source_a"), col("h")), Seq("source_a"))
        .select("source_a", "source_b", "h")
        .unionByName(
          grid.join(sk.select(col("source").as("source_b"), col("h")), Seq("source_b"))
            .select("source_a", "source_b", "h"))
        .distinct()
      val mu = u
        .withColumn("rk", row_number().over(
          Window.partitionBy("source_a", "source_b").orderBy(col("h").asc)))
        .filter(col("rk") <= k)
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("ka_u"), max(col("h")).as("hm_u"))
      val ex = vocab.select(col("source").as("source_a"), col("word"))
        .join(vocab.select(col("source").as("source_b"), col("word")), Seq("word"))
        .filter(col("source_a") < col("source_b"))
        .groupBy("source_a", "source_b").agg(count(lit(1)).as("nx"))
      pairs.join(mu, Seq("source_a", "source_b"))
        .join(ex, Seq("source_a", "source_b"), "left")
        .select(col("source_a"), col("source_b"),
          round(est(col("ka_u"), col("hm_u")), 6).as("est_union"),
          round(greatest(lit(0.0),
            est(col("ka_a"), col("hm_a")) + est(col("ka_b"), col("hm_b"))
              - est(col("ka_u"), col("hm_u"))), 6).as("est_intersect"),
          coalesce(col("nx"), lit(0L)).as("n_exact_intersect"))
    }),
    // q186: per-source hapax-legomena profile — the vocabulary size of
    // each source and how much of it is corpus-frequency-1 (hapax). A
    // high hapax ratio flags OCR noise / random-suffix boilerplate; a
    // low one flags template spam — both standard pre-training corpus
    // triage signals. DETERMINISM: pure integer counting (a word's
    // corpus frequency is an exact sum over its per-source counts), one
    // final division. Scale shape: token scan → (word, source) hash agg
    // (map-side combinable) → vocab-sized global re-agg → join back on
    // `word` (both sides vocab-grain, exchange reused) → source-grain
    // agg. No window, no driver state; skew-free because the hot axis
    // is `word`, not `source`.
    "q186_hapax_stats" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val ws = Documents.spread(s, dir)
        .select(col("source"), graft.functions.AlnumTokens(col("text")))
        .groupBy("word", "source").agg(count(lit(1)).as("c"))
      val glob = ws.groupBy("word").agg(sum(col("c")).as("cnt"))
      ws.join(glob, Seq("word"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_vocab"),
          sum((col("cnt") === 1).cast("long")).as("n_hapax"))
        .select(col("source"), col("n_vocab"), col("n_hapax"),
          round(col("n_hapax").cast("double") / col("n_vocab"), 6)
            .as("hapax_ratio"))
    }),
    // q187: per-document sentence statistics — segment on [.!?]+ runs,
    // trim, drop empties; report sentence count, mean and max sentence
    // length in characters (the readability/segmentation profile a
    // chunking pipeline reads before picking window sizes).
    // DETERMINISM: split/trim/length are exact string ops; the only
    // division is the final mean. Scale shape: a SHUFFLE-FREE
    // projection — the array never leaves its row (size / aggregate /
    // array_max are per-row folds), so this runs at scan speed and
    // composes with streaming ingest unchanged.
    "q187_sentence_stats" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val segs = filter(
        transform(split(col("text"), "[.!?]+"), x => trim(x)),
        x => length(x) > 0)
      Documents.spread(s, dir)
        .select(col("doc_id"), segs.as("segs"))
        .select(col("doc_id"),
          size(col("segs")).as("n_sentences"),
          aggregate(col("segs"), lit(0L), (acc, x) => acc + length(x)).as("chars"),
          coalesce(array_max(transform(col("segs"), x => length(x))), lit(0))
            .as("max_sentence_chars"))
        .select(col("doc_id"), col("n_sentences"),
          round(col("chars").cast("double") /
            greatest(col("n_sentences"), lit(1)), 6).as("mean_sentence_chars"),
          col("max_sentence_chars"))
    }),
    // q201: top-10 character trigrams per language — the classic
    // char-n-gram language profile (the feature table a production
    // lang-ID model is trained on; q25's n-gram heuristic reads
    // exactly this kind of table). Text is lowercased, non-alnum runs
    // collapsed to single spaces, so trigrams straddle word boundaries
    // the way char-LM features do. DETERMINISM: pure string ops +
    // integer counts; rank is the (count DESC, trigram ASC) total
    // order. Scale shape: trigram generation is a per-row generator
    // (no shuffle); the agg is (lang × trigram)-grain, bounded by 37³
    // per language; the top-10 window runs on that bounded table.
    "q201_char_trigrams" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      // clean ONCE per row behind an explode barrier — referencing the
      // regex expression inside the transform() lambda would re-run it
      // per trigram position (measured 10× slower)
      val cleaned = Documents.spread(s, dir).select(col("lang"),
        trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")).as("ct"))
      val ct = col("ct")
      val tris = when(length(ct) >= 3,
        transform(sequence(lit(1), length(ct) - 2), i => ct.substr(i, lit(3))))
        .otherwise(array().cast("array<string>"))
      cleaned
        .select(col("lang"), explode(tris).as("tri"))
        .groupBy("lang", "tri").agg(count(lit(1)).as("cnt"))
        .withColumn("rank", row_number().over(
          Window.partitionBy("lang").orderBy(col("cnt").desc, col("tri").asc)))
        .filter(col("rank") <= 10)
        .select("lang", "rank", "tri", "cnt")
    }),
    // q191: per-source two-sample Kolmogorov–Smirnov statistic — each
    // source's document-length distribution vs the REST of the corpus
    // (the distribution-drift alarm that PSI (q157) bins away: KS is
    // binning-free, so it catches shape shifts PSI's fixed deciles
    // smooth over). The CDF gap is evaluated on the source×value grid
    // (q177's idiom) so jumps contributed only by the complement are
    // seen. DETERMINISM: the sup is maximized over INTEGER cross
    // products |cum_s·n_rest − cum_rest·n_src| and divided once at the
    // end. Scale shape: value-grain agg (distinct n_chars is small) →
    // sources×values grid → one cumsum window partitioned BY SOURCE
    // (each partition is values-sized); corpus rows are touched once.
    "q191_ks_test" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val d = Documents.spread(s, dir).select(col("source"), col("n_chars"))
      val perSV = d.groupBy("source", "n_chars").agg(count(lit(1)).as("c"))
      val srcTot = perSV.groupBy("source").agg(sum(col("c")).as("n_src"))
      val values = perSV.groupBy("n_chars").agg(sum(col("c")).as("cg"))
      val tot = values.agg(sum(col("cg")).as("n_all"))
      val w = Window.partitionBy("source").orderBy("n_chars")
      srcTot.crossJoin(values)
        .join(perSV, Seq("source", "n_chars"), "left")
        .na.fill(0L, Seq("c"))
        .withColumn("cum_s", sum(col("c")).over(w))
        .withColumn("cum_g", sum(col("cg")).over(w))
        .crossJoin(broadcast(tot))
        .select(col("source"), col("n_src"), (col("n_all") - col("n_src")).as("n_rest"),
          abs(col("cum_s") * (col("n_all") - col("n_src"))
            - (col("cum_g") - col("cum_s")) * col("n_src")).as("gap"))
        .groupBy("source", "n_src", "n_rest")
        .agg(max(col("gap")).as("gmax"))
        .select(col("source"), col("n_src"), col("n_rest"),
          round(col("gmax").cast("double") / (col("n_src") * col("n_rest")), 6)
            .as("ks_d"))
    }),
    // q177: pairwise Jensen-Shannon divergence between source unigram
    // distributions — the symmetric, bounded ([0, ln 2]) companion of
    // q170's KL-from-corpus: the source-similarity MATRIX a mixture
    // designer reads before weighting domains. Zero-frequency words are
    // materialized via the source×vocab grid so each pair sees the full
    // union vocabulary (a p=0 side contributes 0 by the 0·ln0 = 0
    // convention; the mixture m is then strictly positive on every kept
    // row). DETERMINISM: each pair term is quantized to a 1e9
    // fixed-point long BEFORE the per-pair sum (q170's idiom).
    // Scale shape: one token scan → (source, word) agg; the grid and
    // pair join are word-keyed and shuffle-parallel; output is
    // |sources|²/2 rows. The dense grid costs |sources|·|vocab| rows —
    // fine while the source count is bounded (it's a per-PAIR statistic;
    // with thousands of sources you'd threshold to top-vocab first).
    "q177_js_divergence" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val tok = Documents.spread(s, dir)
        .select(col("source"), graft.functions.AlnumTokens(col("text")))
      val sw = tok.groupBy("source", "word").agg(count(lit(1)).as("c"))
      val st = sw.groupBy("source").agg(sum(col("c")).as("tot_s"))
      val words = sw.select("word").distinct()
      val grid = st.crossJoin(words)
        .join(sw, Seq("source", "word"), "left")
        .select(col("source"), col("word"),
          (coalesce(col("c"), lit(0L)).cast("double") / col("tot_s")).as("p"))
      val a = grid.select(col("source").as("src_a"), col("word"),
        col("p").as("pa"))
      val b = grid.select(col("source").as("src_b"), col("word"),
        col("p").as("pb"))
      val m = (col("pa") + col("pb")) / 2
      a.join(b, Seq("word"))
        .filter(col("src_a") < col("src_b"))
        .filter(col("pa") + col("pb") > 0)
        .select(col("src_a"), col("src_b"),
          round((when(col("pa") > 0, col("pa") * log(col("pa") / m))
            .otherwise(lit(0.0))
            + when(col("pb") > 0, col("pb") * log(col("pb") / m))
              .otherwise(lit(0.0))) / 2 * lit(1e9)).cast("long").as("term_fp"))
        .groupBy("src_a", "src_b")
        .agg(sum(col("term_fp")).as("s_fp"))
        .select(col("src_a"), col("src_b"),
          round(col("s_fp").cast("double") / lit(1e9), 6).as("js"))
    }),
    // q181: Zipf's-law fit — OLS slope of ln(frequency) on ln(rank)
    // over the corpus vocabulary (the tokenizer-design diagnostic: a
    // healthy natural-language corpus sits near slope −1; synthetic or
    // boilerplate-heavy corpora bend away). DETERMINISM: q167's
    // closed-form OLS, but both regressors pass through the q170
    // quantization first — x = round(ln(rank)·1e9), y =
    // round(ln(cnt)·1e9) as longs — so Σx/Σy are exact integer sums and
    // Σxy/Σxx are exact DECIMAL(38,0) sums of long products; slope is
    // scale-invariant to the 1e9 factor, the intercept divides it back
    // out once. Rank is the total order (cnt DESC, word ASC).
    // Scale shape: one token scan → vocab-sized agg; the rank window is
    // a vocab-sized sort (the q87 trade); the moment agg is one row.
    "q181_zipf_fit" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val freq = Documents.spread(s, dir)
        .select(graft.functions.AlnumTokens(col("text")))
        .groupBy("word").agg(count(lit(1)).as("cnt"))
      val xy = freq
        .withColumn("rank", row_number().over(
          Window.orderBy(col("cnt").desc, col("word").asc)))
        .select(
          round(log(col("rank").cast("double")) * lit(1e9)).cast("long").as("x"),
          round(log(col("cnt").cast("double")) * lit(1e9)).cast("long").as("y"))
      val m = xy.agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"))
      val n = col("n").cast("decimal(38,0)")
      val num = (n * col("sxy") - col("sx").cast("decimal(38,0)")
        * col("sy")).cast("double")
      val den = (n * col("sxx") - col("sx").cast("decimal(38,0)")
        * col("sx")).cast("double")
      m.select(col("n").as("n_vocab"),
        round(num / den, 6).as("slope"),
        round((col("sy").cast("double") - num / den
          * col("sx").cast("double")) / col("n") / lit(1e9), 6).as("intercept"))
    }),
    // q182: Heaps'-law vocabulary growth curve — cumulative distinct
    // vocabulary vs cumulative token count in doc_id ingestion order
    // (the "how fast does my vocab table grow" capacity curve).
    // DETERMINISM: a word's first occurrence is min(doc_id) — an exact
    // integer agg — so the curve is two integer prefix sums over the
    // doc-grain table; no doubles anywhere. Scale shape: token agg +
    // word-grain min-agg (both map-side combinable), one doc-grain
    // window; at corpus scale you'd checkpoint the curve at sampled
    // doc_ids instead of every document.
    "q182_heaps_law" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val tok = Documents.spread(s, dir)
        .select(col("doc_id"), graft.functions.AlnumTokens(col("text")))
      val perDoc = tok.groupBy("doc_id").agg(count(lit(1)).as("n_tok"))
      val firstSeen = tok.groupBy("word").agg(min(col("doc_id")).as("fd"))
        .groupBy(col("fd").as("doc_id")).agg(count(lit(1)).as("n_new"))
      val base = perDoc.join(firstSeen, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tok"),
          coalesce(col("n_new"), lit(0L)).as("n_new"))
      // distributed prefix sums (Quantiles.prefixSums): range exchange +
      // pid window + broadcast offsets — the doc-grain curve never passes
      // through a single-partition window
      graft.operators.Quantiles
        .prefixSums(base, Seq(col("doc_id").asc),
          Seq("n_tok" -> "cum_tokens", "n_new" -> "cum_vocab"))
        .select("doc_id", "cum_tokens", "cum_vocab")
    }),
    // q179: decile lift / gains table of the q165 scorer ("n_chars
    // predicts English") — the campaign-targeting readout: per score
    // decile (1 = highest score), the response rate, lift over the base
    // rate, and cumulative gain. DETERMINISM: decile assignment is
    // exact SQL-ntile semantics over the TOTAL order (score DESC,
    // doc_id) — unique bucket per row under ties; every rate is
    // exact-integer-derived with one final division. Scale shape:
    // Quantiles.ntileExact ranks the scored table via a range exchange
    // + pid-partitioned row_number (bit-equal to the oracle's ntile,
    // no single-partition sort); everything downstream is 10 rows —
    // the cumulative gain is a bounded ≤-self-join of the decile
    // table, so the whole plan is free of unpartitioned windows.
    "q179_lift_table" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val scored = Documents.spread(s, dir).select(
        col("doc_id"), col("n_chars").as("score"),
        (col("lang") === "en").cast("long").as("pos"))
      val dec = graft.operators.Quantiles
        .ntileExact(scored, 10, Seq(col("score").desc, col("doc_id").asc), "decile")
        .groupBy("decile")
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"))
        .persist()
      val tot = dec.agg(sum(col("n")).as("tn"), sum(col("n_pos")).as("tp"))
      val cum = dec.select(col("decile").as("dc"))
        .join(broadcast(dec.select(col("decile").as("d2"), col("n_pos").as("np2"))),
          col("d2") <= col("dc"))
        .groupBy(col("dc")).agg(sum(col("np2")).as("cum_pos"))
      dec.join(broadcast(cum), col("decile") === col("dc"))
        .crossJoin(broadcast(tot))
        .select(col("decile"), col("n"), col("n_pos"),
          round(col("n_pos").cast("double") / col("n"), 6).as("rate"),
          round((col("n_pos").cast("double") / col("n"))
            / (col("tp").cast("double") / col("tn")), 6).as("lift"),
          round(col("cum_pos").cast("double") / col("tp"), 6).as("cum_gain"))
    }),
    "q20_lang_id" -> ((s, dir) => TextAnalysis.langId(Documents.spread(s, dir), "text", "doc_id")),
    "q21_quality" -> ((s, dir) => TextAnalysis.quality(Documents.spread(s, dir), "text", "doc_id")),
    // q22: one byte pass per document is lighter than the ScanSpread
    // exchange would be, so the scan is not spread
    "q22_token_counts" -> ((s, dir) => TextAnalysis.tokenCounts(Documents.read(s, dir), "text", "doc_id")),
    // q354: Gopher repetition gate — exact integer n-gram character
    // masses per document (Rae et al. 2021 A1.1), the repetition
    // dimension q238's funnel misses; document-local, zero shuffles.
    "q354_gopher_repetition" -> ((s, dir) =>
      TextAnalysis.gopherRepetition(Documents.spread(s, dir), "text", "doc_id")),
    "q23_fingerprints" -> ((s, dir) => TextAnalysis.fingerprints(Documents.spread(s, dir), "text", "doc_id")),
    "q24_winnow_pairs" -> (q24WinnowPairs _),
    "q25_lang_ngram" -> ((s, dir) => TextAnalysis.langIdNgram(Documents.spread(s, dir), "text", "doc_id")),
    "q70_curation" -> ((s, dir) =>
      graft.operators.Curation.curate(Documents.spread(s, dir), "text", "doc_id", Seq("en", "de"))),
    // q71: deterministic train/val/test assignment by md5(doc_id) prefix —
    // ~10.2% test (md5 prefix 00-19), ~10.2% val (1a-33), rest train.
    // Reproducible under re-runs/repartitioning, unlike sampling.
    "q71_hash_split" -> ((s, dir) =>
      graft.operators.Curation.hashSplit(
        Documents.spread(s, dir).select("doc_id"), "doc_id",
        Seq("test" -> "1a", "val" -> "34"), "train")),
    // q72: cap documents per source (deterministic md5-ranked choice) —
    // the over-represented-domain bound of a corpus curation pipeline.
    "q72_cap_per_source" -> ((s, dir) =>
      graft.operators.Curation.capPerGroup(
        Documents.spread(s, dir).select("doc_id", "source"), "source", "doc_id", k = 15)),
    // q81: deterministic domain-mixture resampling — src0 upsampled 2.5
    // epochs, src1 1.25, src2 kept at 20%, src3 dropped, the rest 1.0.
    // Exercises every weight regime (multi-epoch, fractional, sub-1, 0).
    "q81_mix_sources" -> ((s, dir) =>
      graft.operators.Curation.mixSources(
        Documents.spread(s, dir).select("doc_id", "source"), "source", "doc_id",
        Map("src0" -> 2.5, "src1" -> 1.25, "src2" -> 0.2, "src3" -> 0.0),
        default = 1.0)),
    // q82: overlapping token-window chunking (size 40, stride 25) — the
    // context-window split of a training/RAG ingestion pipeline, with a
    // per-chunk md5 fingerprint for chunk-level dedup/provenance.
    "q82_token_chunks" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      Documents.spread(s, dir).select(
        col("doc_id"), graft.functions.TokenChunks(col("text"), 40, 25))
    }),
    // q84: GPT-style sequence packing — concatenate docs per hash bucket,
    // cut every 512 tokens; each doc learns its sequence id and offset.
    "q84_pack_sequences" -> ((s, dir) =>
      graft.operators.Curation.packSequences(
        Documents.spread(s, dir), "text", "doc_id", seqLen = 512, buckets = 8)),
    // q87: vocabulary coverage — top-20 words by occurrence count and
    // the cumulative fraction of ALL token occurrences they cover (the
    // vocab-truncation / tokenizer-design statistic). The frequency agg
    // is persisted so its one shuffle feeds BOTH the top-20 TakeOrdered
    // and the grand total (the runner owns the cache lifecycle and clears
    // it per query); the ordered window runs over the TOP-K ONLY (the
    // vocabulary-sized global sort is a TakeOrdered, never a full sort).
    // q245: token-mass coverage at candidate vocabulary sizes — the
    // tokenizer-sizing curve (what fraction of all token occurrences the
    // top-k words cover, k ∈ {100, 1k, 10k}): q87 lists the top-20 words,
    // this sizes the vocab. Vocabulary ranks come from
    // Quantiles.withGlobalRank over (freq desc, word) — vocab-grain, no
    // single-partition sort — and all three coverage sums fold in ONE
    // aggregate over the ranked table. DETERMINISM: exact integer counts,
    // one division per output row.
    "q245_coverage_curve" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val freq = Documents.spread(s, dir)
        .select(graft.functions.AlnumTokens(col("text")))
        .groupBy("word").agg(count(lit(1)).as("cnt"))
      val ranked = graft.operators.Quantiles
        .withGlobalRank(freq, Seq(col("cnt").desc, col("word").asc), "rk")
      val f = ranked.agg(
        sum(col("cnt")).as("total"),
        sum(when(col("rk") <= 100, col("cnt"))).as("c100"),
        sum(when(col("rk") <= 1000, col("cnt"))).as("c1000"),
        sum(when(col("rk") <= 10000, col("cnt"))).as("c10000"))
      f.select(col("total"), explode(array(
          struct(lit(100).as("vocab_size"), col("c100").as("cov")),
          struct(lit(1000).as("vocab_size"), col("c1000").as("cov")),
          struct(lit(10000).as("vocab_size"), col("c10000").as("cov")))).as("x"))
        .select(col("x.vocab_size"), col("total").as("total_tokens"),
          coalesce(col("x.cov"), lit(0L)).as("covered_tokens"),
          round(coalesce(col("x.cov"), lit(0L)).cast("double") / col("total"), 6)
            .as("coverage"))
    }),
    // q246: declared-vs-detected language audit — per source, how many
    // documents the q20 classifier reads as a DIFFERENT language than
    // their metadata declares (plus the unknowns): the label-trust gate
    // before using `lang` for rebalancing (q98) or per-language filters.
    // Each leg is the exact q20 code path. DETERMINISM: integer counts,
    // one division per source row. Scale: one classifier scan + one
    // |sources|-row agg.
    "q246_lang_mismatch" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val pred = graft.operators.TextAnalysis
        .langId(Documents.spread(s, dir), "text", "doc_id")
        .select(col("doc_id"), col("pred_lang"))
      Documents.spread(s, dir).select(col("doc_id"), col("lang"), col("source"))
        .join(pred, Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("pred_lang") === "und", 1)).as("n_unknown"),
          count(when(col("pred_lang") =!= "und"
            && col("pred_lang") =!= col("lang"), 1)).as("n_mismatch"))
        .select(col("source"), col("n_docs"), col("n_unknown"), col("n_mismatch"),
          round(col("n_mismatch").cast("double") / col("n_docs"), 6)
            .as("mismatch_rate"))
    }),
    "q87_vocab_coverage" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val freq = Documents.spread(s, dir)
        .select(graft.functions.AlnumTokens(col("text")))
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .persist()
      val total = freq.agg(sum(col("cnt")).as("total"))
      val top = freq.orderBy(col("cnt").desc, col("word").asc).limit(20)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("cnt").desc, col("word").asc)))
      top.crossJoin(broadcast(total))
        .withColumn("cum", sum(col("cnt")).over(
          Window.orderBy(col("rank"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("rank"), col("word"), col("cnt"),
          round(col("cum") * lit(1.0) / col("total"), 6).as("cum_coverage"))
    }),
    // q115: TextRank corpus keywords — fixed-point PageRank over the
    // word co-occurrence graph (see operators.GraphRank for the full
    // determinism + scale contract). The oracle unrolls the identical
    // integer recurrence iteration by iteration.
    "q115_textrank" -> ((s, dir) =>
      graft.operators.GraphRank.textRank(Documents.spread(s, dir), "text", "doc_id")),
    // q113: count-min sketch heavy hitters — the bounded-memory frequency
    // sketch (depth 4 × width 1024 here; d×w counters at ANY corpus
    // scale, vs an unbounded exact-count hash table over the open key
    // domain). Built from the vocabulary-sized freq table — one corpus
    // scan total, everything downstream is vocab-sized: bucket(r, word)
    // = md5("r|word")[0,8) % w, sketch = Σ cnt per (row, bucket) —
    // identical to per-occurrence increments, replayed verbatim by the
    // oracle. Audit output: the exact top-20 words with exact count and
    // the CMS estimate (= min over rows of the word's bucket sums;
    // over-estimate bounded by collision mass, never an undercount —
    // spec-pinned in OperatorsSpec).
    "q113_heavy_hitters_cms" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val D = 4
      val W = 1024
      def bucket(r: Int): org.apache.spark.sql.Column =
        conv(substring(md5(concat(lit(s"$r|"), col("word"))), 1, 8), 16, 10)
          .cast("long") % W
      val rb = explode(array((0 until D).map(r =>
        struct(lit(r).as("r"), bucket(r).as("b"))): _*)).as("rb")
      val freq = Documents.spread(s, dir)
        .select(graft.functions.AlnumTokens(col("text")))
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .persist() // vocab-sized; feeds sketch AND probe set (runner clears)
      val sketch = freq.select(col("cnt"), rb)
        .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
        .agg(sum(col("cnt")).as("bcnt"))
      val probes = freq
        .orderBy(col("cnt").desc, col("word").asc).limit(20)
        .select(col("word"), col("cnt"), rb)
        .select(col("word"), col("cnt"), col("rb.r").as("r"), col("rb.b").as("b"))
      probes.join(broadcast(sketch), Seq("r", "b"))
        .groupBy("word", "cnt")
        .agg(min(col("bcnt")).as("est"))
        .select(col("word"), col("cnt"), col("est"))
    }),
    // q86 capstone: the full corpus-to-training-corpus pipeline — exact
    // dedup + quality gate + language filter (Curation.curate, q70),
    // then sequence-pack the survivors (packSequences, q84). Every stage
    // is the same code path its standalone query verifies; the semi-join
    // keeps the packing input narrow.
    "q86_training_corpus" -> ((s, dir) => {
      val d = Documents.spread(s, dir)
      val kept = graft.operators.Curation
        .curate(d, "text", "doc_id", Seq("en", "de")).select("doc_id")
      graft.operators.Curation.packSequences(
        d.join(kept, Seq("doc_id"), "left_semi"),
        "text", "doc_id", seqLen = 512, buckets = 8)
    }),
    // q88: unigram-LM quality score — per-doc mean log-probability of its
    // tokens under the corpus unigram model (the cheap perplexity proxy a
    // pipeline uses as a fluency/boilerplate filter before a real LM).
    // Determinism: each token's log-prob is quantized to fixed-point
    // (round(ln(p)·1e6) as a long) BEFORE the per-doc sum, so the
    // aggregation is exact integer arithmetic — partition-order invariant
    // (same trick as the q43 centroids); the only double ops are one ln
    // per DISTINCT frequency value and one division at the end.
    // Scale shape: token→freq is one hash agg; the re-join is on `word`
    // (vocabulary-sized right side); the per-doc regroup is one more hash
    // agg. No driver state, no window.
    "q88_logfreq_quality" -> ((s, dir) =>
      logprobScores(s, dir)
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("n_tokens"),
          org.apache.spark.sql.functions.col("mean_logprob"))),
    // q156: per-doc token-distribution entropy + type/token ratio — the
    // lexical-diversity stats of a corpus quality gate (template/spam
    // pages have low entropy at normal length; q21's ratios can't see
    // that). entropy = ln(n) - Σ c·ln(c) / n over the doc's word counts.
    // Determinism: each count's c·ln(c) term is quantized to fixed-point
    // (round(·1e6) as a long) BEFORE the per-doc sum — exact integer
    // aggregation, partition-order invariant (q88's idiom); the only
    // double ops are one ln per distinct count and the final division.
    // Scale shape: two hash aggs ((doc,word) then doc), both map-side
    // combinable; no window, no driver state.
    "q156_token_entropy" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val wc = Documents.spread(s, dir)
        .select(col("doc_id"), graft.functions.AlnumTokens(col("text")))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("cnt"))
      wc.groupBy("doc_id")
        .agg(
          sum(col("cnt")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(round(col("cnt").cast("double") * log(col("cnt").cast("double"))
            * lit(1e6)).cast("long")).as("s_fp"))
        .select(col("doc_id"), col("n_tokens"), col("n_types"),
          round(log(col("n_tokens").cast("double"))
            - (col("s_fp").cast("double") / lit(1e6))
              / col("n_tokens").cast("double"), 6).as("entropy"),
          round(col("n_types").cast("double")
            / col("n_tokens").cast("double"), 6).as("ttr"))
    }),
    // q160: deterministic stratified sample — keep EXACTLY ⌈0.3·n⌉ docs
    // per source stratum, chosen by md5(source#id) rank within the
    // stratum (q71's hash-not-rng idiom, but per-stratum EXACT fractions
    // where the md5-prefix split only hits the fraction in expectation).
    // The equal-representation sample of a corpus ablation. Both window
    // functions share one partition-by-source exchange; the rank order is
    // md5 over a unique id → total, so row_number is deterministic.
    // Scale: one shuffle on source; a mega-stratum serializes its own
    // partition (the standard window-skew trade — cap with q72 first if
    // a source dominates).
    "q160_stratified_sample" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val rk = md5(concat_ws("#", col("source"), col("doc_id").cast("string")))
      Documents.spread(s, dir).select(col("doc_id"), col("source"))
        .withColumn("rn",
          row_number().over(Window.partitionBy("source").orderBy(rk)))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("source")))
        .filter(col("rn") <= ceil(col("n") * lit(0.3)))
        .select("doc_id", "source")
    }),
    // q162: chi-square independence audit of source × lang — the
    // metadata-association gate a curation pipeline runs to detect a
    // source whose language mix diverges from the corpus (per-cell
    // (o−e)²/e contributions localize WHICH cell drives the statistic;
    // q157 is the numeric-drift twin, q136 the token-level PMI twin).
    // Only observed cells are emitted (both engines aggregate the same
    // rows, so the cell set matches). Marginals are tiny (|sources| and
    // |langs| rows) → broadcast joins; expected counts are exact-integer
    // products in double — identical in both engines.
    "q162_chi2_independence" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val o = Documents.spread(s, dir).groupBy("source", "lang").agg(count(lit(1)).as("o"))
      val rt = o.groupBy("source").agg(sum(col("o")).as("rt"))
      val ct = o.groupBy("lang").agg(sum(col("o")).as("ct"))
      val tot = o.agg(sum(col("o")).as("tot"))
      val e = col("rt").cast("double") * col("ct").cast("double") /
        col("tot").cast("double")
      o.join(broadcast(rt), "source").join(broadcast(ct), "lang")
        .crossJoin(broadcast(tot))
        .select(col("source"), col("lang"), col("o").as("observed"),
          round(e, 6).as("expected"),
          round((col("o").cast("double") - e) * (col("o").cast("double") - e)
            / e, 6).as("contrib"))
    }),
    // q164: classifier evaluation — confusion-matrix margins of the q20
    // language-ID prediction against the gold `lang` column, rolled up to
    // per-class precision / recall / F1 (the model-eval readout of an
    // annotation pipeline). F1 uses the identity 2PR/(P+R) = 2·tp /
    // (n_gold + n_pred), so every ratio is a pair of exact integers;
    // precision is NULL for classes the classifier never predicts
    // (gold zh here) — mirrored with NULLIF in the oracle. Scale shape:
    // one classifier scan + a |classes|²-bounded confusion agg; the
    // class-margin tables are tiny.
    "q164_confusion_matrix" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val pred = TextAnalysis.langId(Documents.spread(s, dir), "text", "doc_id")
        .select(col("doc_id"), col("pred_lang"))
      val conf = Documents.spread(s, dir).select(col("doc_id"), col("lang"))
        .join(pred, "doc_id")
        .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
      val byGold = conf.groupBy(col("lang").as("cls"))
        .agg(sum(col("n")).as("n_gold"),
          sum(when(col("lang") === col("pred_lang"), col("n"))
            .otherwise(0L)).as("tp"))
      val byPred = conf.groupBy(col("pred_lang").as("cls"))
        .agg(sum(col("n")).as("n_pred"))
      byGold.select("cls").union(byPred.select("cls")).distinct()
        .join(byGold, Seq("cls"), "left")
        .join(byPred, Seq("cls"), "left")
        .select(
          col("cls"),
          coalesce(col("tp"), lit(0L)).as("tp"),
          coalesce(col("n_gold"), lit(0L)).as("n_gold"),
          coalesce(col("n_pred"), lit(0L)).as("n_pred"),
          when(coalesce(col("n_pred"), lit(0L)) > 0,
            round(coalesce(col("tp"), lit(0L)).cast("double")
              / col("n_pred"), 6)).as("precision"),
          when(coalesce(col("n_gold"), lit(0L)) > 0,
            round(coalesce(col("tp"), lit(0L)).cast("double")
              / col("n_gold"), 6)).as("recall"),
          when(coalesce(col("n_gold"), lit(0L))
            + coalesce(col("n_pred"), lit(0L)) > 0,
            round(lit(2.0) * coalesce(col("tp"), lit(0L))
              / (coalesce(col("n_gold"), lit(0L))
                + coalesce(col("n_pred"), lit(0L))), 6)).as("f1"))
    }),
    // q165: exact ROC AUC of "doc length predicts English" via the
    // Mann-Whitney rank-sum identity. Midranks are avoided entirely:
    // Σ_pos 2·midrank = Σ_pos (r_min + r_max), an INTEGER, accumulated
    // from per-score counts — AUC = (s2 − n⁺(n⁺+1)) / (2 n⁺ n⁻) is one
    // double division at the very end, so tie handling can't drift
    // between engines. Scale shape: the ranking state is the per-SCORE
    // count table (|distinct scores| rows, not |docs|) and its one
    // running-total window — the aggregate-then-rank formulation of AUC
    // at corpus scale.
    "q165_auc_rank" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val per = Documents.spread(s, dir)
        .select(col("n_chars").as("score"),
          (col("lang") === "en").cast("long").as("pos"))
        .groupBy("score")
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("np"))
      val w = Window.orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
      per.withColumn("cb", coalesce(sum(col("n")).over(w), lit(0L)))
        .agg(
          sum(col("np") * (lit(2L) * col("cb") + col("n") + lit(1L)))
            .as("s2"),
          sum(col("np")).as("n_pos"),
          sum(col("n") - col("np")).as("n_neg"))
        .select(col("n_pos"), col("n_neg"),
          round((col("s2") - col("n_pos") * (col("n_pos") + lit(1L)))
            .cast("double")
            / (lit(2.0) * col("n_pos") * col("n_neg")), 6).as("auc"))
    }),
    // q166: reliability diagram (calibration bins) of an
    // English-stopword-DENSITY score (s_en / word count — the corpus's
    // synthetic text makes the s_en/Σs ratio saturate at 1.0, so density
    // is the score with real spread) against the gold label — the
    // calibration audit before trusting classifier scores as sampling
    // weights. Empty docs carry no score and are excluded (both engines
    // drop the same rows). Mean confidence uses the q156 fixed-point
    // idiom (round(conf·1e6) summed as longs) so the per-bin mean is
    // order-independent. Bins are twentieths of the observed density
    // range [0, 0.5] (density can exceed 0.5 only degenerately; capped
    // into the top bin). Scale: one classifier scan + one word-count
    // scan + a bounded-group agg.
    "q166_calibration" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val sc = TextAnalysis.langId(Documents.spread(s, dir), "text", "doc_id")
        .select(col("doc_id"), col("s_en"))
      val nw = Documents.spread(s, dir)
        .select(col("doc_id"),
          size(graft.functions.TextFunctions.wordsArr(col("text")))
            .as("n_words"), col("lang"))
        .filter(col("n_words") > 0)
      sc.join(nw, "doc_id")
        .withColumn("conf",
          col("s_en").cast("double") / col("n_words"))
        .withColumn("bin",
          least(floor(col("conf") * 20), lit(9L)).cast("int"))
        .groupBy("bin")
        .agg(
          count(lit(1)).as("n"),
          sum(round(col("conf") * 1e6).cast("long")).as("qsum"),
          sum((col("lang") === "en").cast("long")).as("n_pos"))
        .select(col("bin"), col("n"),
          round(col("qsum").cast("double") / 1e6 / col("n"), 6)
            .as("mean_conf"),
          round(col("n_pos").cast("double") / col("n"), 6).as("frac_pos"))
    }),
    // q170: per-source KL divergence from the corpus unigram
    // distribution — the domain-shift measure of a training mix (q157 is
    // the numeric twin, q162 the metadata twin; this one reads the TEXT).
    // Every source word exists in the corpus distribution by
    // construction, so no zero-probability guard is needed. Each
    // p_s·ln(p_s/p) term is a deterministic function of four exact
    // integers, quantized to round(term·1e9) longs BEFORE the per-source
    // sum (q156's idiom — a double sum's value would depend on partition
    // order). Scale shape: two vocab-sized hash aggs + one equi-join on
    // word + a |sources|-sized rollup; no windows.
    "q170_source_kl" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val tok = Documents.spread(s, dir)
        .select(col("source"), graft.functions.AlnumTokens(col("text")))
      val sw = tok.groupBy("source", "word").agg(count(lit(1)).as("c"))
      val st = sw.groupBy("source").agg(sum(col("c")).as("tot_s"))
      val cw = sw.groupBy("word").agg(sum(col("c")).as("cw"))
      val tot = sw.agg(sum(col("c")).as("tot"))
      val ps = col("c").cast("double") / col("tot_s")
      val p = col("cw").cast("double") / col("tot")
      sw.join(st, "source").join(cw, "word").crossJoin(broadcast(tot))
        .select(col("source"), col("tot_s"),
          round(ps * log(ps / p) * lit(1e9)).cast("long").as("term_fp"))
        .groupBy("source")
        .agg(max(col("tot_s")).as("n_tokens"),
          sum(col("term_fp")).as("s_fp"))
        .select(col("source"), col("n_tokens"),
          round(col("s_fp").cast("double") / lit(1e9), 6).as("kl"))
    }),
    // q121: per-source BEST-document selection under the q88 quality
    // score, via the bounded TopKAgg — the SCALE twin of window top-N
    // (q14): map-side partial top-k means only k rows per source per
    // partition cross the shuffle, where the row_number window would
    // shuffle and sort EVERY scored document. The oracle is the window
    // formulation — both must agree exactly (6dp score, doc_id
    // tie-break), which is also the TopKAgg==window equivalence check
    // the ANN queries rely on, here driver-verified on a fresh path.
    "q121_source_topk" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val topk = udaf(graft.functions.TopKAgg(3))
      Documents.spread(s, dir).select(col("doc_id"), col("source"))
        .join(logprobScores(s, dir).select(col("doc_id"), col("mean_logprob")), Seq("doc_id"))
        .groupBy("source")
        .agg(topk(col("mean_logprob"), col("doc_id")).as("tops"))
        .select(col("source"), posexplode(col("tops")).as(Seq("pos", "t")))
        .select(col("source"), (col("pos") + 1).cast("int").as("rank"),
          col("t._2").as("doc_id"), col("t._1").as("score"))
    }),
    // q90: deterministic training-order shard+position — the "global
    // shuffle" step that fixes an epoch's data order. Each doc hashes to
    // one of 16 shards (seeded md5, reproducible across runs and engines)
    // and gets its position within the shard by hash order. Scale shape:
    // one hash exchange on `shard` + an in-partition sort — the global
    // permutation is NEVER a global sort; shards are independent streams
    // sized to the cluster, exactly like q84's packing buckets.
    "q90_train_order" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val h = md5(concat(lit("graft-order-42-"), col("doc_id").cast("string")))
      Documents.spread(s, dir).select(col("doc_id"), h.as("h"))
        .withColumn("shard",
          pmod(conv(substring(col("h"), 1, 4), 16, 10).cast("int"), lit(16)))
        .withColumn("pos",
          row_number().over(
            Window.partitionBy(col("shard")).orderBy(col("h").asc, col("doc_id").asc)))
        .select("doc_id", "shard", "pos")
    }),
    // q92: bigram coherence — q88's 2-gram upgrade: per-doc mean
    // conditional log-probability ln(c(w1 w2)/c(w1 ·)) under the corpus
    // bigram MLE (the KenLM-style fluency score at order 2; low =
    // word-salad). Bigram OCCURRENCES come from the native generator in
    // occurrence mode (no shuffle to produce them); the prefix counts
    // c(w1 ·) are derived from the same bigram frequency table (one agg,
    // vocabulary-sized), so numerator and denominator can never drift.
    // Same fixed-point order-invariance trick as q88.
    "q92_bigram_coherence" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val bg = Documents.spread(s, dir).select(
        col("doc_id"),
        graft.functions.WordNgrams(col("text"), 2, distinct = false).as("bg"))
      val bgFreq = bg.groupBy("bg").agg(count(lit(1)).as("cbg")).persist()
      val preFreq = bgFreq
        .groupBy(substring_index(col("bg"), " ", 1).as("w1"))
        .agg(sum(col("cbg")).as("cw1"))
      bg.join(bgFreq, Seq("bg"))
        .join(preFreq, substring_index(col("bg"), " ", 1) === col("w1"))
        .select(col("doc_id"),
          round(log(col("cbg").cast("double") / col("cw1").cast("double")) * 1e6)
            .cast("long").as("lp"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum(col("lp")).as("slp"))
        .select(col("doc_id"), col("n_bigrams"),
          round(col("slp").cast("double") / col("n_bigrams") / 1e6, 6)
            .as("mean_logcond"))
    }),
    // q136: PMI collocations — pointwise mutual information over bigram
    // occurrences: pmi(a,b) = ln(c_ab·N / (c_a•·c_•b)), the collocation
    // / multi-word-expression detector (the statistic behind "New York"
    // vs "the the"). ONE corpus scan produces bigram occurrences (native
    // generator, shuffle-free); everything downstream is vocabulary²-
    // bounded: the bigram counts, the two positional marginal tables,
    // and their word-keyed joins (broadcastable at any corpus size —
    // marginals grow with the VOCABULARY, not the corpus). Counts are
    // exact integers; the single ln of an exactly-computed double ratio
    // rounds at 6dp on both engines (the q88/q92 recipe).
    "q136_pmi_collocations" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val bg = Documents.spread(s, dir).select(
        graft.functions.WordNgrams(col("text"), 2, distinct = false).as("bg"))
      val bgf = bg.groupBy("bg").agg(count(lit(1)).as("cab")).persist()
      val tot = bgf.agg(sum(col("cab")).as("nbg"))
      val first = bgf.groupBy(substring_index(col("bg"), " ", 1).as("wa"))
        .agg(sum(col("cab")).as("ca"))
      val second = bgf.groupBy(substring_index(col("bg"), " ", -1).as("wb"))
        .agg(sum(col("cab")).as("cb"))
      bgf.filter(col("cab") >= 5)
        .join(first, substring_index(col("bg"), " ", 1) === col("wa"))
        .join(second, substring_index(col("bg"), " ", -1) === col("wb"))
        .crossJoin(broadcast(tot))
        .select(
          col("bg").as("bigram"), col("cab"), col("ca"), col("cb"),
          round(log(col("cab").cast("double") * col("nbg").cast("double")
            / (col("ca").cast("double") * col("cb").cast("double"))), 6).as("pmi"))
    }),
    // q94: packing-efficiency report over q84's sequence packing — per
    // bucket: docs, total tokens, packed sequence count, padding waste in
    // the final partial sequence, and fill ratio. The observability stat
    // that tells a pipeline whether its bucket count / seqLen are wasting
    // accelerator batch slots. Derived from the SAME packSequences output
    // q84 verifies; one 8-row aggregation on top.
    "q94_packing_efficiency" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      graft.operators.Curation
        .packSequences(Documents.spread(s, dir), "text", "doc_id", seqLen = 512, buckets = 8)
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tokens"))
        .withColumn("n_seqs", expr("(total_tokens + 511) DIV 512"))
        .select(col("bucket"), col("n_docs"), col("total_tokens"), col("n_seqs"),
          (col("n_seqs") * 512 - col("total_tokens")).as("pad_waste"),
          when(col("n_seqs") > 0,
            round(col("total_tokens").cast("double") / (col("n_seqs") * 512), 6))
            .otherwise(lit(0.0)).as("fill_ratio"))
    }),
    // q372: fill-in-the-middle transform plan — the FIM data prep of
    // code/infilling models (Bavarian et al. 2022: split each selected
    // document into prefix|middle|suffix and train on
    // prefix+suffix→middle), made DETERMINISTIC and document-local
    // like its q364 span-corruption sibling: a 50% md5 coin selects
    // docs (the paper's recommended FIM rate), and the two split
    // points are md5-derived offsets over the token count with all
    // three parts ≥ 1 token (a ∈ [1, n−2], b ∈ [a+1, n−1]); docs with
    // < 3 tokens or an unselected coin pass through as plain
    // autoregressive rows (fim = false, the whole doc is the
    // "prefix"). Pure function of ids — reproducible under re-runs,
    // repartitioning and appends (the q71/q138 coin discipline; the
    // paper's RNG split would be engine-specific). Scale shape: one
    // narrow projection, zero shuffles, any corpus size.
    "q372_fim_plan" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      fimBase(Documents.spread(s, dir)).select(
        col("doc_id"), col("n_tokens"), col("fim"),
        when(col("fim"), col("a")).otherwise(col("n_tokens")).as("p_len"),
        when(col("fim"), col("b") - col("a")).otherwise(0L).as("m_len"),
        when(col("fim"), col("n_tokens") - col("b")).otherwise(0L).as("s_len"))
    }),
    // q379: FIM APPLY — the composed render of q372's plan (round-15
    // verdict: "transform plans stop at the plan"): the actual
    // prefix/middle/suffix TEXTS a training run consumes, cut from the
    // cleaned token stream at the plan's verified split points (the
    // SAME [[fimBase]] columns — one definition, so plan and render
    // cannot drift). Unselected / short docs pass through whole as the
    // prefix with empty middle/suffix (the plain autoregressive row).
    // Scale shape: one narrow projection, zero shuffles — the render
    // is three array slices + joins per document.
    "q379_fim_apply" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      fimBase(Documents.spread(s, dir)).select(
        col("doc_id"), col("n_tokens"), col("fim"),
        array_join(slice(col("w"), lit(1),
          when(col("fim"), col("a")).otherwise(col("n_tokens")).cast("int")),
          " ").as("prefix"),
        when(col("fim"), array_join(slice(col("w"),
          (col("a") + 1L).cast("int"), (col("b") - col("a")).cast("int")), " "))
          .otherwise(lit("")).as("middle"),
        when(col("fim"), array_join(slice(col("w"),
          (col("b") + 1L).cast("int"),
          (col("n_tokens") - col("b")).cast("int")), " "))
          .otherwise(lit("")).as("suffix"))
    }),
    // q371: packed-sequence MANIFEST — per (bucket, seq_id), the
    // documents that training sequence actually reads: doc count,
    // first/last doc, and the exact token count the sequence takes
    // from them (< 512 only in a bucket's final, padded sequence).
    // This is the sequence→documents index a data loader consumes
    // (q84 answers "where does doc d land"; this is the transpose a
    // trainer needs — "what does step k read") and the provenance
    // record that attributes any training sequence back to source
    // documents. A document straddling sequence boundaries appears
    // once per sequence it overlaps, with its per-sequence token
    // share; shares per sequence sum to 512 except the bucket tail.
    // DETERMINISM: pure integer interval arithmetic over q84's
    // verified packing. Scale shape: the q84 packing (one bucket
    // exchange + running-sum window), a generate of ≤
    // ⌈n_tok/512⌉+1 rows per doc, one (bucket, seq) hash agg.
    "q371_pack_manifest" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val spans = graft.operators.Curation
        .packSequences(Documents.spread(s, dir), "text", "doc_id", seqLen = 512, buckets = 8)
        .filter(col("n_tok") >= 1L)
        .withColumn("cum_start", col("seq_id") * 512L + col("tok_offset"))
        .withColumn("cum_end", col("cum_start") + col("n_tok"))
        .withColumn("last_seq", expr("(cum_end - 1) DIV 512L"))
      spans
        .select(col("doc_id"), col("bucket"), col("cum_start"), col("cum_end"),
          explode(sequence(col("seq_id"), col("last_seq"))).as("seq"))
        .groupBy("bucket", "seq")
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"),
          sum(least(col("cum_end"), (col("seq") + 1L) * 512L) -
            greatest(col("cum_start"), col("seq") * 512L)).as("n_tokens"))
        .select(col("bucket"), col("seq").as("seq_id"), col("n_docs"),
          col("first_doc"), col("last_doc"), col("n_tokens"))
    }))

  /** DuckDB twin of Curation.curate as composable CTEs (follows
    * WordsCte): exact-dedup keepers, quality metrics, and the surviving
    * (doc_id, n_words, pred_lang) rows as `surv` — shared by the q70
    * standalone query and the q86 capstone.
    */
  private val CurationCtes =
    """keepers AS (
      |  SELECT min(doc_id) AS doc_id
      |  FROM (SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
      |        FROM documents)
      |  GROUP BY fp
      |), metrics AS (
      |  SELECT doc_id,
      |    len(w) AS n_words,
      |    round((length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g'))) * 1.0
      |          / greatest(length(text), 1), 6) AS punct_ratio,
      |    round(len(list_filter(w, x -> list_contains(['the','a','of','and','to','in','is'], x))) * 1.0
      |          / greatest(len(w), 1), 6) AS stopword_ratio,
      |    round(list_sum(list_transform(w, x -> length(x))) * 1.0
      |          / greatest(len(w), 1), 6) AS mean_word_len,
      |    len(list_filter(w, x -> list_contains(['der','die','das','und','ein','zu','ist'], x))) AS s_de,
      |    len(list_filter(w, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS s_en,
      |    len(list_filter(w, x -> list_contains(['el','la','los','de','y','un','una'], x))) AS s_es,
      |    len(list_filter(w, x -> list_contains(['le','la','les','de','et','un','une'], x))) AS s_fr
      |  FROM wd),
      |surv AS (
      |  SELECT m.doc_id, m.n_words,
      |    CASE WHEN s_de = 0 AND s_en = 0 AND s_es = 0 AND s_fr = 0 THEN 'und'
      |         WHEN s_fr > greatest(s_de, s_en, s_es) THEN 'fr'
      |         WHEN s_es > greatest(s_de, s_en) THEN 'es'
      |         WHEN s_en > s_de THEN 'en'
      |         ELSE 'de' END AS pred_lang
      |  FROM metrics m JOIN keepers k ON m.doc_id = k.doc_id
      |  WHERE m.mean_word_len BETWEEN 3.0 AND 10.0
      |    AND m.stopword_ratio >= 0.01
      |    AND m.punct_ratio <= 0.3
      |    AND (CASE WHEN s_de = 0 AND s_en = 0 AND s_es = 0 AND s_fr = 0 THEN 'und'
      |              WHEN s_fr > greatest(s_de, s_en, s_es) THEN 'fr'
      |              WHEN s_es > greatest(s_de, s_en) THEN 'es'
      |              WHEN s_en > s_de THEN 'en'
      |              ELSE 'de' END) IN ('en', 'de'))""".stripMargin

  /** q263/q264's shared DuckDB chain: word frequencies → char symbols
    * (s0) → `rounds` unrolled (pair-count p_r → winner t_r → merge-fold
    * s_r) rounds. SQL twin of [[bpeRounds]].
    */
  private def bpeCte(rounds: Int): String = {
    def round(r: Int): String =
      s"""p$r AS (
         |  SELECT s.syms[CAST(i AS INT)] AS a,
         |         s.syms[CAST(i AS INT) + 1] AS b,
         |         CAST(sum(s.freq) AS BIGINT) AS cnt
         |  FROM s${r - 1} s, unnest(range(1, len(s.syms))) AS u(i)
         |  GROUP BY 1, 2),
         |t$r AS (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
         |s$r AS (
         |  SELECT w.word, w.freq,
         |         list_reduce(list_transform(w.syms, s -> [s]),
         |           (acc, x) -> CASE WHEN acc[-1] = t.a AND x[1] = t.b
         |                       THEN list_append(acc[:-2], t.a || t.b)
         |                       ELSE list_concat(acc, x) END) AS syms
         |  FROM s${r - 1} w CROSS JOIN t$r t)""".stripMargin
    s"""WITH w AS (
       |  SELECT unnest(list_filter(
       |    list_transform(string_split_regex(lower(text), '\\s+'),
       |                   t -> regexp_replace(t, '[^a-z0-9]', '', 'g')),
       |    x -> length(x) > 0)) AS word
       |  FROM documents),
       |wt AS (SELECT word, count(*) AS freq FROM w GROUP BY 1),
       |s0 AS (
       |  SELECT word, freq,
       |         list_transform(range(1, length(word) + 1),
       |                        i -> substr(word, CAST(i AS INT), 1)) AS syms
       |  FROM wt),
       |${(1 to rounds).map(round).mkString(",\n")}""".stripMargin
  }

  /** The BPE-APPLY oracle shared VERBATIM by q360 (sequential replay),
    * q367 (the same projection streamed) and q368 (rank-priority
    * encoder): DuckDB re-learns the merges (bpeCte's unrolled chain)
    * and reads each word's segmentation from the final symbol table s5
    * — one independent ground truth, three engine paths that must all
    * hash-equal it.
    */
  private lazy val BpeApplyOracle: String =
    s"""${bpeCte(5)},
       |wd AS (
       |  SELECT doc_id,
       |         list_filter(
       |           list_transform(string_split_regex(lower(text), '\\s+'),
       |                          t -> regexp_replace(t, '[^a-z0-9]', '', 'g')),
       |           x -> length(x) > 0) AS w
       |  FROM documents),
       |tok AS (
       |  SELECT doc_id, unnest(range(1, len(w) + 1)) AS pos,
       |         unnest(w) AS word
       |  FROM wd),
       |enc AS (
       |  SELECT t.doc_id, t.pos, s.syms
       |  FROM tok t JOIN s5 s ON s.word = t.word),
       |agg AS (
       |  SELECT doc_id,
       |         CAST(sum(len(syms)) AS BIGINT) AS n_bpe_tokens,
       |         md5(string_agg(array_to_string(syms, ' '),
       |                        '|' ORDER BY pos)) AS seg_fp
       |  FROM enc GROUP BY doc_id)
       |SELECT d.doc_id, CAST(len(d.w) AS BIGINT) AS n_words,
       |       COALESCE(a.n_bpe_tokens, 0) AS n_bpe_tokens,
       |       COALESCE(a.seg_fp, md5('')) AS seg_fp
       |FROM wd d LEFT JOIN agg a ON a.doc_id = d.doc_id""".stripMargin

  /** The q372/q379 shared plan CTEs (SQL twin of [[fimBase]]): words,
    * token count, the 50% md5 coin, and the two modular split points —
    * ending at CTE `e` (doc_id, w, n, fim, a, b).
    */
  private lazy val FimPlanCte: String =
    s"""$WordsCte,
       |t AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n FROM wd),
       |c AS (
       |  SELECT doc_id, w, n,
       |         (substr(md5('graft-fim-' || CAST(doc_id AS VARCHAR)), 1, 1)
       |            BETWEEN '0' AND '7') AND n >= 3 AS fim,
       |         CAST(('0x' || substr(md5('graft-fim-a-' || CAST(doc_id AS VARCHAR)),
       |                              1, 13)) AS BIGINT) AS u1,
       |         CAST(('0x' || substr(md5('graft-fim-b-' || CAST(doc_id AS VARCHAR)),
       |                              1, 13)) AS BIGINT) AS u2
       |  FROM t),
       |d AS (
       |  SELECT doc_id, w, n, fim, u2,
       |         CASE WHEN fim THEN u1 % (n - 2) + 1 END AS a
       |  FROM c),
       |e AS (
       |  SELECT doc_id, w, n, fim, a,
       |         CASE WHEN fim THEN u2 % (n - a - 1) + a + 1 END AS b
       |  FROM d)""".stripMargin

  /** The q377/q378 Viterbi replay over the word-type table `wt` under
    * vocabulary CTE `vname` (piece, lp): a recursive CTE walks the DP
    * positions left to right, carrying the full (best, backpointer)
    * arrays as lists — the vocabulary is probed through a scalar MAP
    * (m[piece][1] → lp or NULL; OOV single chars score the fixed
    * −100·10⁹ UNK penalty, [[graft.functions.UnigramEncode.UnkLp]]),
    * and the per-position argmax is min over struct(−score, j), i.e.
    * max score with ties to the SMALLEST split j — the kernel's exact
    * tie rule. A second recursive CTE backtracks the pointers into the
    * piece list. Emits CTEs vm/dp/bt/seg suffixed with `tag`.
    */
  private def unigramViterbiCte(vname: String, tag: String): String =
    s"""vm$tag AS (SELECT map(list(piece), list(lp)) AS m FROM $vname),
       |dp$tag AS (
       |  SELECT word, freq, length(word) AS n, 0 AS i,
       |         [CAST(0 AS BIGINT)] AS bests, [0] AS bps
       |  FROM wt
       |  UNION ALL
       |  SELECT word, freq, n, i + 1,
       |         list_append(bests, -(pk.ns)), list_append(bps, pk.j)
       |  FROM (
       |    SELECT word, freq, n, i, bests, bps,
       |           list_aggregate(list_filter(list_transform(
       |             range(greatest(0, i + 1 - $UnigramMaxLen), CAST(i + 1 AS BIGINT)),
       |             j -> struct_pack(
       |               ns := -(bests[CAST(j AS INT) + 1] +
       |                 coalesce(
       |                   m[substr(word, CAST(j AS INT) + 1, i + 1 - CAST(j AS INT))][1],
       |                   CASE WHEN i + 1 - CAST(j AS INT) = 1
       |                        THEN CAST(-100000000000 AS BIGINT) END)),
       |               j := CAST(j AS INT))),
       |             s -> s.ns IS NOT NULL), 'min') AS pk
       |    FROM dp$tag, vm$tag WHERE i < n)),
       |bt$tag AS (
       |  SELECT word, freq, CAST(n AS INT) AS i, bps,
       |         CAST([] AS VARCHAR[]) AS pieces
       |  FROM dp$tag WHERE i = n
       |  UNION ALL
       |  SELECT word, freq, bps[i + 1] AS i, bps,
       |         list_prepend(substr(word, bps[i + 1] + 1, i - bps[i + 1]), pieces)
       |  FROM bt$tag WHERE i > 0),
       |seg$tag AS (SELECT word, freq, pieces FROM bt$tag WHERE i = 0)""".stripMargin

  /** One unrolled hard-EM round: Viterbi under v(r−1) → freq-weighted
    * piece counts → the select/retain rule (multi-char drop at 0,
    * single chars floor at 1) → renormalize + requantize into v(r).
    */
  private def unigramEmRoundCte(r: Int): String =
    s"""${unigramViterbiCte(s"v${r - 1}", r.toString)},
       |cnt$r AS (
       |  SELECT p AS piece, CAST(sum(freq) AS BIGINT) AS cnt
       |  FROM (SELECT freq, unnest(pieces) AS p FROM seg$r) GROUP BY 1),
       |sel$r AS (
       |  SELECT v.piece,
       |         CASE WHEN length(v.piece) = 1 THEN greatest(coalesce(c.cnt, 0), 1)
       |              ELSE c.cnt END AS cnt
       |  FROM v${r - 1} v LEFT JOIN cnt$r c ON c.piece = v.piece
       |  WHERE length(v.piece) = 1 OR coalesce(c.cnt, 0) > 0),
       |t$r AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM sel$r),
       |v$r AS (
       |  SELECT piece, cnt,
       |         CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(t.tot AS DOUBLE))
       |                    * CAST(1e9 AS DOUBLE)) AS BIGINT) AS lp
       |  FROM sel$r CROSS JOIN t$r t)""".stripMargin

  /** Shared base of the q377/q378 oracles: word types → substring seed
    * → v0 → [[UnigramRounds]] unrolled EM rounds ending at
    * v[[UnigramRounds]]. SQL twin of [[unigramVocabFromWords]].
    */
  private lazy val UnigramCte: String =
    s"""WITH RECURSIVE w AS (
       |  SELECT unnest(list_filter(
       |    list_transform(string_split_regex(lower(text), '\\s+'),
       |                   t -> regexp_replace(t, '[^a-z0-9]', '', 'g')),
       |    x -> length(x) > 0)) AS word
       |  FROM documents),
       |wt AS (SELECT word, count(*) AS freq FROM w GROUP BY 1),
       |seed AS (
       |  SELECT substr(word, CAST(i AS INT), CAST(l AS INT)) AS piece,
       |         CAST(sum(freq) AS BIGINT) AS cnt
       |  FROM wt, unnest(range(1, length(word) + 1)) AS u(i),
       |       unnest(range(1, $UnigramMaxLen + 1)) AS v(l)
       |  WHERE i + l - 1 <= length(word)
       |  GROUP BY 1),
       |sel0 AS (
       |  SELECT piece, cnt FROM seed WHERE length(piece) = 1
       |  UNION ALL
       |  SELECT piece, cnt FROM (
       |    SELECT piece, cnt FROM seed WHERE length(piece) > 1
       |    ORDER BY cnt DESC, piece ASC LIMIT $UnigramSeedTop)),
       |t0 AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM sel0),
       |v0 AS (
       |  SELECT piece, cnt,
       |         CAST(round(ln(CAST(cnt AS DOUBLE) / CAST(t.tot AS DOUBLE))
       |                    * CAST(1e9 AS DOUBLE)) AS BIGINT) AS lp
       |  FROM sel0 CROSS JOIN t0 t),
       |${(1 to UnigramRounds).map(unigramEmRoundCte).mkString(",\n")}""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // the whole learner unrolled: seed → v0 → EM rounds → the final
    // piece table, every count an exact integer and every log-prob
    // quantized BEFORE use (the q88/q322 fixed-point discipline)
    "q377_unigram_learn" ->
      s"""$UnigramCte
         |SELECT piece, cnt AS piece_count, lp AS logp_q FROM v${UnigramRounds}""".stripMargin,
    // re-learn the table, Viterbi-segment the word types ONCE under
    // the final model (tagA), join back to documents in word order,
    // and re-aggregate q360's three outputs (the BpeApplyOracle shape)
    "q378_unigram_apply" ->
      s"""$UnigramCte,
         |${unigramViterbiCte(s"v$UnigramRounds", "A")},
         |wd AS (
         |  SELECT doc_id,
         |         list_filter(
         |           list_transform(string_split_regex(lower(text), '\\s+'),
         |                          t -> regexp_replace(t, '[^a-z0-9]', '', 'g')),
         |           x -> length(x) > 0) AS w
         |  FROM documents),
         |tok AS (
         |  SELECT doc_id, unnest(range(1, len(w) + 1)) AS pos, unnest(w) AS word
         |  FROM wd),
         |enc AS (
         |  SELECT t.doc_id, t.pos, s.pieces
         |  FROM tok t JOIN segA s ON s.word = t.word),
         |agg AS (
         |  SELECT doc_id,
         |         CAST(sum(len(pieces)) AS BIGINT) AS n_pieces,
         |         md5(string_agg(array_to_string(pieces, ' '), '|' ORDER BY pos)) AS seg_fp
         |  FROM enc GROUP BY doc_id)
         |SELECT d.doc_id, CAST(len(d.w) AS BIGINT) AS n_words,
         |       COALESCE(a.n_pieces, 0) AS n_pieces,
         |       COALESCE(a.seg_fp, md5('')) AS seg_fp
         |FROM wd d LEFT JOIN agg a ON a.doc_id = d.doc_id""".stripMargin,
    // same position-shift pairs, same 1e6-quantized c^0.75 cumulative
    // weights over the word order, same md5-mod draws, same one-interval
    // range lookup (the oracle keeps the plain range join the bucketed
    // plan is provably equal to: exactly one interval contains each u)
    "q332_negative_sampling" ->
      s"""$WordsCte,
         |tp AS (SELECT doc_id, unnest(range(1, len(w) + 1)) AS pos,
         |              unnest(w) AS word FROM wd),
         |sh AS (
         |  SELECT a.word AS center, b.word AS context FROM tp a JOIN tp b
         |    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
         |  UNION ALL
         |  SELECT a.word, b.word FROM tp a JOIN tp b
         |    ON a.doc_id = b.doc_id AND b.pos = a.pos + 2),
         |pairs AS (SELECT DISTINCT center, context FROM (
         |  SELECT center, context FROM sh
         |  UNION ALL SELECT context AS center, center AS context FROM sh)),
         |vocab AS (SELECT word, count(*) AS c FROM (
         |  SELECT unnest(w) AS word FROM wd) GROUP BY 1),
         |cumt AS (
         |  SELECT word, CAST(round(pow(c, 0.75) * 1e6) AS BIGINT) AS w_fp,
         |         CAST(sum(CAST(round(pow(c, 0.75) * 1e6) AS BIGINT))
         |              OVER (ORDER BY word) AS BIGINT) AS cum
         |  FROM vocab),
         |tot AS (SELECT max(cum) AS w_tot FROM cumt),
         |draws AS (
         |  SELECT center, context, g.i AS draw_i,
         |         CAST(('0x' || substr(md5(center || '|' || context || '|'
         |              || CAST(g.i AS VARCHAR)), 1, 13)) AS BIGINT)
         |           % tot.w_tot AS u
         |  FROM pairs CROSS JOIN (SELECT unnest([1, 2]) AS i) g CROSS JOIN tot)
         |SELECT d.center, d.context, d.draw_i, c.word AS negative
         |FROM draws d JOIN cumt c ON d.u >= c.cum - c.w_fp AND d.u < c.cum""".stripMargin,
    // same q71 md5 split, same three count tables over the train split,
    // same stupid-backoff CASE chain, same 1e9-quantized -ln sum
    "q319_backoff_lm" ->
      s"""$WordsCte,
         |sp AS (
         |  SELECT doc_id, w,
         |         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a' THEN 'test'
         |              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '34' THEN 'val'
         |              ELSE 'train' END AS split
         |  FROM wd),
         |tri AS (
         |  SELECT doc_id, split, g.w1 AS w1, g.w2 AS w2, g.w3 AS w3 FROM (
         |    SELECT doc_id, split,
         |           unnest(list_transform(range(1, len(w) - 1),
         |                  i -> {'w1': w[i], 'w2': w[i+1], 'w3': w[i+2]})) AS g
         |    FROM sp)),
         |bi AS (
         |  SELECT split, g.u AS u, g.v AS v FROM (
         |    SELECT split,
         |           unnest(list_transform(range(1, len(w)),
         |                  i -> {'u': w[i], 'v': w[i+1]})) AS g
         |    FROM sp)),
         |uni AS (SELECT split, unnest(w) AS word FROM sp),
         |c3 AS (SELECT w1, w2, w3, count(*) AS c3 FROM tri
         |       WHERE split = 'train' GROUP BY 1, 2, 3),
         |c2 AS (SELECT u, v, count(*) AS c2 FROM bi
         |       WHERE split = 'train' GROUP BY 1, 2),
         |c1 AS (SELECT word, count(*) AS c1 FROM uni
         |       WHERE split = 'train' GROUP BY 1),
         |nt AS (SELECT CAST(sum(c1) AS BIGINT) AS n_total FROM c1),
         |sc AS (
         |  SELECT t.doc_id,
         |         CAST(round(-ln(
         |           CASE WHEN c3.c3 IS NOT NULL THEN c3.c3 * 1.0 / cx.c2
         |                WHEN b23.c2 IS NOT NULL THEN 0.4 * b23.c2 / u2.c1
         |                ELSE 0.4 * 0.4 * COALESCE(u3.c1, 1) / nt.n_total
         |           END) * 1e9) AS BIGINT) AS lq
         |  FROM tri t
         |  LEFT JOIN c3 ON c3.w1 = t.w1 AND c3.w2 = t.w2 AND c3.w3 = t.w3
         |  LEFT JOIN c2 cx ON cx.u = t.w1 AND cx.v = t.w2
         |  LEFT JOIN c2 b23 ON b23.u = t.w2 AND b23.v = t.w3
         |  LEFT JOIN c1 u2 ON u2.word = t.w2
         |  LEFT JOIN c1 u3 ON u3.word = t.w3
         |  CROSS JOIN nt
         |  WHERE t.split = 'test')
         |SELECT doc_id, count(*) AS n_scored,
         |       round(CAST(sum(lq) AS BIGINT) / 1e9 / count(*), 6) AS avg_nll
         |FROM sc GROUP BY 1""".stripMargin,
    // q319's model build and CASE chain verbatim with the test-split
    // restriction dropped (every >= 3-word doc scored), then the same
    // (avg_nll desc, doc_id) ntile(10) — ntileExact's bit-equal SQL twin
    "q333_perplexity_gate" ->
      s"""$WordsCte,
         |sp AS (
         |  SELECT doc_id, w,
         |         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a' THEN 'test'
         |              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '34' THEN 'val'
         |              ELSE 'train' END AS split
         |  FROM wd),
         |tri AS (
         |  SELECT doc_id, split, g.w1 AS w1, g.w2 AS w2, g.w3 AS w3 FROM (
         |    SELECT doc_id, split,
         |           unnest(list_transform(range(1, len(w) - 1),
         |                  i -> {'w1': w[i], 'w2': w[i+1], 'w3': w[i+2]})) AS g
         |    FROM sp)),
         |bi AS (
         |  SELECT split, g.u AS u, g.v AS v FROM (
         |    SELECT split,
         |           unnest(list_transform(range(1, len(w)),
         |                  i -> {'u': w[i], 'v': w[i+1]})) AS g
         |    FROM sp)),
         |uni AS (SELECT split, unnest(w) AS word FROM sp),
         |c3 AS (SELECT w1, w2, w3, count(*) AS c3 FROM tri
         |       WHERE split = 'train' GROUP BY 1, 2, 3),
         |c2 AS (SELECT u, v, count(*) AS c2 FROM bi
         |       WHERE split = 'train' GROUP BY 1, 2),
         |c1 AS (SELECT word, count(*) AS c1 FROM uni
         |       WHERE split = 'train' GROUP BY 1),
         |nt AS (SELECT CAST(sum(c1) AS BIGINT) AS n_total FROM c1),
         |sc AS (
         |  SELECT t.doc_id,
         |         CAST(round(-ln(
         |           CASE WHEN c3.c3 IS NOT NULL THEN c3.c3 * 1.0 / cx.c2
         |                WHEN b23.c2 IS NOT NULL THEN 0.4 * b23.c2 / u2.c1
         |                ELSE 0.4 * 0.4 * COALESCE(u3.c1, 1) / nt.n_total
         |           END) * 1e9) AS BIGINT) AS lq
         |  FROM tri t
         |  LEFT JOIN c3 ON c3.w1 = t.w1 AND c3.w2 = t.w2 AND c3.w3 = t.w3
         |  LEFT JOIN c2 cx ON cx.u = t.w1 AND cx.v = t.w2
         |  LEFT JOIN c2 b23 ON b23.u = t.w2 AND b23.v = t.w3
         |  LEFT JOIN c1 u2 ON u2.word = t.w2
         |  LEFT JOIN c1 u3 ON u3.word = t.w3
         |  CROSS JOIN nt),
         |scored AS (
         |  SELECT doc_id, count(*) AS n_scored,
         |         round(CAST(sum(lq) AS BIGINT) / 1e9 / count(*), 6) AS avg_nll
         |  FROM sc GROUP BY 1)
         |SELECT doc_id, n_scored, avg_nll,
         |       CAST(ntile(10) OVER (ORDER BY avg_nll DESC, doc_id) AS INT)
         |         AS ppl_decile,
         |       (ntile(10) OVER (ORDER BY avg_nll DESC, doc_id) = 1) AS flagged
         |FROM scored""".stripMargin,
    // same q71 md5 split, same bigram/type-count tables, same
    // interpolated-KN formula with identical IEEE operation order,
    // same 1e9-quantized -ln sum
    "q322_kneser_ney_lm" ->
      s"""$WordsCte,
         |sp AS (
         |  SELECT doc_id, w,
         |         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a' THEN 'test'
         |              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '34' THEN 'val'
         |              ELSE 'train' END AS split
         |  FROM wd),
         |bi AS (
         |  SELECT doc_id, split, g.u AS u, g.v AS v FROM (
         |    SELECT doc_id, split,
         |           unnest(list_transform(range(1, len(w)),
         |                  i -> {'u': w[i], 'v': w[i+1]})) AS g
         |    FROM sp)),
         |c2 AS (SELECT u, v, count(*) AS c2 FROM bi
         |       WHERE split = 'train' GROUP BY 1, 2),
         |ctx AS (SELECT u, sum(c2) AS cctx, count(*) AS n1f FROM c2 GROUP BY 1),
         |np AS (SELECT v, count(*) AS n1p FROM c2 GROUP BY 1),
         |bt AS (SELECT count(*) AS btypes FROM c2),
         |vc AS (SELECT count(DISTINCT word) AS v_sz FROM (
         |  SELECT unnest(w) AS word FROM sp WHERE split = 'train')),
         |sc AS (
         |  SELECT t.doc_id,
         |         CAST(round(-ln(
         |           CASE WHEN ctx.cctx IS NOT NULL
         |                THEN (greatest(CAST(coalesce(c2.c2, 0) AS DOUBLE) - 0.75, 0.0)
         |                      + 0.75 * CAST(ctx.n1f AS DOUBLE)
         |                        * (CAST(coalesce(np.n1p, 0) + 1 AS DOUBLE)
         |                           / (bt.btypes + vc.v_sz + 1)))
         |                     / CAST(ctx.cctx AS DOUBLE)
         |                ELSE CAST(coalesce(np.n1p, 0) + 1 AS DOUBLE)
         |                     / (bt.btypes + vc.v_sz + 1)
         |           END) * 1e9) AS BIGINT) AS lq
         |  FROM bi t
         |  LEFT JOIN c2 ON c2.u = t.u AND c2.v = t.v
         |  LEFT JOIN ctx ON ctx.u = t.u
         |  LEFT JOIN np ON np.v = t.v
         |  CROSS JOIN bt CROSS JOIN vc
         |  WHERE t.split = 'test')
         |SELECT doc_id, count(*) AS n_scored,
         |       round(CAST(sum(lq) AS BIGINT) / 1e9 / count(*), 6) AS avg_nll
         |FROM sc GROUP BY 1""".stripMargin,
    // same 1024 md5-bucket features, same add-one bucket distributions,
    // same quantized per-bucket log-ratio then exact integer dot product,
    // same (weight desc, doc_id) top-50 over non-'en' docs
    "q323_importance_resampling" ->
      s"""$WordsCte,
         |dl AS (SELECT doc_id, lang FROM documents),
         |gr AS (
         |  SELECT wd.doc_id, dl.lang, g,
         |         CAST(('0x' || substr(md5(g), 1, 6)) AS BIGINT) % 1024 AS bkt
         |  FROM (
         |    SELECT doc_id, unnest(w) AS g FROM wd
         |    UNION ALL
         |    SELECT doc_id,
         |           unnest(list_transform(range(1, len(w)),
         |                  i -> w[i] || ' ' || w[i+1])) AS g
         |    FROM wd) wd
         |  JOIN dl ON dl.doc_id = wd.doc_id),
         |db AS (SELECT doc_id, bkt, count(*) AS n FROM gr GROUP BY 1, 2),
         |raw AS (SELECT bkt, count(*) AS cr FROM gr GROUP BY 1),
         |tgt AS (SELECT bkt, count(*) AS ct FROM gr WHERE lang = 'en' GROUP BY 1),
         |tots AS (SELECT (SELECT sum(cr) FROM raw) AS nr,
         |                (SELECT sum(ct) FROM tgt) AS nt),
         |lqt AS (
         |  SELECT raw.bkt,
         |         CAST(round(ln(
         |           (CAST(coalesce(tgt.ct, 0) + 1 AS DOUBLE)
         |              * CAST(tots.nr + 1024 AS DOUBLE))
         |           / (CAST(raw.cr + 1 AS DOUBLE)
         |              * CAST(tots.nt + 1024 AS DOUBLE))) * 1e9) AS BIGINT) AS lq
         |  FROM raw LEFT JOIN tgt ON tgt.bkt = raw.bkt CROSS JOIN tots),
         |wt AS (
         |  SELECT db.doc_id, sum(db.n * lqt.lq) AS wq, sum(db.n) AS n_feats
         |  FROM db JOIN lqt ON lqt.bkt = db.bkt GROUP BY 1)
         |SELECT wt.doc_id, dl.lang, CAST(wt.n_feats AS BIGINT) AS n_feats,
         |       round(CAST(wt.wq AS BIGINT) / 1e9, 6) AS log_importance
         |FROM wt JOIN dl ON dl.doc_id = wt.doc_id
         |WHERE dl.lang <> 'en'
         |ORDER BY wt.wq DESC, wt.doc_id ASC LIMIT 50""".stripMargin,
    // same >=3-char vocabulary, same (freq desc, word asc) top-3 per
    // prefix
    "q277_autocomplete" ->
      """WITH w AS (
        |  SELECT unnest(list_filter(
        |    list_transform(string_split_regex(lower(text), '\s+'),
        |                   t -> regexp_replace(t, '[^a-z0-9]', '', 'g')),
        |    x -> length(x) >= 3)) AS word
        |  FROM documents),
        |tf AS (SELECT word, count(*) AS freq FROM w GROUP BY 1)
        |SELECT prefix, rank, word, freq FROM (
        |  SELECT substr(word, 1, 3) AS prefix, word, freq,
        |         row_number() OVER (PARTITION BY substr(word, 1, 3)
        |                            ORDER BY freq DESC, word ASC) AS rank
        |  FROM tf)
        |WHERE rank <= 3""".stripMargin,
    // same top-30 word set, same (c·1e9)//tokens relative frequencies,
    // same mirrored z formula quantized before the pair sum
    "q279_stylometry" ->
      """WITH sw0 AS (
        |  SELECT source, unnest(list_filter(
        |    list_transform(string_split_regex(lower(text), '\s+'),
        |                   t -> regexp_replace(t, '[^a-z0-9]', '', 'g')),
        |    x -> length(x) > 0)) AS word
        |  FROM documents),
        |sw AS (SELECT source, word, count(*) AS c FROM sw0 GROUP BY 1, 2),
        |top AS (
        |  SELECT word FROM (
        |    SELECT word, CAST(sum(c) AS BIGINT) AS tc FROM sw GROUP BY 1)
        |  ORDER BY tc DESC, word ASC LIMIT 30),
        |tok AS (SELECT source, CAST(sum(c) AS BIGINT) AS toks
        |        FROM sw GROUP BY 1),
        |rf AS (
        |  SELECT t.source, p.word,
        |         (coalesce(s.c, 0) * 1000000000) // t.toks AS rfq
        |  FROM tok t CROSS JOIN top p
        |  LEFT JOIN sw s ON s.source = t.source AND s.word = p.word),
        |st AS (
        |  SELECT word, CAST(sum(rfq) AS DOUBLE) / count(*) AS mu,
        |    sqrt((CAST(sum(CAST(rfq AS HUGEINT) * rfq) AS DOUBLE) -
        |          CAST(sum(rfq) AS DOUBLE) * CAST(sum(rfq) AS DOUBLE)
        |            / count(*)) / count(*)) AS sd
        |  FROM rf GROUP BY 1),
        |z AS (
        |  SELECT rf.source, rf.word,
        |    CASE WHEN st.sd > 0
        |         THEN CAST(round((rf.rfq - st.mu) / st.sd * 1e6) AS BIGINT)
        |         ELSE 0 END AS zq
        |  FROM rf JOIN st USING (word))
        |SELECT a.source AS source_a, b.source AS source_b,
        |       count(*) AS n_words,
        |       round(CAST(sum(abs(a.zq - b.zq)) AS BIGINT) / 1e6 / count(*), 6)
        |         AS delta
        |FROM z a JOIN z b ON a.word = b.word AND a.source < b.source
        |GROUP BY 1, 2""".stripMargin,
    // same char-symbol start, five unrolled (pair-count → top-1 →
    // greedy left-fold merge) rounds; DuckDB's list slice end is
    // INCLUSIVE, so dropping the accumulator's last element is [:-2]
    "q263_bpe_learn" -> {
      def row(r: Int): String =
        s"""SELECT $r AS round, a AS lhs, b AS rhs, cnt AS pair_freq,
           |       a || b AS merged_token FROM t$r""".stripMargin
      s"""${bpeCte(5)}
         |${(1 to 5).map(row).mkString("\nUNION ALL ")}""".stripMargin
    },
    // the SEQUENTIAL oracle verbatim: the batched learner must emit the
    // identical merge log
    "q288_bpe_learn_batched" -> {
      def row(r: Int): String =
        s"""SELECT $r AS round, a AS lhs, b AS rhs, cnt AS pair_freq,
           |       a || b AS merged_token FROM t$r""".stripMargin
      s"""${bpeCte(5)}
         |${(1 to 5).map(row).mkString("\nUNION ALL ")}""".stripMargin
    },
    // the same unrolled chain read at the symbol-total grain per round
    "q264_bpe_compression" -> {
      def tot(r: Int): String =
        s"""SELECT $r AS round,
           |       CAST(sum(freq * len(syms)) AS BIGINT) AS corpus_tokens
           |FROM s$r""".stripMargin
      s"""${bpeCte(5)},
         |tot0 AS (SELECT CAST(sum(freq * len(syms)) AS BIGINT) AS t0 FROM s0),
         |tr AS (${(0 to 5).map(tot).mkString("\nUNION ALL ")})
         |SELECT round, corpus_tokens,
         |       round(t0 * 1.0 / corpus_tokens, 6) AS compression_ratio
         |FROM tr CROSS JOIN tot0""".stripMargin
    },
    // q360's oracle verbatim under the ranked encoder: the hash row is
    // the corpus-grain ranked ≡ replay equivalence proof
    "q368_bpe_apply_ranked" -> BpeApplyOracle,
    // the INDEPENDENT replay: re-learn the merges (the same unrolled
    // chain), read each word's segmentation from the FINAL symbol
    // table s5, join back to documents, re-aggregate count + md5
    "q360_bpe_apply" -> BpeApplyOracle,
    // q88's chain → DuckDB's own ntile (the exact-semantics twin of
    // Quantiles.ntileExact, the q244 precedent) → the same md5 coin
    // row_number inside each decile
    "q366_curriculum_order" ->
      s"""$WordsCte,
         |tok AS (SELECT doc_id, unnest(w) AS word FROM wd),
         |freq AS (SELECT word, count(*) AS cnt FROM tok GROUP BY word),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM freq),
         |lp AS (
         |  SELECT t.doc_id,
         |         CAST(round(ln(CAST(f.cnt AS DOUBLE) / CAST(tot.total AS DOUBLE))
         |                    * 1000000) AS BIGINT) AS lp
         |  FROM tok t JOIN freq f USING (word) CROSS JOIN tot),
         |sc AS (
         |  SELECT doc_id,
         |         round(CAST(sum(lp) AS DOUBLE) / count(*) / 1000000.0, 6)
         |           AS mean_logprob
         |  FROM lp GROUP BY doc_id),
         |d AS (
         |  SELECT doc_id, mean_logprob,
         |         ntile(10) OVER (ORDER BY mean_logprob DESC, doc_id) AS decile
         |  FROM sc),
         |c AS (
         |  SELECT doc_id, decile, mean_logprob,
         |         CAST(('0x' || substr(md5('graft-cur-' || CAST(doc_id AS VARCHAR)),
         |                              1, 13)) AS BIGINT) AS u
         |  FROM d)
         |SELECT doc_id, decile,
         |       CAST(row_number() OVER (PARTITION BY decile ORDER BY u, doc_id)
         |            AS BIGINT) AS position,
         |       mean_logprob
         |FROM c""".stripMargin,
    // the same s5 per-word counts rolled up at the language grain
    "q363_bpe_fertility" ->
      s"""${bpeCte(5)},
         |wd AS (
         |  SELECT doc_id,
         |         list_filter(
         |           list_transform(string_split_regex(lower(text), '\\s+'),
         |                          t -> regexp_replace(t, '[^a-z0-9]', '', 'g')),
         |           x -> length(x) > 0) AS w
         |  FROM documents),
         |tok AS (SELECT doc_id, unnest(w) AS word FROM wd),
         |pd AS (
         |  SELECT t.doc_id, count(*) AS nw,
         |         CAST(sum(len(s.syms)) AS BIGINT) AS nt
         |  FROM tok t JOIN s5 s ON s.word = t.word GROUP BY t.doc_id),
         |ld AS (
         |  SELECT d.lang, COALESCE(p.nw, 0) AS nw, COALESCE(p.nt, 0) AS nt
         |  FROM documents d LEFT JOIN pd p ON p.doc_id = d.doc_id)
         |SELECT lang, CAST(sum(nw) AS BIGINT) AS n_words,
         |       CAST(sum(nt) AS BIGINT) AS n_bpe_tokens,
         |       round(CAST(sum(nt) AS BIGINT) * 1.0
         |             / greatest(CAST(sum(nw) AS BIGINT), 1), 6) AS fertility
         |FROM ld GROUP BY lang""".stripMargin,
    // the same block grid, the same md5 offset coin, one span per
    // eligible block
    "q364_span_corruption" ->
      """WITH wd AS (
        |  SELECT doc_id,
        |         list_filter(
        |           list_transform(string_split_regex(lower(text), '\s+'),
        |                          t -> regexp_replace(t, '[^a-z0-9]', '', 'g')),
        |           x -> length(x) > 0) AS w
        |  FROM documents),
        |n AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n FROM wd),
        |b AS (
        |  SELECT doc_id, n,
        |         unnest(range(0, greatest(CAST(ceil(n / 20.0) AS BIGINT), 1)))
        |           AS block
        |  FROM n),
        |f AS (
        |  SELECT doc_id, block, least(20, n - block * 20) AS block_len
        |  FROM b WHERE least(20, n - block * 20) >= 4)
        |SELECT doc_id, block,
        |       block * 20
        |         + (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|'
        |                 || CAST(block AS VARCHAR)), 1, 13)) AS BIGINT)
        |            % (block_len - 2))
        |         + 1 AS span_start,
        |       CAST(3 AS BIGINT) AS span_len,
        |       block AS mask_id
        |FROM f""".stripMargin,
    // the capstone replay: the q360 per-word s5 counts, q84's bucket
    // coin + running-sum cuts, the per-bucket padded rollup
    "q362_tokenizer_roundtrip" ->
      s"""${bpeCte(5)},
         |wd AS (
         |  SELECT doc_id,
         |         list_filter(
         |           list_transform(string_split_regex(lower(text), '\\s+'),
         |                          t -> regexp_replace(t, '[^a-z0-9]', '', 'g')),
         |           x -> length(x) > 0) AS w
         |  FROM documents),
         |tok AS (
         |  SELECT doc_id, unnest(w) AS word FROM wd),
         |cnt AS (
         |  SELECT d.doc_id, COALESCE(e.n, 0) AS n_tok FROM wd d
         |  LEFT JOIN (
         |    SELECT t.doc_id, CAST(sum(len(s.syms)) AS BIGINT) AS n
         |    FROM tok t JOIN s5 s ON s.word = t.word
         |    GROUP BY t.doc_id) e ON e.doc_id = d.doc_id),
         |b AS (
         |  SELECT doc_id, n_tok,
         |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) % 8 AS bucket
         |  FROM cnt),
         |c AS (
         |  SELECT doc_id, bucket, n_tok,
         |         CAST(SUM(n_tok) OVER (
         |           PARTITION BY bucket ORDER BY doc_id ASC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |  FROM b),
         |p AS (
         |  SELECT doc_id, bucket,
         |         (cum - n_tok) // 512 AS seq_id,
         |         (cum - n_tok) % 512 AS tok_offset,
         |         n_tok
         |  FROM c),
         |r AS (
         |  SELECT bucket,
         |         (CAST(sum(n_tok) AS BIGINT) + 511) // 512 AS bucket_seqs,
         |         CAST(sum(n_tok) AS BIGINT) AS bucket_tokens
         |  FROM p GROUP BY bucket)
         |SELECT p.doc_id, p.bucket, p.seq_id, p.tok_offset, p.n_tok,
         |       r.bucket_seqs,
         |       r.bucket_seqs * 512 AS bucket_padded_tokens,
         |       round((r.bucket_seqs * 512 - r.bucket_tokens) * 1.0
         |             / greatest(r.bucket_seqs * 512, 1), 6) AS bucket_waste_frac
         |FROM p JOIN r ON r.bucket = p.bucket""".stripMargin,
    // same per-row regex counters (q22's definitions), same integer
    // sums, same zero-guarded single divisions
    "q253_token_fertility" ->
      """WITH t AS (
        |  SELECT source, lang, length(text) AS nc,
        |    len(list_filter(string_split_regex(trim(text), '\s+'),
        |        x -> length(x) > 0)) AS nw,
        |    len(regexp_extract_all(text,
        |        '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS nt
        |  FROM documents)
        |SELECT source, lang, count(*) AS n_docs,
        |  CAST(sum(nc) AS BIGINT) AS n_chars,
        |  CAST(sum(nw) AS BIGINT) AS n_words,
        |  CAST(sum(nt) AS BIGINT) AS n_subtokens,
        |  CASE WHEN sum(nw) > 0
        |       THEN round(sum(nt) * 1.0 / sum(nw), 6) ELSE 0.0 END
        |    AS fertility,
        |  CASE WHEN sum(nt) > 0
        |       THEN round(sum(nc) * 1.0 / sum(nt), 6) ELSE 0.0 END
        |    AS chars_per_token
        |FROM t GROUP BY 1, 2""".stripMargin,
    // same cleaned-word vocabulary, same md5 16-bit-prefix mod-32
    // bucket, same exact counts and one share division
    "q257_feature_hash" ->
      """WITH w AS (
        |  SELECT unnest(list_filter(
        |    list_transform(string_split_regex(lower(text), '\s+'),
        |                   t -> regexp_replace(t, '[^a-z0-9]', '', 'g')),
        |    x -> length(x) > 0)) AS word
        |  FROM documents),
        |tf AS (SELECT word, count(*) AS tf FROM w GROUP BY 1),
        |b AS (
        |  SELECT CAST(('0x' || substr(md5(word), 1, 4)) AS BIGINT) % 32
        |           AS bucket, tf
        |  FROM tf),
        |tot AS (SELECT CAST(sum(tf) AS BIGINT) AS t FROM b)
        |SELECT bucket, count(*) AS n_words,
        |       CAST(sum(tf) AS BIGINT) AS total_tf,
        |       round(CAST(sum(tf) AS BIGINT) * 1.0 / t, 6) AS tf_share
        |FROM b CROSS JOIN tot GROUP BY bucket, t""".stripMargin,
    // same md5 bottom-16 sketches, same pair-merged union sketch, same
    // inclusion-exclusion with the 0 clamp, same exact-join audit column
    "q250_kmv_setops" ->
      s"""$WordsCte,
         |vocab AS (
         |  SELECT DISTINCT d.source, t.word
         |  FROM (SELECT doc_id, unnest(w) AS word FROM wd) t
         |  JOIN documents d ON d.doc_id = t.doc_id),
         |sk AS (SELECT source, h FROM (
         |  SELECT source, md5(word) AS h,
         |         row_number() OVER (PARTITION BY source ORDER BY md5(word)) AS rk
         |  FROM vocab) WHERE rk <= 16),
         |per AS (SELECT source, count(*) AS ka, max(h) AS hm FROM sk GROUP BY 1),
         |grid AS (SELECT a.source AS source_a, b.source AS source_b
         |         FROM per a JOIN per b ON a.source < b.source),
         |u AS (
         |  SELECT DISTINCT source_a, source_b, h FROM (
         |    SELECT g.source_a, g.source_b, s.h
         |    FROM grid g JOIN sk s ON s.source = g.source_a
         |    UNION ALL
         |    SELECT g.source_a, g.source_b, s.h
         |    FROM grid g JOIN sk s ON s.source = g.source_b)),
         |mu AS (SELECT source_a, source_b, count(*) AS ka_u, max(h) AS hm_u FROM (
         |  SELECT source_a, source_b, h,
         |         row_number() OVER (PARTITION BY source_a, source_b ORDER BY h) AS rk
         |  FROM u) WHERE rk <= 16 GROUP BY 1, 2),
         |ex AS (
         |  SELECT a.source AS source_a, b.source AS source_b, count(*) AS nx
         |  FROM vocab a JOIN vocab b ON a.word = b.word AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT m.source_a, m.source_b,
         |  round((m.ka_u - 1) * 1.0
         |        / (CAST(('0x' || substr(m.hm_u, 1, 8)) AS BIGINT) / 4294967296.0),
         |        6) AS est_union,
         |  round(greatest(CAST(0 AS DOUBLE),
         |      (pa.ka - 1) * 1.0
         |        / (CAST(('0x' || substr(pa.hm, 1, 8)) AS BIGINT) / 4294967296.0)
         |    + (pb.ka - 1) * 1.0
         |        / (CAST(('0x' || substr(pb.hm, 1, 8)) AS BIGINT) / 4294967296.0)
         |    - (m.ka_u - 1) * 1.0
         |        / (CAST(('0x' || substr(m.hm_u, 1, 8)) AS BIGINT) / 4294967296.0)),
         |    6) AS est_intersect,
         |  coalesce(ex.nx, 0) AS n_exact_intersect
         |FROM mu m
         |JOIN per pa ON pa.source = m.source_a
         |JOIN per pb ON pb.source = m.source_b
         |LEFT JOIN ex ON ex.source_a = m.source_a AND ex.source_b = m.source_b""".stripMargin,
    // same (freq desc, word) vocabulary ranks, same one-fold coverage
    // sums at the three candidate sizes
    "q245_coverage_curve" ->
      s"""$WordsCte,
         |tok AS (SELECT unnest(w) AS word FROM wd),
         |freq AS (SELECT word, count(*) AS cnt FROM tok GROUP BY word),
         |r AS (SELECT cnt,
         |             row_number() OVER (ORDER BY cnt DESC, word ASC) AS rk
         |      FROM freq),
         |f AS (
         |  SELECT CAST(sum(cnt) AS BIGINT) AS total,
         |         CAST(coalesce(sum(cnt) FILTER (rk <= 100), 0) AS BIGINT) AS c100,
         |         CAST(coalesce(sum(cnt) FILTER (rk <= 1000), 0) AS BIGINT) AS c1000,
         |         CAST(coalesce(sum(cnt) FILTER (rk <= 10000), 0) AS BIGINT) AS c10000
         |  FROM r)
         |SELECT 100 AS vocab_size, total AS total_tokens, c100 AS covered_tokens,
         |       round(c100 * 1.0 / total, 6) AS coverage FROM f
         |UNION ALL
         |SELECT 1000, total, c1000, round(c1000 * 1.0 / total, 6) FROM f
         |UNION ALL
         |SELECT 10000, total, c10000, round(c10000 * 1.0 / total, 6) FROM f""".stripMargin,
    // the q20 classifier replica per source; same und-exclusion rule
    "q246_lang_mismatch" ->
      s"""$WordsCte, $LangPredCte
         |SELECT d.source, count(*) AS n_docs,
         |       count(*) FILTER (p.pred_lang = 'und') AS n_unknown,
         |       count(*) FILTER (p.pred_lang <> 'und'
         |                        AND p.pred_lang <> d.lang) AS n_mismatch,
         |       round(count(*) FILTER (p.pred_lang <> 'und'
         |                              AND p.pred_lang <> d.lang) * 1.0
         |             / count(*), 6) AS mismatch_rate
         |FROM documents d JOIN pred p ON p.doc_id = d.doc_id
         |GROUP BY 1""".stripMargin,
    // same q21 stopword ratio, same md5 fingerprint multiplicity,
    // same (ratio, doc_id) ntile order
    "q232_quality_dup_rate" ->
      s"""$WordsCte,
         |s AS (
         |  SELECT doc_id,
         |         round(len(list_filter(w, x -> list_contains(['the','a','of','and','to','in','is'], x))) * 1.0
         |               / greatest(len(w), 1), 6) AS sr
         |  FROM wd),
         |f AS (SELECT doc_id, md5(text) AS fp FROM documents),
         |dupe AS (
         |  SELECT doc_id,
         |         CASE WHEN count(*) OVER (PARTITION BY fp) > 1 THEN 1 ELSE 0 END AS is_dup
         |  FROM f),
         |d AS (
         |  SELECT s.doc_id, s.sr, dupe.is_dup,
         |         ntile(10) OVER (ORDER BY s.sr, s.doc_id) AS decile
         |  FROM s JOIN dupe ON dupe.doc_id = s.doc_id)
         |SELECT decile, count(*) AS n_docs, CAST(sum(is_dup) AS BIGINT) AS n_dups,
         |       round(sum(is_dup) * 1.0 / count(*), 6) AS dup_rate
         |FROM d GROUP BY 1""".stripMargin,
    // same word-frequency vectors, same exact integer dot/norm sums,
    // one final double division per pair
    "q229_source_lexical_sim" ->
      """WITH sw AS (
        |  SELECT source,
        |         unnest(list_filter(
        |           list_transform(string_split_regex(lower(text), '\s+'),
        |                          t -> regexp_replace(t, '[^a-z0-9]', '', 'g')),
        |           x -> length(x) > 0)) AS word
        |  FROM documents),
        |wf AS (SELECT source, word, count(*) AS f FROM sw GROUP BY 1, 2),
        |norms AS (SELECT source, sum(f * f) AS n2 FROM wf GROUP BY 1),
        |dots AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |         sum(a.f * b.f) AS dot
        |  FROM wf a JOIN wf b ON a.word = b.word AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT d.source_a, d.source_b,
        |       round(CAST(dot AS DOUBLE) /
        |             sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)), 6) AS cos
        |FROM dots d
        |JOIN norms na ON na.source = d.source_a
        |JOIN norms nb ON nb.source = d.source_b""".stripMargin,
    // same md5 order, same per-source k=16 minima, same merged sketch
    // from the union of per-source sketches, same q73 estimator
    "q213_kmv_union" ->
      """WITH sw AS (
        |  SELECT DISTINCT source,
        |         unnest(list_filter(
        |           list_transform(string_split_regex(lower(text), '\s+'),
        |                          t -> regexp_replace(t, '[^a-z0-9]', '', 'g')),
        |           x -> length(x) > 0)) AS word
        |  FROM documents),
        |h AS (SELECT DISTINCT source, md5(word) AS h FROM sw),
        |rk AS (SELECT source, h,
        |              row_number() OVER (PARTITION BY source ORDER BY h) AS rk
        |       FROM h),
        |sk AS (SELECT source, h FROM rk WHERE rk <= 16),
        |per AS (SELECT source, count(*) AS k_actual, max(h) AS hmax
        |        FROM sk GROUP BY 1),
        |m0 AS (SELECT DISTINCT h FROM sk ORDER BY h LIMIT 16),
        |mg AS (SELECT '__merged' AS source, count(*) AS k_actual, max(h) AS hmax
        |       FROM m0),
        |u AS (SELECT * FROM per UNION ALL SELECT * FROM mg)
        |SELECT source, k_actual,
        |       round((k_actual - 1) * 1.0 /
        |             (CAST(('0x' || substr(hmax, 1, 8)) AS BIGINT) / 4294967296.0),
        |             6) AS est_vocab
        |FROM u""".stripMargin,
    // same lowercase/collapse normalization, same boundary-straddling
    // trigrams, same (count DESC, trigram ASC) rank
    "q201_char_trigrams" ->
      """WITH s AS (
        |  SELECT lang, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS t
        |  FROM documents),
        |tg AS (
        |  SELECT lang, substr(t, CAST(i AS INT), 3) AS tri
        |  FROM s, unnest(range(1, greatest(length(t) - 1, 1))) AS u(i)
        |  WHERE length(t) >= 3),
        |cnts AS (SELECT lang, tri, count(*) AS cnt FROM tg GROUP BY 1, 2)
        |SELECT lang, rank, tri, cnt FROM (
        |  SELECT lang, tri, cnt,
        |         row_number() OVER (PARTITION BY lang
        |                            ORDER BY cnt DESC, tri ASC) AS rank
        |  FROM cnts)
        |WHERE rank <= 10""".stripMargin,
    // same source×value grid, same integer cross-product sup, one
    // final division
    "q191_ks_test" ->
      """WITH sv AS (
        |  SELECT source, n_chars, count(*) AS c FROM documents GROUP BY 1, 2),
        |st AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_src FROM sv GROUP BY 1),
        |vals AS (SELECT n_chars, CAST(sum(c) AS BIGINT) AS cg FROM sv GROUP BY 1),
        |tot AS (SELECT CAST(sum(cg) AS BIGINT) AS n_all FROM vals),
        |grid AS (
        |  SELECT st.source, st.n_src, vals.n_chars, vals.cg,
        |         coalesce(sv.c, 0) AS c
        |  FROM st CROSS JOIN vals
        |  LEFT JOIN sv ON sv.source = st.source AND sv.n_chars = vals.n_chars),
        |cums AS (
        |  SELECT source, n_src, cg, c,
        |    sum(c) OVER (PARTITION BY source ORDER BY n_chars) AS cum_s,
        |    sum(cg) OVER (PARTITION BY source ORDER BY n_chars) AS cum_g
        |  FROM grid)
        |SELECT source, n_src, n_all - n_src AS n_rest,
        |  round(CAST(max(abs(cum_s * (n_all - n_src) - (cum_g - cum_s) * n_src))
        |          AS DOUBLE) / (n_src * (n_all - n_src)), 6) AS ks_d
        |FROM cums CROSS JOIN tot
        |GROUP BY source, n_src, n_all""".stripMargin,
    // same tokenizer, same (word, source)-grain counting, same
    // corpus-frequency-1 hapax rule
    "q186_hapax_stats" ->
      """WITH tok AS (
        |  SELECT source,
        |    unnest(list_filter(
        |      list_transform(string_split_regex(lower(text), '\s+'),
        |                     t -> regexp_replace(t, '[^a-z0-9]', '', 'g')),
        |      x -> length(x) > 0)) AS word
        |  FROM documents),
        |ws AS (SELECT word, source, count(*) AS c FROM tok GROUP BY 1, 2),
        |gw AS (SELECT word, sum(c) AS cnt FROM ws GROUP BY 1)
        |SELECT ws.source,
        |  count(*) AS n_vocab,
        |  CAST(sum(CASE WHEN gw.cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |  round(CAST(sum(CASE WHEN gw.cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |        / count(*), 6) AS hapax_ratio
        |FROM ws JOIN gw USING (word) GROUP BY 1""".stripMargin,
    // same [.!?]+ segmentation, same trim/non-empty filter, same
    // char-length folds
    "q187_sentence_stats" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    list_filter(list_transform(string_split_regex(text, '[.!?]+'),
        |                               x -> trim(x)),
        |                x -> length(x) > 0) AS segs
        |  FROM documents)
        |SELECT doc_id,
        |  len(segs) AS n_sentences,
        |  round(CAST(coalesce(list_sum(list_transform(segs, x -> length(x))), 0)
        |          AS DOUBLE) / greatest(len(segs), 1), 6) AS mean_sentence_chars,
        |  coalesce(list_max(list_transform(segs, x -> length(x))), 0)
        |    AS max_sentence_chars
        |FROM s""".stripMargin,
    // same (cnt DESC, word) rank order, same 1e9-quantized regressors,
    // same DECIMAL(38,0) moment sums and closed-form slope
    "q181_zipf_fit" ->
      s"""$WordsCte,
         |tok AS (SELECT unnest(w) AS word FROM wd),
         |freq AS (SELECT word, count(*) AS cnt FROM tok GROUP BY 1),
         |xy AS (
         |  SELECT CAST(round(ln(CAST(row_number() OVER
         |           (ORDER BY cnt DESC, word ASC) AS DOUBLE)) * 1e9) AS BIGINT) AS x,
         |         CAST(round(ln(CAST(cnt AS DOUBLE)) * 1e9) AS BIGINT) AS y
         |  FROM freq),
         |m AS (
         |  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         |         sum(CAST(x AS DECIMAL(38,0)) * y) AS sxy,
         |         sum(CAST(x AS DECIMAL(38,0)) * x) AS sxx
         |  FROM xy)
         |SELECT n AS n_vocab,
         |       round(CAST(CAST(n AS DECIMAL(38,0)) * sxy
         |               - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
         |             / CAST(CAST(n AS DECIMAL(38,0)) * sxx
         |               - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE), 6) AS slope,
         |       round((CAST(sy AS DOUBLE)
         |              - CAST(CAST(n AS DECIMAL(38,0)) * sxy
         |                  - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
         |                / CAST(CAST(n AS DECIMAL(38,0)) * sxx
         |                  - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)
         |                * CAST(sx AS DOUBLE)) / n / 1e9, 6) AS intercept
         |FROM m""".stripMargin,
    // same min(doc_id) first-occurrence rule, pure integer prefix sums
    "q182_heaps_law" ->
      s"""$WordsCte,
         |tok AS (SELECT doc_id, unnest(w) AS word FROM wd),
         |per_doc AS (SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY 1),
         |first_seen AS (
         |  SELECT fd AS doc_id, count(*) AS n_new FROM (
         |    SELECT word, min(doc_id) AS fd FROM tok GROUP BY 1) GROUP BY 1)
         |SELECT p.doc_id,
         |       CAST(sum(p.n_tok) OVER (ORDER BY p.doc_id
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
         |       CAST(sum(coalesce(f.n_new, 0)) OVER (ORDER BY p.doc_id
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_vocab
         |FROM per_doc p LEFT JOIN first_seen f ON f.doc_id = p.doc_id""".stripMargin,
    // same source×vocab zero-materializing grid, same 0·ln0 = 0 guards,
    // same 1e9 fixed-point pair terms before the integer sum
    "q177_js_divergence" ->
      s"""$WordsCte,
         |tok AS (SELECT d.source, unnest(w.w) AS word
         |        FROM wd w JOIN documents d ON d.doc_id = w.doc_id),
         |sw AS (SELECT source, word, count(*) AS c FROM tok GROUP BY 1, 2),
         |st AS (SELECT source, sum(c) AS tot_s FROM sw GROUP BY 1),
         |vocab AS (SELECT DISTINCT word FROM sw),
         |grid AS (
         |  SELECT st.source, vocab.word,
         |         CAST(coalesce(sw.c, 0) AS DOUBLE) / st.tot_s AS p
         |  FROM st CROSS JOIN vocab
         |  LEFT JOIN sw ON sw.source = st.source AND sw.word = vocab.word),
         |pairs AS (
         |  SELECT a.source AS src_a, b.source AS src_b,
         |         CAST(round((CASE WHEN a.p > 0
         |                 THEN a.p * ln(a.p / ((a.p + b.p) / 2)) ELSE 0 END
         |               + CASE WHEN b.p > 0
         |                 THEN b.p * ln(b.p / ((a.p + b.p) / 2)) ELSE 0 END)
         |              / 2 * 1000000000) AS BIGINT) AS term_fp
         |  FROM grid a JOIN grid b ON a.word = b.word AND a.source < b.source
         |  WHERE a.p + b.p > 0)
         |SELECT src_a, src_b,
         |       round(CAST(sum(term_fp) AS DOUBLE) / 1000000000.0, 6) AS js
         |FROM pairs GROUP BY 1, 2""".stripMargin,
    // same (score DESC, doc_id) ntile order, same exact-integer decile
    // margins and one-division rates
    "q179_lift_table" ->
      """WITH scored AS (
        |  SELECT doc_id, n_chars AS score,
        |         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM documents),
        |dec AS (
        |  SELECT ntile(10) OVER (ORDER BY score DESC, doc_id) AS decile, pos
        |  FROM scored),
        |g AS (SELECT decile, count(*) AS n, CAST(sum(pos) AS BIGINT) AS n_pos
        |      FROM dec GROUP BY 1),
        |t AS (SELECT sum(n) AS tn, sum(n_pos) AS tp FROM g)
        |SELECT decile, n, n_pos,
        |       round(CAST(n_pos AS DOUBLE) / n, 6) AS rate,
        |       round((CAST(n_pos AS DOUBLE) / n)
        |             / (CAST(tp AS DOUBLE) / tn), 6) AS lift,
        |       round(CAST(sum(n_pos) OVER (ORDER BY decile
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |             AS DOUBLE) / tp, 6) AS cum_gain
        |FROM g CROSS JOIN t""".stripMargin,
    // mirrors q88 op-for-op: same tokenizer CTE, fixed-point-quantized
    // per-token ln BEFORE the sum (integer agg = order-invariant on both
    // engines), double division only at the end
    "q88_logfreq_quality" ->
      s"""$WordsCte,
         |tok AS (SELECT doc_id, unnest(w) AS word FROM wd),
         |freq AS (SELECT word, count(*) AS cnt FROM tok GROUP BY word),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM freq),
         |lp AS (
         |  SELECT t.doc_id,
         |         CAST(round(ln(CAST(f.cnt AS DOUBLE) / CAST(tot.total AS DOUBLE))
         |                    * 1000000) AS BIGINT) AS lp
         |  FROM tok t JOIN freq f USING (word) CROSS JOIN tot)
         |SELECT doc_id, count(*) AS n_tokens,
         |       round(CAST(sum(lp) AS DOUBLE) / count(*) / 1000000.0, 6) AS mean_logprob
         |FROM lp GROUP BY doc_id""".stripMargin,
    // identical fixed-point quantization (round(c·ln(c)·1e6) as BIGINT)
    // before the per-doc sum, so both engines aggregate exact integers
    "q156_token_entropy" ->
      s"""$WordsCte,
         |tok AS (SELECT doc_id, unnest(w) AS word FROM wd),
         |wc AS (SELECT doc_id, word, count(*) AS cnt FROM tok GROUP BY 1, 2),
         |ag AS (
         |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
         |         count(*) AS n_types,
         |         CAST(sum(CAST(round(CAST(cnt AS DOUBLE) * ln(CAST(cnt AS DOUBLE))
         |                             * 1000000) AS BIGINT)) AS BIGINT) AS s_fp
         |  FROM wc GROUP BY doc_id)
         |SELECT doc_id, n_tokens, n_types,
         |       round(ln(CAST(n_tokens AS DOUBLE))
         |             - (CAST(s_fp AS DOUBLE) / 1000000.0)
         |               / CAST(n_tokens AS DOUBLE), 6) AS entropy,
         |       round(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS ttr
         |FROM ag""".stripMargin,
    // identical md5(source#id) rank and ⌈n·0.3⌉ cutoff per stratum
    "q160_stratified_sample" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY md5(source || '#' || CAST(doc_id AS VARCHAR))) AS rn,
        |         count(*) OVER (PARTITION BY source) AS n
        |  FROM documents)
        |SELECT doc_id, source FROM r WHERE rn <= ceil(n * 0.3)""".stripMargin,
    // same exact-integer marginals and double closed form per cell
    "q162_chi2_independence" ->
      """WITH o AS (
        |  SELECT source, lang, count(*) AS o FROM documents GROUP BY 1, 2),
        |rt AS (SELECT source, sum(o) AS rt FROM o GROUP BY 1),
        |ct AS (SELECT lang, sum(o) AS ct FROM o GROUP BY 1),
        |tt AS (SELECT sum(o) AS tot FROM o)
        |SELECT o.source, o.lang, o.o AS observed,
        |       round(CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
        |             / CAST(tot AS DOUBLE), 6) AS expected,
        |       round((CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
        |                                  / CAST(tot AS DOUBLE))
        |             * (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
        |                                    / CAST(tot AS DOUBLE))
        |             / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
        |                / CAST(tot AS DOUBLE)), 6) AS contrib
        |FROM o JOIN rt USING (source) JOIN ct USING (lang) CROSS JOIN tt""".stripMargin,
    // the q20 classifier replica + integer confusion margins; F1 via the
    // 2·tp/(n_gold+n_pred) identity, NULLIF for never-predicted classes
    "q164_confusion_matrix" ->
      s"""$WordsCte, $LangPredCte,
         |conf AS (
         |  SELECT d.lang, p.pred_lang, count(*) AS n
         |  FROM documents d JOIN pred p ON p.doc_id = d.doc_id
         |  GROUP BY 1, 2),
         |bg AS (
         |  SELECT lang AS cls, sum(n) AS n_gold,
         |         sum(CASE WHEN lang = pred_lang THEN n ELSE 0 END) AS tp
         |  FROM conf GROUP BY 1),
         |bp AS (SELECT pred_lang AS cls, sum(n) AS n_pred FROM conf GROUP BY 1),
         |cls AS (SELECT cls FROM bg UNION SELECT cls FROM bp)
         |SELECT c.cls,
         |       CAST(coalesce(tp, 0) AS BIGINT) AS tp,
         |       CAST(coalesce(n_gold, 0) AS BIGINT) AS n_gold,
         |       CAST(coalesce(n_pred, 0) AS BIGINT) AS n_pred,
         |       round(CAST(coalesce(tp, 0) AS DOUBLE)
         |             / NULLIF(coalesce(n_pred, 0), 0), 6) AS precision,
         |       round(CAST(coalesce(tp, 0) AS DOUBLE)
         |             / NULLIF(coalesce(n_gold, 0), 0), 6) AS recall,
         |       round(2.0 * coalesce(tp, 0)
         |             / NULLIF(coalesce(n_gold, 0) + coalesce(n_pred, 0), 0), 6) AS f1
         |FROM cls c LEFT JOIN bg USING (cls) LEFT JOIN bp USING (cls)""".stripMargin,
    // identical per-score count table + running total; the rank-sum stays
    // integer until the single final division
    "q165_auc_rank" ->
      """WITH per AS (
        |  SELECT n_chars AS score, count(*) AS n,
        |         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS np
        |  FROM documents GROUP BY 1),
        |c AS (
        |  SELECT np, n,
        |         coalesce(sum(n) OVER (ORDER BY score
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |  FROM per),
        |a AS (
        |  SELECT sum(np * (2 * cb + n + 1)) AS s2,
        |         sum(np) AS n_pos, sum(n - np) AS n_neg
        |  FROM c)
        |SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
        |       round(CAST(s2 - n_pos * (n_pos + 1) AS DOUBLE)
        |             / (2.0 * n_pos * n_neg), 6) AS auc
        |FROM a""".stripMargin,
    // same density ratio, same fixed-point mean, same bin arithmetic
    "q166_calibration" ->
      s"""$WordsCte, $LangPredCte,
         |cf AS (
         |  SELECT p.doc_id,
         |         CAST(s_en AS DOUBLE) / len(w.w) AS conf
         |  FROM pred p JOIN wd w ON w.doc_id = p.doc_id
         |  WHERE len(w.w) > 0),
         |b AS (
         |  SELECT CAST(least(floor(conf * 20), 9) AS INT) AS bin, conf,
         |         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS pos
         |  FROM cf JOIN documents d ON d.doc_id = cf.doc_id)
         |SELECT bin, count(*) AS n,
         |       round(CAST(sum(CAST(round(conf * 1000000) AS BIGINT)) AS DOUBLE)
         |             / 1000000.0 / count(*), 6) AS mean_conf,
         |       round(CAST(sum(pos) AS DOUBLE) / count(*), 6) AS frac_pos
         |FROM b GROUP BY bin""".stripMargin,
    // same exact-integer marginals, same per-term quantization before
    // the per-source sum
    "q170_source_kl" ->
      s"""$WordsCte,
         |tok AS (SELECT d.source, unnest(w.w) AS word
         |        FROM wd w JOIN documents d ON d.doc_id = w.doc_id),
         |sw AS (SELECT source, word, count(*) AS c FROM tok GROUP BY 1, 2),
         |st AS (SELECT source, sum(c) AS tot_s FROM sw GROUP BY 1),
         |cw AS (SELECT word, sum(c) AS cw FROM sw GROUP BY 1),
         |tt AS (SELECT sum(c) AS tot FROM sw),
         |terms AS (
         |  SELECT sw.source, st.tot_s,
         |         CAST(round((CAST(c AS DOUBLE) / tot_s)
         |                    * ln((CAST(c AS DOUBLE) / tot_s)
         |                         / (CAST(cw AS DOUBLE) / tot))
         |                    * 1000000000) AS BIGINT) AS term_fp
         |  FROM sw JOIN st USING (source) JOIN cw USING (word) CROSS JOIN tt)
         |SELECT source, CAST(max(tot_s) AS BIGINT) AS n_tokens,
         |       round(CAST(sum(term_fp) AS DOUBLE) / 1000000000.0, 6) AS kl
         |FROM terms GROUP BY source""".stripMargin,
    // q88's score CTEs + the WINDOW formulation of per-source top-3 —
    // the TopKAgg plan must agree with it exactly
    "q121_source_topk" ->
      s"""$WordsCte,
         |tok AS (SELECT doc_id, unnest(w) AS word FROM wd),
         |freq AS (SELECT word, count(*) AS cnt FROM tok GROUP BY word),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM freq),
         |lp AS (
         |  SELECT t.doc_id,
         |         CAST(round(ln(CAST(f.cnt AS DOUBLE) / CAST(tot.total AS DOUBLE))
         |                    * 1000000) AS BIGINT) AS lp
         |  FROM tok t JOIN freq f USING (word) CROSS JOIN tot),
         |sc AS (
         |  SELECT doc_id,
         |         round(CAST(sum(lp) AS DOUBLE) / count(*) / 1000000.0, 6) AS score
         |  FROM lp GROUP BY doc_id)
         |SELECT source, rank, doc_id, score FROM (
         |  SELECT d.source, s.doc_id, s.score,
         |         row_number() OVER (
         |           PARTITION BY d.source
         |           ORDER BY s.score DESC, s.doc_id ASC) AS rank
         |  FROM sc s JOIN documents d USING (doc_id))
         |WHERE rank <= 3""".stripMargin,
    // mirrors q92: bigram occurrences from the word array (len<2 emits
    // nothing, matching the generator's occurrence mode), prefix counts
    // summed from the bigram table, fixed-point ln before the integer sum
    // same bigram CTE as q92; marginals per position, one ln, 6dp
    "q136_pmi_collocations" ->
      s"""$WordsCte,
         |bg AS (
         |  SELECT unnest(list_transform(range(1, len(w)),
         |                        i -> w[i] || ' ' || w[i + 1])) AS bg
         |  FROM wd),
         |bgf AS (SELECT bg, count(*) AS cab FROM bg GROUP BY bg),
         |tot AS (SELECT CAST(sum(cab) AS BIGINT) AS nbg FROM bgf),
         |fst AS (SELECT split_part(bg, ' ', 1) AS wa,
         |               CAST(sum(cab) AS BIGINT) AS ca FROM bgf GROUP BY 1),
         |snd AS (SELECT split_part(bg, ' ', 2) AS wb,
         |               CAST(sum(cab) AS BIGINT) AS cb FROM bgf GROUP BY 1)
         |SELECT f.bg AS bigram, f.cab, fst.ca, snd.cb,
         |       round(ln((CAST(f.cab AS DOUBLE) * CAST(tot.nbg AS DOUBLE))
         |                / (CAST(fst.ca AS DOUBLE) * CAST(snd.cb AS DOUBLE))), 6)
         |         AS pmi
         |FROM bgf f
         |JOIN fst ON split_part(f.bg, ' ', 1) = fst.wa
         |JOIN snd ON split_part(f.bg, ' ', 2) = snd.wb
         |CROSS JOIN tot
         |WHERE f.cab >= 5""".stripMargin,
    "q92_bigram_coherence" ->
      s"""$WordsCte,
         |bg AS (
         |  SELECT doc_id, unnest(list_transform(range(1, len(w)),
         |                        i -> w[i] || ' ' || w[i + 1])) AS bg
         |  FROM wd),
         |bgf AS (SELECT bg, count(*) AS cbg FROM bg GROUP BY bg),
         |pre AS (
         |  SELECT split_part(bg, ' ', 1) AS w1, CAST(sum(cbg) AS BIGINT) AS cw1
         |  FROM bgf GROUP BY 1),
         |lp AS (
         |  SELECT b.doc_id,
         |         CAST(round(ln(CAST(f.cbg AS DOUBLE) / CAST(p.cw1 AS DOUBLE))
         |                    * 1000000) AS BIGINT) AS lp
         |  FROM bg b
         |  JOIN bgf f USING (bg)
         |  JOIN pre p ON split_part(b.bg, ' ', 1) = p.w1)
         |SELECT doc_id, count(*) AS n_bigrams,
         |       round(CAST(sum(lp) AS DOUBLE) / count(*) / 1000000.0, 6) AS mean_logcond
         |FROM lp GROUP BY doc_id""".stripMargin,
    // mirrors q94 on top of q84's bucket/token CTE
    "q94_packing_efficiency" ->
      s"""$WordsCte,
         |t AS (
         |  SELECT doc_id,
         |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) % 8 AS bucket,
         |         CAST(len(w) AS BIGINT) AS n_tok
         |  FROM wd),
         |b AS (
         |  SELECT bucket, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_tokens,
         |         (CAST(sum(n_tok) AS BIGINT) + 511) // 512 AS n_seqs
         |  FROM t GROUP BY bucket)
         |SELECT bucket, n_docs, total_tokens, n_seqs,
         |       n_seqs * 512 - total_tokens AS pad_waste,
         |       CASE WHEN n_seqs > 0
         |            THEN round(CAST(total_tokens AS DOUBLE) / (n_seqs * 512), 6)
         |            ELSE 0.0 END AS fill_ratio
         |FROM b""".stripMargin,
    "q90_train_order" ->
      """WITH h AS (
        |  SELECT doc_id, md5('graft-order-42-' || doc_id) AS h
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, h,
        |         CAST(('0x' || substr(h, 1, 4)) AS INT) % 16 AS shard
        |  FROM h)
        |SELECT doc_id, shard,
        |       CAST(row_number() OVER (PARTITION BY shard ORDER BY h ASC, doc_id ASC)
        |            AS INT) AS pos
        |FROM s""".stripMargin,
    "q24_winnow_pairs" ->
      """WITH nm AS (
        |  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
        |  FROM documents),
        |ch AS (
        |  SELECT doc_id, length(s) AS n,
        |         list_transform(range(1, length(s) + 1),
        |                        i -> CAST(ord(substr(s, i, 1)) AS HUGEINT)) AS b
        |  FROM nm WHERE length(s) > 0),
        |hs AS (
        |  SELECT doc_id,
        |    list_transform(
        |      CASE WHEN n >= 5 THEN
        |        list_transform(range(1, n - 3), p ->
        |          list_reduce(b[p:p+4],
        |            (acc, x) -> (acc * 1000003 + x) % 18446744073709551616))
        |      ELSE [list_reduce(b,
        |            (acc, x) -> (acc * 1000003 + x) % 18446744073709551616)]
        |      END,
        |      u -> CAST(CASE WHEN u >= 9223372036854775808
        |                THEN u - 18446744073709551616 ELSE u END AS BIGINT)) AS h
        |  FROM ch),
        |wins AS (
        |  SELECT doc_id,
        |    CASE WHEN len(h) <= 4 THEN [list_min(h)]
        |         ELSE list_transform(range(1, len(h) - 2), s -> list_min(h[s:s+3])) END AS w
        |  FROM hs),
        |fp AS (SELECT DISTINCT doc_id, unnest(w) AS fp FROM wins),
        |rare AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= 20),
        |kept AS (SELECT f.doc_id, f.fp FROM fp f JOIN rare USING (fp)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, shared,
        |       round(shared * 1.0 / least(sa.n, sb.n), 6) AS containment
        |FROM pairs JOIN sizes sa ON sa.doc_id = pairs.id_a
        |           JOIN sizes sb ON sb.doc_id = pairs.id_b
        |WHERE round(shared * 1.0 / least(sa.n, sb.n), 6) >= 0.6""".stripMargin,
    "q72_cap_per_source" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |         row_number() OVER (
        |           PARTITION BY source
        |           ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rk
        |  FROM documents)
        |WHERE rk <= 15""".stripMargin,
    "q71_hash_split" ->
      """SELECT doc_id,
        |       CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a' THEN 'test'
        |            WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '34' THEN 'val'
        |            ELSE 'train' END AS split
        |FROM documents""".stripMargin,
    "q70_curation" ->
      s"""$WordsCte, $CurationCtes
         |SELECT doc_id, n_words, pred_lang FROM surv""".stripMargin,
    "q25_lang_ngram" ->
      """WITH nm AS (
        |  SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS n
        |  FROM documents),
        |scored AS (
        |  SELECT doc_id,
        |    CAST((length(n) - length(replace(n,'sch',''))) / 3
        |       + (length(n) - length(replace(n,'ich',''))) / 3
        |       + (length(n) - length(replace(n,'der',''))) / 3
        |       + (length(n) - length(replace(n,'und',''))) / 3
        |       + (length(n) - length(replace(n,'ein',''))) / 3 AS INT) AS t_de,
        |    CAST((length(n) - length(replace(n,'the',''))) / 3
        |       + (length(n) - length(replace(n,'ing',''))) / 3
        |       + (length(n) - length(replace(n,'and',''))) / 3
        |       + (length(n) - length(replace(n,'ion',''))) / 3
        |       + (length(n) - length(replace(n,'ent',''))) / 3 AS INT) AS t_en,
        |    CAST((length(n) - length(replace(n,'que',''))) / 3
        |       + (length(n) - length(replace(n,'los',''))) / 3
        |       + (length(n) - length(replace(n,'cio',''))) / 3
        |       + (length(n) - length(replace(n,'ent',''))) / 3
        |       + (length(n) - length(replace(n,'ada',''))) / 3 AS INT) AS t_es,
        |    CAST((length(n) - length(replace(n,'les',''))) / 3
        |       + (length(n) - length(replace(n,'ent',''))) / 3
        |       + (length(n) - length(replace(n,'que',''))) / 3
        |       + (length(n) - length(replace(n,'eur',''))) / 3
        |       + (length(n) - length(replace(n,'ion',''))) / 3 AS INT) AS t_fr
        |  FROM nm)
        |SELECT doc_id, t_de, t_en, t_es, t_fr,
        |  CASE WHEN t_de = 0 AND t_en = 0 AND t_es = 0 AND t_fr = 0 THEN 'und'
        |       WHEN t_fr > greatest(t_de, t_en, t_es) THEN 'fr'
        |       WHEN t_es > greatest(t_de, t_en) THEN 'es'
        |       WHEN t_en > t_de THEN 'en'
        |       ELSE 'de' END AS pred_lang
        |FROM scored""".stripMargin,
    "q20_lang_id" ->
      s"""$WordsCte, scored AS (
         |  SELECT doc_id,
         |    len(list_filter(w, x -> list_contains(['der','die','das','und','ein','zu','ist'], x))) AS s_de,
         |    len(list_filter(w, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS s_en,
         |    len(list_filter(w, x -> list_contains(['el','la','los','de','y','un','una'], x))) AS s_es,
         |    len(list_filter(w, x -> list_contains(['le','la','les','de','et','un','une'], x))) AS s_fr
         |  FROM wd)
         |SELECT doc_id, s_de, s_en, s_es, s_fr,
         |  CASE WHEN s_de = 0 AND s_en = 0 AND s_es = 0 AND s_fr = 0 THEN 'und'
         |       WHEN s_fr > greatest(s_de, s_en, s_es) THEN 'fr'
         |       WHEN s_es > greatest(s_de, s_en) THEN 'es'
         |       WHEN s_en > s_de THEN 'en'
         |       ELSE 'de' END AS pred_lang
         |FROM scored""".stripMargin,
    // q354: the Gopher repetition masses re-derived from scratch — grams
    // via 1-based list slices per n ∈ {2,3,4,5,10}, exact integer
    // count·charlen products, thresholds as the same integer
    // cross-multiplications the operator uses (never a float division)
    "q354_gopher_repetition" ->
      """WITH wd AS (
        |  SELECT doc_id,
        |         list_filter(
        |           list_transform(string_split_regex(lower(text), '\s+'),
        |                          t -> regexp_replace(t, '[^a-z0-9]', '', 'g')),
        |           x -> length(x) > 0) AS w
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, w,
        |         CAST(CASE WHEN len(w) = 0 THEN 0
        |              ELSE length(array_to_string(w, ' ')) END AS BIGINT) AS denom
        |  FROM wd),
        |g AS (
        |  SELECT doc_id, n,
        |         unnest(list_transform(range(1, len(w) - n + 2),
        |                i -> array_to_string(w[i:i+n-1], ' '))) AS gram
        |  FROM base, (VALUES (2),(3),(4),(5),(10)) AS ns(n)
        |  WHERE len(w) >= n),
        |c AS (SELECT doc_id, n, gram, count(*) AS c, length(gram) AS gl
        |      FROM g GROUP BY 1, 2, 3),
        |m AS (SELECT doc_id, n,
        |             max(c * gl) AS topm,
        |             coalesce(sum(CASE WHEN c >= 2 THEN c * gl END), 0) AS dupm
        |      FROM c GROUP BY 1, 2),
        |p AS (SELECT b.doc_id, b.denom,
        |             CAST(coalesce(max(CASE WHEN m.n = 2 THEN m.topm END), 0) AS BIGINT) AS top2,
        |             CAST(coalesce(max(CASE WHEN m.n = 3 THEN m.topm END), 0) AS BIGINT) AS top3,
        |             CAST(coalesce(max(CASE WHEN m.n = 4 THEN m.topm END), 0) AS BIGINT) AS top4,
        |             CAST(coalesce(max(CASE WHEN m.n = 5 THEN m.dupm END), 0) AS BIGINT) AS dup5,
        |             CAST(coalesce(max(CASE WHEN m.n = 10 THEN m.dupm END), 0) AS BIGINT) AS dup10
        |      FROM base b LEFT JOIN m ON m.doc_id = b.doc_id
        |      GROUP BY 1, 2)
        |SELECT doc_id, denom, top2, top3, top4, dup5, dup10,
        |       (top2 * 5 <= denom AND top3 * 50 <= denom * 9
        |        AND top4 * 25 <= denom * 4 AND dup5 * 20 <= denom * 3
        |        AND dup10 * 10 <= denom) AS pass
        |FROM p""".stripMargin,
    "q21_quality" ->
      s"""$WordsCte
         |SELECT doc_id,
         |  len(list_filter(string_split_regex(trim(text), '\\s+'), x -> length(x) > 0)) AS n_ws_tokens,
         |  len(w) AS n_words,
         |  round((length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g'))) * 1.0
         |        / greatest(length(text), 1), 6) AS punct_ratio,
         |  round(len(list_filter(w, x -> list_contains(['the','a','of','and','to','in','is'], x))) * 1.0
         |        / greatest(len(w), 1), 6) AS stopword_ratio,
         |  round(list_sum(list_transform(w, x -> length(x))) * 1.0
         |        / greatest(len(w), 1), 6) AS mean_word_len,
         |  CASE WHEN round(list_sum(list_transform(w, x -> length(x))) * 1.0 / greatest(len(w), 1), 6)
         |              BETWEEN 3.0 AND 10.0
         |         AND round(len(list_filter(w, x -> list_contains(['the','a','of','and','to','in','is'], x))) * 1.0
         |              / greatest(len(w), 1), 6) >= 0.01
         |         AND round((length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g'))) * 1.0
         |              / greatest(length(text), 1), 6) <= 0.3
         |       THEN 1 ELSE 0 END AS quality_score
         |FROM wd""".stripMargin,
    "q22_token_counts" ->
      """SELECT doc_id,
        |  len(list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0)) AS n_ws_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+')) AS n_alpha_runs,
        |  len(regexp_extract_all(text, '[0-9]+')) AS n_digit_runs,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpeish
        |FROM documents""".stripMargin,
    "q23_fingerprints" ->
      s"""$WordsCte
         |SELECT doc_id,
         |  md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp_md5,
         |  CASE WHEN len(w) >= 3
         |       THEN list_min(list_transform(range(1, len(w) - 1),
         |                     i -> md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2])))
         |       ELSE md5(array_to_string(w, ' ')) END AS fp_shingle
         |FROM wd""".stripMargin,
    // mirrors mixSources exactly: ⌊w⌋ + (md5 6-hex prefix < ⌊frac·16^6⌋
    // in hex) copies per row, epochs materialized by a lateral range
    "q81_mix_sources" ->
      """WITH c AS (
        |  SELECT doc_id, source,
        |         CASE source
        |           WHEN 'src0' THEN 2 + CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) < '800000' THEN 1 ELSE 0 END
        |           WHEN 'src1' THEN 1 + CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) < '400000' THEN 1 ELSE 0 END
        |           WHEN 'src2' THEN 0 + CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) < '333333' THEN 1 ELSE 0 END
        |           WHEN 'src3' THEN 0
        |           ELSE 1 END AS copies
        |  FROM documents)
        |SELECT doc_id, source, CAST(t.epoch AS BIGINT) AS epoch
        |FROM c, unnest(range(0, c.copies)) AS t(epoch)
        |WHERE copies >= 1""".stripMargin,
    "q82_token_chunks" ->
      s"""$WordsCte
         |SELECT doc_id, CAST(t.chunk_id AS INT) AS chunk_id,
         |       CAST(t.chunk_id * 25 AS INT) AS start_tok,
         |       CAST(least(40, len(w) - t.chunk_id * 25) AS INT) AS n_tok,
         |       md5(array_to_string(w[t.chunk_id*25 + 1 : t.chunk_id*25 + 40], ' ')) AS chunk_fp
         |FROM wd, unnest(range(0, 1 + (len(w) - 1) // 25)) AS t(chunk_id)
         |WHERE len(w) > 0""".stripMargin,
    // mirrors q115 round-for-round: same distinct symmetric bigram
    // edges, same integer constants (Scale=1e12, d=0.85 as 85//100),
    // same floor-division recurrence — exact integer arithmetic on both
    // engines, so the hash compare is exact
    "q115_textrank" ->
      s"""$WordsCte,
         |bi AS (
         |  SELECT DISTINCT w[i] AS a, w[i+1] AS b
         |  FROM wd, unnest(range(1, len(w))) AS t(i)
         |  WHERE w[i] <> w[i+1]),
         |ed AS (SELECT a, b FROM bi UNION SELECT b AS a, a AS b FROM bi),
         |deg AS (SELECT a AS word, count(*) AS d FROM ed GROUP BY a),
         |c0 AS (
         |  SELECT (1000000000000 // count(*)) AS r0,
         |         ((1000000000000 // count(*)) * 15) // 100 AS base
         |  FROM deg),
         |r0 AS (SELECT word, d, (SELECT r0 FROM c0) AS r FROM deg),
         |s1 AS (SELECT ed.b AS word, CAST(SUM(r0.r // r0.d) AS BIGINT) AS sc
         |       FROM ed JOIN r0 ON r0.word = ed.a GROUP BY ed.b),
         |r1 AS (SELECT s1.word, deg.d,
         |              (SELECT base FROM c0) + (85 * s1.sc) // 100 AS r
         |       FROM s1 JOIN deg USING (word)),
         |s2 AS (SELECT ed.b AS word, CAST(SUM(r1.r // r1.d) AS BIGINT) AS sc
         |       FROM ed JOIN r1 ON r1.word = ed.a GROUP BY ed.b),
         |r2 AS (SELECT s2.word, deg.d,
         |              (SELECT base FROM c0) + (85 * s2.sc) // 100 AS r
         |       FROM s2 JOIN deg USING (word)),
         |s3 AS (SELECT ed.b AS word, CAST(SUM(r2.r // r2.d) AS BIGINT) AS sc
         |       FROM ed JOIN r2 ON r2.word = ed.a GROUP BY ed.b),
         |r3 AS (SELECT s3.word, deg.d,
         |              (SELECT base FROM c0) + (85 * s3.sc) // 100 AS r
         |       FROM s3 JOIN deg USING (word)),
         |s4 AS (SELECT ed.b AS word, CAST(SUM(r3.r // r3.d) AS BIGINT) AS sc
         |       FROM ed JOIN r3 ON r3.word = ed.a GROUP BY ed.b),
         |r4 AS (SELECT s4.word,
         |              (SELECT base FROM c0) + (85 * s4.sc) // 100 AS r
         |       FROM s4)
         |SELECT rank, word, score FROM (
         |  SELECT row_number() OVER (ORDER BY r DESC, word ASC) AS rank,
         |         word, r AS score
         |  FROM r4)
         |WHERE rank <= 50""".stripMargin,
    // mirrors q113: same md5 bucket arithmetic, sketch = per-(row,
    // bucket) sums over the freq table, estimate = min of the probe
    // word's bucket sums
    "q113_heavy_hitters_cms" ->
      s"""$WordsCte,
         |tok AS (SELECT unnest(w) AS word FROM wd),
         |freq AS (SELECT word, count(*) AS cnt FROM tok GROUP BY word),
         |rb AS (
         |  SELECT f.word, f.cnt, r.r,
         |         CAST(('0x' || substr(md5(r.r || '|' || f.word), 1, 8)) AS BIGINT)
         |           % 1024 AS b
         |  FROM freq f CROSS JOIN (SELECT unnest(range(0, 4)) AS r) r),
         |sketch AS (
         |  SELECT r, b, CAST(SUM(cnt) AS BIGINT) AS bcnt FROM rb GROUP BY r, b),
         |top AS (SELECT word, cnt FROM freq ORDER BY cnt DESC, word ASC LIMIT 20)
         |SELECT t.word, t.cnt, MIN(s.bcnt) AS est
         |FROM top t
         |JOIN rb ON rb.word = t.word
         |JOIN sketch s ON s.r = rb.r AND s.b = rb.b
         |GROUP BY t.word, t.cnt""".stripMargin,
    "q87_vocab_coverage" ->
      s"""$WordsCte,
         |tok AS (SELECT unnest(w) AS word FROM wd),
         |freq AS (SELECT word, count(*) AS cnt FROM tok GROUP BY word),
         |top AS (
         |  SELECT word, cnt,
         |         row_number() OVER (ORDER BY cnt DESC, word ASC) AS rank
         |  FROM freq ORDER BY cnt DESC, word ASC LIMIT 20)
         |SELECT rank, word, cnt,
         |       round(SUM(cnt) OVER (ORDER BY rank
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |             * 1.0 / (SELECT SUM(cnt) FROM freq), 6) AS cum_coverage
         |FROM top""".stripMargin,
    // q70's CTEs produce the survivors; q84's window packs them
    "q86_training_corpus" ->
      s"""$WordsCte, $CurationCtes,
         |t AS (
         |  SELECT wd.doc_id,
         |         CAST(('0x' || substr(md5(CAST(wd.doc_id AS VARCHAR)), 1, 4)) AS INT) % 8 AS bucket,
         |         CAST(len(w) AS BIGINT) AS n_tok
         |  FROM wd JOIN surv ON wd.doc_id = surv.doc_id),
         |c AS (
         |  SELECT doc_id, bucket, n_tok,
         |         CAST(SUM(n_tok) OVER (
         |           PARTITION BY bucket ORDER BY doc_id ASC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |  FROM t)
         |SELECT doc_id, bucket,
         |       (cum - n_tok) // 512 AS seq_id,
         |       (cum - n_tok) % 512 AS tok_offset,
         |       n_tok
         |FROM c""".stripMargin,
    // mirrors packSequences: md5-hex bucket, id-ordered running token sum
    // per bucket, integer-division sequence placement
    "q84_pack_sequences" ->
      s"""$WordsCte,
         |t AS (
         |  SELECT doc_id,
         |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) % 8 AS bucket,
         |         CAST(len(w) AS BIGINT) AS n_tok
         |  FROM wd),
         |c AS (
         |  SELECT doc_id, bucket, n_tok,
         |         CAST(SUM(n_tok) OVER (
         |           PARTITION BY bucket ORDER BY doc_id ASC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |  FROM t)
         |SELECT doc_id, bucket,
         |       (cum - n_tok) // 512 AS seq_id,
         |       (cum - n_tok) % 512 AS tok_offset,
         |       n_tok
         |FROM c""".stripMargin,
    // the same md5 coin + modular split points, re-derived end to end
    "q372_fim_plan" ->
      s"""$FimPlanCte
         |SELECT doc_id, n AS n_tokens, fim,
         |       CASE WHEN fim THEN a ELSE n END AS p_len,
         |       CASE WHEN fim THEN b - a ELSE 0 END AS m_len,
         |       CASE WHEN fim THEN n - b ELSE 0 END AS s_len
         |FROM e""".stripMargin,
    // the same plan CTEs, then the render: three inclusive list slices
    // at the verified split points, ' '-joined
    "q379_fim_apply" ->
      s"""$FimPlanCte
         |SELECT doc_id, n AS n_tokens, fim,
         |       array_to_string(
         |         w[1 : CAST(CASE WHEN fim THEN a ELSE n END AS INT)], ' ')
         |         AS prefix,
         |       CASE WHEN fim
         |            THEN array_to_string(w[CAST(a + 1 AS INT) : CAST(b AS INT)], ' ')
         |            ELSE '' END AS middle,
         |       CASE WHEN fim
         |            THEN array_to_string(w[CAST(b + 1 AS INT) : CAST(n AS INT)], ' ')
         |            ELSE '' END AS suffix
         |FROM e""".stripMargin,
    // q364's block grid + offset coin re-derived per block, then the
    // corrupted/target streams rebuilt by pure list algebra and
    // fingerprinted — the independent re-render of the whole transform
    "q380_span_corruption_apply" ->
      s"""$WordsCte,
         |nb AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n FROM wd),
         |bl AS (
         |  SELECT doc_id, w, n,
         |         list_transform(range(0, greatest(CAST(ceil(n / 20.0) AS BIGINT), 1)),
         |           k -> struct_pack(
         |             k := k,
         |             bl := least(20, n - k * 20),
         |             off := CASE WHEN least(20, n - k * 20) >= 4
         |                    THEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|'
         |                              || CAST(k AS VARCHAR)), 1, 13)) AS BIGINT)
         |                         % (least(20, n - k * 20) - 2) END)) AS blocks
         |  FROM nb),
         |r AS (
         |  SELECT doc_id, n,
         |         flatten(list_transform(blocks, s -> CASE WHEN s.off IS NOT NULL
         |           THEN list_concat(list_concat(
         |                  w[CAST(s.k * 20 + 1 AS INT) : CAST(s.k * 20 + s.off AS INT)],
         |                  ['<extra_id_' || CAST(s.k AS VARCHAR) || '>']),
         |                  w[CAST(s.k * 20 + s.off + 4 AS INT) : CAST(s.k * 20 + s.bl AS INT)])
         |           ELSE w[CAST(s.k * 20 + 1 AS INT) : CAST(s.k * 20 + s.bl AS INT)] END))
         |           AS corrupted,
         |         flatten(list_transform(list_filter(blocks, s -> s.off IS NOT NULL), s ->
         |           list_concat(['<extra_id_' || CAST(s.k AS VARCHAR) || '>'],
         |             w[CAST(s.k * 20 + s.off + 1 AS INT) : CAST(s.k * 20 + s.off + 3 AS INT)])))
         |           AS target,
         |         CAST(len(list_filter(blocks, s -> s.off IS NOT NULL)) AS BIGINT) AS n_masks
         |  FROM bl)
         |SELECT doc_id, n AS n_tokens, n_masks,
         |       CAST(len(corrupted) AS BIGINT) AS n_corrupted,
         |       CAST(len(target) AS BIGINT) AS n_target,
         |       md5(array_to_string(corrupted, ' ')) AS corrupted_fp,
         |       md5(array_to_string(target, ' ')) AS target_fp
         |FROM r""".stripMargin,
    // q84's packing replay + the interval transpose: per sequence, the
    // docs it overlaps and the exact token shares (integer interval
    // intersection)
    "q371_pack_manifest" ->
      s"""$WordsCte,
         |t AS (
         |  SELECT doc_id,
         |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT) % 8 AS bucket,
         |         CAST(len(w) AS BIGINT) AS n_tok
         |  FROM wd),
         |c AS (
         |  SELECT doc_id, bucket, n_tok,
         |         CAST(SUM(n_tok) OVER (
         |           PARTITION BY bucket ORDER BY doc_id ASC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |  FROM t),
         |p AS (
         |  SELECT doc_id, bucket, cum - n_tok AS cum_start, cum AS cum_end,
         |         (cum - n_tok) // 512 AS first_seq, (cum - 1) // 512 AS last_seq
         |  FROM c WHERE n_tok >= 1),
         |x AS (
         |  SELECT doc_id, bucket, cum_start, cum_end,
         |         unnest(range(first_seq, last_seq + 1)) AS seq
         |  FROM p)
         |SELECT bucket, seq AS seq_id,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       min(doc_id) AS first_doc, max(doc_id) AS last_doc,
         |       CAST(sum(least(cum_end, (seq + 1) * 512) -
         |                greatest(cum_start, seq * 512)) AS BIGINT) AS n_tokens
         |FROM x GROUP BY bucket, seq""".stripMargin)
}
