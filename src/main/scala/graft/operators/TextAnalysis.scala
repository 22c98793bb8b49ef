package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Text-analysis operators for training-data pipelines: language ID
  * (stopword-hit heuristic), quality scoring, token counting, document
  * fingerprinting. All built-in expressions — one narrow codegen'd
  * projection per document, no shuffle — so they run at scan speed on
  * 100 TB. Extended surface (no analog in the reference).
  */
object TextAnalysis {

  /** Tiny per-language stopword lists for the n-gram/stopword heuristic.
    * Deterministic and oracle-expressible; languages scored in
    * alphabetical order with strict-greater argmax so ties resolve to the
    * alphabetically first language.
    */
  val StopWords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ein", "zu", "ist"),
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "la", "los", "de", "y", "un", "una"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une"))

  private def hits(words: Column, list: Seq[String]): Column =
    size(filter(words, w => w.isin(list.map(lit): _*)))

  /** Per-document language prediction: argmax of stopword hits, ties to
    * the alphabetically first language, no hits at all → "und".
    * Emits (…, s_de, s_en, s_es, s_fr, pred_lang).
    */
  def langId(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    // one fused native pass per document (see functions.DocStats — the
    // HOF formulation re-ran the interpreted tokenizer per stopword list)
    val scored = docs
      .select(col(idCol), graft.functions.DocStats(col(textCol), StopWords))
      .select(
        col(idCol) +: StopWords.map { case (l, _) => col(s"s_$l") }: _*)
    // strict-greater fold in alphabetical order == argmax with alpha tiebreak
    val best = StopWords.map(_._1).tail.foldLeft(
      (lit(StopWords.head._1), col(s"s_${StopWords.head._1}"))) {
      case ((bl, bs), l) =>
        (when(col(s"s_$l") > bs, lit(l)).otherwise(bl),
          greatest(bs, col(s"s_$l")))
    }
    scored.withColumn(
      "pred_lang",
      when(best._2 === 0, lit("und")).otherwise(best._1))
  }

  /** Character-n-gram profiles for [[langIdNgram]] — tiny discriminative
    * trigram sets per language (deterministic, oracle-expressible via
    * occurrence counting).
    */
  val Trigrams: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("sch", "ich", "der", "und", "ein"),
    "en" -> Seq("the", "ing", "and", "ion", "ent"),
    "es" -> Seq("que", "los", "cio", "ent", "ada"),
    "fr" -> Seq("les", "ent", "que", "eur", "ion"))

  private def occurrences(text: Column, pat: String): Column =
    ((length(text) - length(regexp_replace(text, java.util.regex.Pattern.quote(pat), ""))) /
      pat.length).cast("int")

  /** Per-document language prediction from character-trigram occurrence
    * counts over the normalized text — the n-gram flavor of [[langId]]
    * (same argmax/tie rules: alphabetical-first, zero hits → "und").
    */
  def langIdNgram(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val norm = col("__norm")
    val scored = docs
      .select(col(idCol), normText(col(textCol)).as("__norm"))
      .select(
        col(idCol) +: Trigrams.map { case (l, grams) =>
          grams.map(g => occurrences(norm, g)).reduce(_ + _).as(s"t_$l")
        }: _*)
    val best = Trigrams.map(_._1).tail.foldLeft(
      (lit(Trigrams.head._1), col(s"t_${Trigrams.head._1}"))) {
      case ((bl, bs), l) =>
        (when(col(s"t_$l") > bs, lit(l)).otherwise(bl),
          greatest(bs, col(s"t_$l")))
    }
    scored.withColumn(
      "pred_lang",
      when(best._2 === 0, lit("und")).otherwise(best._1))
  }

  /** Quality metrics per document:
    *   - n_ws_tokens: whitespace tokens
    *   - n_words: alnum-cleaned surviving tokens
    *   - punct_ratio: chars outside [A-Za-z0-9 \s] over all chars (6dp;
    *     empty text → 0, guarded denominator — matches the oracle, where
    *     a bare division by zero would yield NULL)
    *   - stopword_ratio: English stopword hits over words (6dp)
    *   - mean_word_len: mean cleaned-word length (6dp)
    *   - quality_score: 1 if (3 <= mean_word_len <= 10 and stopword_ratio
    *     >= 0.01 and punct_ratio <= 0.3) else 0 — a C4-style boolean gate
    */
  def quality(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    // one fused native pass per document (functions.DocStats); the ratio
    // arithmetic below is operand-for-operand the original formulation,
    // so results stay bit-equal to the oracle
    docs.select(col(idCol), graft.functions.DocStats(col(textCol), StopWords)).select(
      col(idCol),
      col("n_ws_tokens"),
      col("n_words"),
      round(col("n_punct").cast("double") /
        greatest(col("n_chars"), lit(1)), 6).as("punct_ratio"),
      round(col("s_en").cast("double") /
        greatest(col("n_words"), lit(1)), 6).as("stopword_ratio"),
      round(col("word_len_sum").cast("double") /
        greatest(col("n_words"), lit(1)), 6).as("mean_word_len"))
      .withColumn(
        "quality_score",
        when(
          col("mean_word_len").between(3.0, 10.0) &&
            col("stopword_ratio") >= 0.01 && col("punct_ratio") <= 0.3, 1).otherwise(0))
  }

  /** Gopher repetition gate (Rae et al. 2021, appendix A1.1) — the
    * quality dimension the C4-style funnel misses: a document dominated
    * by one repeated phrase sails through length/stopword/word-length
    * gates while being worthless training data. Per document (one fused
    * native pass, [[graft.functions.GopherRepetition]]; zero shuffles —
    * the statistic is document-local, embarrassingly parallel at any
    * corpus size): exact integer character masses of the heaviest
    * {2,3,4}-gram and of duplicated {5,10}-grams over the cleaned
    * word stream, plus `pass` — ALL thresholds met, evaluated as
    * integer cross-multiplications (mass·1000 ≤ denom·t‰) so the gate
    * never divides. Thresholds are PARAMETERS in parts-per-mille;
    * the defaults are Gopher's published cut-offs (top2 ≤ 0.20,
    * top3 ≤ 0.18, top4 ≤ 0.16, dup5 ≤ 0.15, dup10 ≤ 0.10).
    *
    * COMPARABILITY CAVEAT: the underlying statistics deviate from the
    * paper's in two documented ways ([[graft.functions.GopherRepetition]]
    * — top-n is max over grams of count·charlen rather than the single
    * most FREQUENT gram's mass, and dup-n counts duplicated-gram
    * characters with repetition and overlap rather than deduplicated
    * character positions), and both deviations only ever measure MORE
    * repetition mass. Under the paper-calibrated defaults the gate is
    * therefore systematically STRICTER than Gopher's published filter —
    * pass-rates are not comparable to the paper's numbers. Recalibrate
    * via the per-mille parameters when paper-comparable rates matter.
    */
  def gopherRepetition(docs: DataFrame, textCol: String, idCol: String,
      top2PerMille: Long = 200L, top3PerMille: Long = 180L,
      top4PerMille: Long = 160L, dup5PerMille: Long = 150L,
      dup10PerMille: Long = 100L): DataFrame =
    docs.select(col(idCol), graft.functions.GopherRepetition(col(textCol)))
      .withColumn("pass",
        col("top2") * 1000L <= col("denom") * top2PerMille &&
          col("top3") * 1000L <= col("denom") * top3PerMille &&
          col("top4") * 1000L <= col("denom") * top4PerMille &&
          col("dup5") * 1000L <= col("denom") * dup5PerMille &&
          col("dup10") * 1000L <= col("denom") * dup10PerMille)

  /** Token counts per document: whitespace tokens, alpha runs, digit runs,
    * and a BPE-ish segmentation count (letter runs + digit runs + each
    * non-alnum non-space char), from one native pass
    * ([[graft.functions.TokenCounts]]).
    */
  def tokenCounts(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol), graft.functions.TokenCounts(col(textCol)))

  /** One-pass combined profile: quality metrics AND language scores from
    * a single materialized word array — the curation pipeline's narrow
    * stage (each standalone operator re-derives the array; composing them
    * would double the scan-side work).
    */
  def documentProfile(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val scored = docs
      .select(col(idCol), graft.functions.DocStats(col(textCol), StopWords))
      .select(
        Seq(
          col(idCol),
          col("n_words"),
          round(col("n_punct").cast("double") /
            greatest(col("n_chars"), lit(1)), 6).as("punct_ratio"),
          round(col("s_en").cast("double") /
            greatest(col("n_words"), lit(1)), 6).as("stopword_ratio"),
          round(col("word_len_sum").cast("double") /
            greatest(col("n_words"), lit(1)), 6).as("mean_word_len")) ++
          StopWords.map { case (l, _) => col(s"s_$l") }: _*)
    val best = StopWords.map(_._1).tail.foldLeft(
      (lit(StopWords.head._1), col(s"s_${StopWords.head._1}"))) {
      case ((bl, bs), l) =>
        (when(col(s"s_$l") > bs, lit(l)).otherwise(bl),
          greatest(bs, col(s"s_$l")))
    }
    scored
      .withColumn("pred_lang", when(best._2 === 0, lit("und")).otherwise(best._1))
      .withColumn(
        "quality_score",
        when(
          col("mean_word_len").between(3.0, 10.0) &&
            col("stopword_ratio") >= 0.01 && col("punct_ratio") <= 0.3, 1).otherwise(0))
  }

  /** Document fingerprints: md5 of the normalized text (exact dedup key)
    * and the min shingle hash (a 1-hash MinHash — content-locality key).
    */
  def fingerprints(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .select(col(idCol), col(textCol), wordsArr(col(textCol)).as("__w"))
      .select(
        col(idCol),
        md5(normText(col(textCol))).as("fp_md5"),
        array_min(transform(array_distinct(shingles(col("__w"), 3)), s => md5(s)))
          .as("fp_shingle"))

  /** PII redaction patterns, in application order. RE2-compatible (no
    * backreferences, no lookaround) so the engine (Java regex) and any
    * RE2-based oracle agree match-for-match on every input.
    */
  val PiiPatterns: Seq[(String, String)] = Seq(
    """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}""" -> "<EMAIL>",
    """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b""" -> "<IP>",
    """\b\d{13,19}\b""" -> "<NUM>")

  /** PII scrub — the redaction hygiene pass a public training corpus
    * runs before release: replace e-mail addresses, IPv4 addresses, and
    * long (card/account-like) digit runs with typed placeholder tokens,
    * and report how many spans were redacted. Patterns apply in order
    * (e-mail first, so its digit-bearing local parts never half-match
    * the later numeric patterns). Pure per-row projection — codegen'd
    * `regexp_replace`/`regexp_extract_all` chain, no shuffle, no UDF.
    */
  def piiScrub(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val cleaned = PiiPatterns.foldLeft(col(textCol)) {
      case (c, (pat, repl)) => regexp_replace(c, pat, repl)
    }
    val counts = PiiPatterns.zipWithIndex.map { case ((pat, _), i) =>
      // count on the PREVIOUS stage's text, mirroring application order
      val stage = PiiPatterns.take(i).foldLeft(col(textCol)) {
        case (c, (p, r)) => regexp_replace(c, p, r)
      }
      size(regexp_extract_all(stage, lit(pat), lit(0)))
    }
    docs.select(
      col(idCol),
      counts.reduce(_ + _).cast("long").as("n_redacted"),
      cleaned.as("text_clean"))
  }
}
