package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Search-side ranking over the corpus — the query layer the reference's
  * index exists to serve (the reference builds the index, reference
  * `src/functions.cpp:104-164`, but ships no scoring; this is the standard
  * IR surface a user of an indexer runs next): TF-IDF weighting, Okapi
  * BM25 scoring, a positional index, and position-join phrase matching.
  *
  * Tokenization here is the text-pipeline alphabet (`[a-z0-9]` per
  * whitespace token, [[TextFunctions.wordsArr]]) shared with the dedup and
  * text-analysis operators.
  *
  * Determinism contract (oracle hash-compare): every score is
  * integer-derived (tf/df/dl/N are longs) combined with double `ln` and
  * division, then `round(..., 6)` on both engines; no cross-row double
  * summation anywhere (BM25 is emitted per (doc, term) — a per-doc total
  * would sum doubles in partition order).
  *
  * Scale notes are per-operator; the common shape is: one map-side
  * combinable `groupBy(doc, word)` over the token stream (the only big
  * shuffle), vocabulary-sized statistics tables broadcast back onto it.
  */
object Ranking {

  /** (doc, pos, word) token stream with 0-based positions within the
    * cleaned word sequence. One generator projection — no shuffle. Native
    * [[graft.functions.AlnumTokens]] byte pass; semantically
    * `posexplode(TextFunctions.wordsArr(text))` (differential-tested).
    */
  def tokensWithPos(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(
      col(idCol),
      graft.functions.AlnumTokens(col(textCol)).as(Seq("pos", "word")))

  /** Raw (doc, word) token occurrences (with repetition). */
  private def tokens(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    tokensWithPos(docs, textCol, idCol).drop("pos")

  /** TF-IDF per (doc, word): `tf * ln(N / df)`, rounded to 6dp.
    *
    * Scale: term frequencies come from ONE hash aggregation over the token
    * stream (partial+final, map-side combined); document frequencies are a
    * second aggregation over the already-collapsed (doc, word) table —
    * vocabulary-sized, so the df table and the one-row corpus count join
    * back via broadcast. No shuffle touches the full token stream twice.
    */
  def tfidf(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    // persisted: df is derived FROM the tf table, and without
    // materialization Catalyst prunes the df branch into a structurally
    // different subtree (no exchange reuse) that re-scans and re-tokenizes
    // the whole corpus. The tf table is the term index itself — the thing
    // a 100 TB pipeline materializes anyway. Runner owns the cache.
    val tf = tokens(docs, textCol, idCol)
      .groupBy(col(idCol), col("word"))
      .agg(count(lit(1)).as("tf"))
      .persist()
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(broadcast(df), "word")
      .crossJoin(broadcast(n))
      .select(
        col(idCol), col("word"), col("tf"), col("df"),
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6).as("tfidf"))
  }

  /** Okapi BM25, emitted per (doc, query term):
    *
    *   idf(t)  = ln((N - df + 0.5) / (df + 0.5) + 1)
    *   s(d, t) = idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))
    *
    * with `dl/avgdl` computed as the integer-derived `dl * N / sum(dl)`.
    * N and avgdl are over documents with at least one token.
    *
    * Scale: ONE pass over the token stream computes the document length
    * AND every query term's tf as columns of a single map-side-combinable
    * aggregation (only (doc, dl, tf…) rows cross the shuffle — never
    * token text). N, sum(dl) and every term's df are ONE 1-row aggregate
    * of that doc-sized table, broadcast back onto it; the per-term rows
    * are then unpivoted. Nothing is persisted: both consumers read the
    * same per-doc exchange, which AQE reuses, so the corpus is tokenized
    * once and no stages race to fill a cache.
    */
  def bm25(
      docs: DataFrame, textCol: String, idCol: String,
      terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25FromTokens(tokens(docs, textCol, idCol), idCol, terms, k1, b)

  /** [[bm25]] over a PRE-BUILT (id, word) token stream — the overload a
    * multi-stage retrieval query (q326) passes its one persisted
    * tokenization into, instead of re-tokenizing the corpus per stage.
    * Same aggregations, same scores.
    */
  def bm25FromTokens(
      toks: DataFrame, idCol: String,
      terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    require(terms.distinct.size == terms.size,
      "bm25 query terms must be distinct — a repeated term would double " +
        "its df and duplicate its output rows")
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("word") === t, 1L).otherwise(0L)).as(s"_tf$i")
    }
    val perDoc = toks
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("dl"), tfCols: _*)
    val dfCols = terms.indices.map(i => count(when(col(s"_tf$i") > 0, 1)).as(s"_df$i"))
    val stats = perDoc.agg(count(lit(1)).as("n_docs"), (sum("dl").as("sum_dl") +: dfCols): _*)
    val idf: Column =
      log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val norm: Column =
      col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") * col("n_docs") / col("sum_dl"))
    perDoc.crossJoin(broadcast(stats))
      .select(col(idCol), col("dl"), col("n_docs"), col("sum_dl"),
        explode(array(terms.zipWithIndex.map { case (t, i) =>
          struct(lit(t).as("word"), col(s"_tf$i").as("tf"), col(s"_df$i").as("df"))
        }: _*)).as("wt"))
      .select(col(idCol), col("dl"), col("n_docs"), col("sum_dl"), col("wt.*"))
      .filter(col("tf") > 0)
      .select(
        col(idCol), col("word"), col("tf"), col("df"), col("dl"),
        round(idf * col("tf") * (k1 + 1) / norm, 6).as("bm25"))
  }

  /** Per-term BM25 serving top-k — the ONE definition of the
    * bm25 → groupBy(term) → bounded TopKAgg → rank idiom the serving
    * family shares (q234's result page, q208's lexical leg, q292's
    * stage-1 retrieval): only k rows per term per partition cross the
    * shuffle, and rank = position in the (bm25 desc, id asc) order —
    * identical to the row_number formulation. Output columns:
    * (word, rank, idCol, bm25).
    */
  def bm25TopK(
      docs: DataFrame, textCol: String, idCol: String,
      terms: Seq[String], k: Int): DataFrame =
    bm25TopKFromTokens(tokens(docs, textCol, idCol), idCol, terms, k)

  /** [[bm25TopK]] over a pre-built (id, word) token stream — see
    * [[bm25FromTokens]].
    */
  def bm25TopKFromTokens(
      toks: DataFrame, idCol: String,
      terms: Seq[String], k: Int): DataFrame = {
    val topk = udaf(graft.functions.TopKAgg(k))
    bm25FromTokens(toks, idCol, terms)
      .groupBy("word")
      .agg(topk(col("bm25"), col(idCol)).as("tops"))
      .select(col("word"), posexplode(col("tops")).as(Seq("pos", "t")))
      .select(col("word"), (col("pos") + 1).cast("int").as("rank"),
        col("t._2").as(idCol), col("t._1").as("bm25"))
  }

  /** [[bm25]] for DATA-DEPENDENT query terms: `terms` arrives as a
    * 1-column ("word") DataFrame instead of a static Seq, and the tf
    * restriction is a broadcast equi-join against it rather than a
    * pivoted per-term column set — the shape query EXPANSION needs,
    * where the term list is itself the output of an upstream stage
    * (q326's pseudo-relevance feedback) and never touches the driver.
    * Same scoring contract as [[bm25]] (k1 = 1.2, b = 0.75, 6dp
    * rounding, per-(doc, term) emission — no cross-row double sums).
    * Scale shape: dl is one map-side-combinable doc agg over the token
    * stream; tf is a second agg over the stream FILTERED by the
    * broadcast term join (the filter reaches the stream before any
    * shuffle); df is term-grain. Two stream aggregations vs the static
    * version's one — the price of not knowing the terms at plan time.
    */
  def bm25Dynamic(
      docs: DataFrame, textCol: String, idCol: String,
      terms: DataFrame, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25DynamicFromTokens(tokens(docs, textCol, idCol), idCol, terms, k1, b)

  /** [[bm25Dynamic]] over a pre-built (id, word) token stream — see
    * [[bm25FromTokens]].
    */
  def bm25DynamicFromTokens(
      toks: DataFrame, idCol: String,
      terms: DataFrame, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // dl feeds stats AND the final join; tf feeds dfx AND the final
    // join — persist both (unlike the static bm25's perDoc, whose two
    // consumers read the same columns, Catalyst prunes these branches
    // into structurally different subtrees with no exchange reuse and
    // would re-tokenize the corpus once per consumer). The query
    // runner's sweep frees them.
    val dl = toks.groupBy(col(idCol)).agg(count(lit(1)).as("dl")).persist()
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
    // distinct() is the dynamic twin of the static bm25's
    // duplicate-terms require: a doubled term row would fan every
    // token out twice and silently double tf
    val tf = toks.join(broadcast(terms.select("word").distinct()), Seq("word"))
      .groupBy(col(idCol), col("word")).agg(count(lit(1)).as("tf"))
      .persist()
    val dfx = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val idf: Column =
      log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val norm: Column =
      col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") * col("n_docs") / col("sum_dl"))
    tf.join(broadcast(dfx), "word")
      .join(dl, Seq(idCol))
      .crossJoin(broadcast(stats))
      .select(
        col(idCol), col("word"), col("tf"), col("df"), col("dl"),
        round(idf * col("tf") * (k1 + 1) / norm, 6).as("bm25"))
  }

  /** Keyword extraction: the top `k` terms per document by
    * (tfidf desc, word asc) — the standard per-doc tag/keyword op over
    * the [[tfidf]] table. Ranking uses the 6dp-rounded score, so order
    * is stable across engines computing the value to within 1e-12.
    *
    * Scale: one window exchange on the doc id over the (already
    * aggregated) tf table — rank pruning happens before anything else
    * consumes the result.
    */
  def keywords(docs: DataFrame, textCol: String, idCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("tfidf").desc, col("word").asc)
    tfidf(docs, textCol, idCol)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col(idCol), col("rk"), col("word"), col("tfidf"))
  }

  /** Positional inverted index: word → (doc, ascending 0-based positions),
    * positions space-joined for engine-agnostic comparison.
    *
    * Scale: one hash aggregation on (word, doc) over the positional token
    * stream; `collect_list` state is bounded by per-doc term frequency
    * (not corpus size). The downstream phrase join consumes the SAME
    * (word, doc, pos) stream directly rather than this rendered form.
    */
  def positionalIndex(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    tokensWithPos(docs, textCol, idCol)
      .groupBy(col("word"), col(idCol))
      .agg(array_join(array_sort(collect_list(col("pos"))), " ").as("positions"))

  /** Phrase occurrence counts per document via the positional-join plan a
    * distributed search engine runs: each phrase term's postings are
    * filtered from the positional token stream, their positions shifted
    * back by the term's offset, and consecutive terms equi-joined on
    * (doc, start position) — occurrences survive all joins.
    *
    * Scale: each side of every join is one term's postings (corpus
    * frequency of that term, NOT corpus size); joins are equi-joins on
    * (doc, pos) so they shuffle only those postings. For a phrase of p
    * terms that's p-1 postings-sized joins — the standard document-at-a-
    * time alternative would re-read whole documents instead.
    */
  def phraseCount(
      docs: DataFrame, textCol: String, idCol: String, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one term")
    val tp = tokensWithPos(docs, textCol, idCol)
    val parts = phrase.zipWithIndex.map { case (w, i) =>
      tp.filter(col("word") === w).select(col(idCol), (col("pos") - i).as("p0"))
    }
    parts.reduce((a, b) => a.join(b, Seq(idCol, "p0")))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n"))
  }

  /** Sparse TF-IDF cosine similarity pairs — the LEXICAL document-vector
    * twin of the dense embedding cosine (q34): each document is a sparse
    * vector of 6dp-quantized TF-IDF weights over the sub-`maxDfFrac`
    * vocabulary, and pairs with cosine ≥ threshold are found via the
    * inverted-index join (shared word ⇒ nonzero dot-product term), never
    * a cross product.
    *
    * Dropping words with `df > maxDfFrac·N` is part of the operator's
    * DEFINITION (mirrored by the oracle), not an approximation knob: a
    * word in every document has weight `ln(N/N) = 0`, and near-ubiquitous
    * words contribute ~nothing to cosine while costing `C(df, 2)` join
    * fan-out each. Classic stop-word pruning, data-derived.
    *
    * Determinism: weights are `round(tf·ln(N/df), 6)` cast to
    * `decimal(18,6)` (kept at 18 so a decimal×decimal product stays
    * inside both engines' 38-digit cap); dot products and squared norms
    * are EXACT decimal
    * sums of decimal products (partition-order-invariant — no double is
    * ever summed across rows); the final cosine divides through doubles
    * once, per pair, then rounds to 6dp.
    *
    * Scale: the weighted-vector table is the q8 TF-IDF plan (one token
    * shuffle + broadcast df); norms are one doc-keyed agg of it; the dot
    * join is C(df,2)-bounded per word with the blowup words removed by
    * construction.
    */
  def sparseCosinePairs(
      docs: DataFrame, textCol: String, idCol: String,
      threshold: Double, maxDfFrac: Double = 0.1): DataFrame = {
    val tf = tokens(docs, textCol, idCol)
      .groupBy(col(idCol), col("word"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = tf
      .join(broadcast(df), "word")
      .crossJoin(broadcast(n))
      .filter(col("df") <= col("n_docs") * maxDfFrac)
      .select(
        col(idCol), col("word"),
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6)
          .cast("decimal(18,6)").as("wt"))
      .persist()
    val norms = w.groupBy(col(idCol).as("id"))
      .agg(sum(col("wt") * col("wt")).as("nrm"))
    w.select(col(idCol).as("id_a"), col("word"), col("wt").as("wa"))
      .join(w.select(col(idCol).as("id_b"), col("word"), col("wt").as("wb")),
        Seq("word"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(sum(col("wa") * col("wb")).as("dot"))
      .join(norms.select(col("id").as("id_a"), col("nrm").as("na")), "id_a")
      .join(norms.select(col("id").as("id_b"), col("nrm").as("nb")), "id_b")
      .select(
        col("id_a"), col("id_b"),
        round(col("dot").cast("double")
          / sqrt(col("na").cast("double") * col("nb").cast("double")), 6)
          .as("cosine"))
      .filter(col("cosine") >= threshold)
  }
}
