package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.operators.Ranking
import graft.sources.{Documents, Embeddings}

/** Search/ranking query pack over `documents` (q8/q9/q26/q27/q29): the
  * IR query layer served by the inverted index the reference builds —
  * TF-IDF weights, per-term Okapi BM25, a positional index,
  * positional-join phrase search, and top-k keyword extraction. Every
  * query is oracle-checked; scores follow the 6dp rounding +
  * integer-derived-arithmetic determinism contract (see
  * [[graft.operators.Ranking]]).
  */
object SearchQueries {

  /** BM25 query terms — high-df corpus words chosen so every sf matches. */
  private[graft] val Bm25Terms = Seq("hash", "join", "scan")

  /** q208: reciprocal-rank-fusion hybrid retrieval — the modern RAG/search
    * serving recipe: a lexical candidate list (single-term BM25 top-20 for
    * "hash") and a dense candidate list (exact cosine top-20 for query
    * vector 0) fused by RRF(d) = Σ 1/(60+rank_d), final top-10. Each leg
    * is the very code path its standalone query verifies (q9's
    * `Ranking.bm25`, q40's `Similarity.bruteForceTopK`). DETERMINISM:
    * ranks are integers under total (score desc, id asc) orders; the
    * fused score adds two exact-input doubles once per row. Scale shape:
    * each leg is a bounded top-k (`TopKAgg`, q234's shape — ≤ k rows per
    * partition cross the shuffle, never a global sort or a global-order
    * window), fusion is a 40-row full-outer join; at 100 TB the legs
    * are served by the prebuilt inverted index (q27/q1) and ANN index
    * (q80/q112), same fusion.
    */
  def q208RrfHybrid(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    // lexical leg: single-term BM25 top-20 through the shared
    // Ranking.bm25TopK (bounded TopKAgg keyed by the term)
    val sparse = Ranking.bm25TopK(Documents.spread(spark, dir), "text", "doc_id", Seq("hash"), 20)
      .select(col("doc_id"), col("rank").as("ra"))
    val v = Similarity.prepared(
      Embeddings.read(spark, dir), "vec_id", "embedding")
    val dense = Similarity.bruteForceTopK(v.filter(col("vec_id") === 0), v, "vec_id", 20)
      .select(col("cand_id").as("doc_id"), col("rank").as("rb"))
    // fusion: ≤ 40 candidate rows, persisted — read by both the top-10
    // selection and the attribute join-back (runner owns the sweep)
    val fused = sparse.join(dense, Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (col("ra") + 60), lit(0.0)) +
          coalesce(lit(1.0) / (col("rb") + 60), lit(0.0)), 6))
      .persist()
    val topk10 = udaf(graft.functions.TopKAgg(10))
    fused.agg(topk10(col("rrf"), col("doc_id")).as("tops"))
      .select(posexplode(col("tops")).as(Seq("pos", "t")))
      .select((col("pos") + 1).cast("int").as("rank"),
        col("t._2").as("doc_id"), col("t._1").as("rrf"))
      .join(broadcast(fused.select(col("doc_id"), col("ra"), col("rb"))),
        Seq("doc_id"))
      .select(col("rank"), col("doc_id"), col("rrf"), col("ra"), col("rb"))
  }

  /** q292: retrieve-then-rerank — the production two-stage serving
    * composition q208's rank fusion sits beside: stage 1 retrieves the
    * BM25('hash') top-20 (cheap lexical recall, bounded TopKAgg), stage 2
    * re-scores ONLY those 20 candidates by embedding cosine against the
    * dense pseudo-query (vec 0, q208's convention; self excluded per the
    * bruteForcePairs contract) and returns the top-10 with both scores
    * and the stage-1 rank. The whole point at 100 TB: stage-2 cost is
    * CANDIDATE-sized (20 vectors through a broadcast semi-join), not
    * corpus-sized — the expensive scorer never sees the corpus.
    * DETERMINISM: both stages rank 6dp-rounded scores under doc-id tie
    * order; the oracle recomputes BM25 and the cosine closed-form.
    */
  def q292RetrieveRerank(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    // stage 1 through the shared Ranking.bm25TopK (bounded TopKAgg,
    // q234's shape): ≤ 20 rows per partition cross the shuffle
    val sparse = Ranking.bm25TopK(Documents.spread(spark, dir), "text", "doc_id", Seq("hash"), 20)
      .select(col("doc_id"), col("bm25"), col("rank").as("ra"))
      .persist()
    val v = Similarity.prepared(
      Embeddings.read(spark, dir), "vec_id", "embedding")
    val cand = v.join(
      broadcast(sparse.select(col("doc_id").as("vec_id"))), Seq("vec_id"))
    Similarity.bruteForceTopK(v.filter(col("vec_id") === 0), cand, "vec_id", 10)
      .join(broadcast(sparse.select(col("doc_id").as("cand_id"),
        col("ra"), col("bm25"))), Seq("cand_id"))
      .select(col("rank"), col("cand_id").as("doc_id"), col("cos"),
        col("bm25"), col("ra").as("retrieve_rank"))
  }

  /** q326: Rocchio pseudo-relevance feedback — the classic two-pass
    * query-EXPANSION serving composition (Rocchio 1971; the PRF loop of
    * every Lucene/Terrier stack), completing the serving family beside
    * q208's rank fusion (two rankers, one query) and q292's
    * retrieve-then-rerank (one query, two scorers): here the QUERY
    * ITSELF is rewritten from first-pass evidence. Pass 1 retrieves the
    * BM25('hash') top-5 (the pseudo-relevant set R, bounded TopKAgg);
    * expansion picks the top-3 terms by occurrence count within R
    * (exact integers — the deterministic stand-in for Rocchio's tf-idf
    * centroid weights) among terms rarer than df·10 ≤ N (the stopword
    * guard) and ≠ the seed; pass 2 re-scores the corpus over the
    * EXPANDED term set {seed} ∪ E via [[graft.operators.Ranking
    * .bm25Dynamic]] — the term list is a 3-row DataFrame joined
    * broadcast into the token stream, never collected to the driver —
    * and returns the top-10 docs by summed BM25 with their term-hit
    * counts and a seed-set membership flag. DETERMINISM: per-(doc,term)
    * BM25 is 6dp-rounded then 1e6-quantized to a long BEFORE the
    * per-doc sum (no cross-row double summation); every selection runs
    * a total (score, id)/(count, word) order. Scale shape: two token-
    * stream aggregations (dl, filtered tf) + term-grain df per pass;
    * R-restricted expansion counting touches only R's tokens (broadcast
    * semi-join on the 5 doc ids); final top-10 via the bounded TopKAgg.
    */
  def q326RocchioPrf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val d = Documents.spread(spark, dir)
    val seed = "hash"
    val k1 = 1.2; val b = 0.75
    // ONE token-grain pass for the whole query (r17 optimization): the
    // corpus is collapsed to the (doc, word, tf) term-frequency table
    // once, and every stage — seed retrieval, per-doc length, corpus
    // df, expansion counts, dynamic re-scoring — is a (doc, word)-grain
    // aggregation of it. The r16 shape persisted the raw TOKEN stream
    // and re-aggregated it per stage (stage table: 4-5 concurrent ~5 s
    // rebuilds of the tokenization under the raced lazy cache, 42
    // stages); the tf table additionally removes the separate
    // distinct-(doc, word) pass that fed corpus df (a (doc, word, tf)
    // row IS distinct). Guide §2.3/§2.4. Scores identical: every
    // downstream quantity is an integer count re-derivable from tf
    // (dl = Σ tf, seed tf = tf[word=seed], df = row count per word,
    // in-R occurrences = Σ tf over R), and the BM25 arithmetic below is
    // Ranking.bm25FromTokens'/bm25DynamicFromTokens' verbatim.
    val tfTab = Ranking.tokensWithPos(d, "text", "doc_id").drop("pos")
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
      .persist()
    // per-doc lengths + seed tf: the ONE doc-grain table both retrieval
    // passes read (the r16 shape built dl twice — once inside bm25TopK's
    // perDoc, once inside bm25Dynamic)
    val perDocLen = tfTab.groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("dl"),
        sum(when(col("word") === seed, col("tf")).otherwise(0L)).as("tf0"))
      .persist()
    // ONE fused scalar broadcast carries n_docs, Σdl AND the seed's df
    // (count of tf0 > 0 docs — identical to bm25FromTokens' per-term df
    // for the single seed term): a separate dfSeed broadcast raced this
    // one on the cold tfTab/perDocLen caches (both subtrees are
    // independent AQE leaf stages at action start — the r16 duplicate-
    // build pathology), so the whole shared build now has exactly one
    // t=0 owner and every later stage reads warm caches
    val stats = perDocLen.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"),
      count(when(col("tf0") > 0, 1)).as("df_seed"))
    def idf(dfCol: Column): Column =
      log((col("n_docs") - dfCol + 0.5) / (dfCol + 0.5) + 1.0)
    def norm(tfCol: Column): Column =
      tfCol + lit(k1) * (lit(1 - b) + lit(b) * col("dl") * col("n_docs") / col("sum_dl"))
    // pass 1: seed BM25 top-5 (bm25FromTokens' formula on the shared
    // perDocLen; single term, so df is the 1-row count of seed docs)
    val seedRows = perDocLen.filter(col("tf0") > 0)
    // top-5 via TakeOrderedAndProject — ONE stage; identical rows to the
    // TopKAgg/bm25TopKFromTokens form (same (bm25 desc, doc_id) total
    // order; doc_id is unique here so the aggregator's id-dedup is a
    // no-op) without the agg + posexplode stage pair
    val r5 = seedRows
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        round(idf(col("df_seed")) * col("tf0") * (k1 + 1) / norm(col("tf0")), 6)
          .as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id").asc).limit(5)
      .select(col("doc_id")).persist()
    val nd = d.agg(count(lit(1)).as("n_all"))
    // corpus df per word: ONE agg over the tf table — a (doc, word, tf)
    // row IS distinct, so the r16 distinct-(doc, word) exchange is gone.
    // Deliberately NOT gated behind the r5 chain: this vocab-grain agg
    // is the expansion stage's only heavy input, and as an independent
    // leaf it overlaps the seed-retrieval chain on idle cores (measured:
    // the fully-serialized candidate-restricted variant lost ~1 s of
    // wall to broadcast-chain latency; the overlap costs at most one
    // extra concurrent build of the tf cache)
    val dfAll = tfTab.groupBy("word").agg(count(lit(1)).as("dfx"))
    // expansion: in-R occurrence counts (Σ tf over the 5 seed docs)
    val cr = tfTab.join(broadcast(r5), Seq("doc_id"))
      .filter(col("word") =!= seed)
      .groupBy("word").agg(sum(col("tf")).as("c_r"))
    val expansion = cr.join(dfAll, Seq("word"))
      .crossJoin(broadcast(nd))
      .filter(col("dfx") * 10 <= col("n_all"))
      .orderBy(col("c_r").desc, col("word").asc).limit(3)
      .select("word")
    val terms = expansion.unionByName(
      spark.range(1).select(lit(seed).as("word")))
    // pass 2: bm25DynamicFromTokens' plan over the tf table — the
    // (doc, word) agg it would run over the token stream is tfTab itself
    val tfq = tfTab.join(broadcast(terms.select("word").distinct()), Seq("word"))
      .persist()
    val dfx = tfq.groupBy("word").agg(count(lit(1)).as("df"))
    val perDoc = tfq
      .join(broadcast(dfx), "word")
      .join(perDocLen.select(col("doc_id"), col("dl")), Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        round(round(idf(col("df")) * col("tf") * (k1 + 1) / norm(col("tf")), 6)
          * 1e6).cast("long").as("fp"))
      .groupBy("doc_id")
      .agg(sum(col("fp")).as("score_fp"), count(lit(1)).as("n_terms_hit"))
    // top-10 via TakeOrderedAndProject carrying ALL columns — the r16
    // shape paid an agg + posexplode + a join BACK to perDoc just to
    // recover score_fp/n_terms_hit it had dropped. Rank is the position
    // in the same (score_fp desc, doc_id) total order TopKAgg used,
    // assigned by the bounded collect+posexplode idiom over the 10
    // TakeOrdered rows — NOT a partition-less row_number window, which
    // PlanSpec's corpus-grain-window guard rightly rejects on sight
    // (this input is limit-bounded, but the guard is syntactic)
    val top10 = perDoc
      .orderBy(col("score_fp").desc, col("doc_id").asc).limit(10)
      .agg(array_sort(collect_list(struct(
        (-col("score_fp")).as("neg"), col("doc_id"),
        col("score_fp"), col("n_terms_hit")))).as("rs"))
      .select(posexplode(col("rs")).as(Seq("pos", "r")))
      .select((col("pos") + 1).cast("int").as("rank"),
        col("r.doc_id").as("doc_id"), col("r.score_fp").as("score_fp"),
        col("r.n_terms_hit").as("n_terms_hit"))
    top10
      .join(r5.withColumn("in_seed_top5", lit(1)), Seq("doc_id"), "left")
      .na.fill(0, Seq("in_seed_top5"))
      .select(col("rank"), col("doc_id"),
        round(col("score_fp") / 1e6, 6).as("rocchio_score"),
        col("n_terms_hit"), col("in_seed_top5"))
  }

  /** q330: wildcard search served from a PERMUTERM index — the
    * classic rotation trick (Garfield 1976; the Lucene/IR-textbook
    * wildcard plan) completing the index-serving family beside q237
    * (boolean AND from term-filtered postings) and q247 (phrase from the
    * positional index): every vocabulary term w is indexed under all
    * |w|+1 rotations of w$, and a single-star query pre*suf rotates to
    * the PREFIX probe suf$pre — so "c*n" becomes one range scan
    * instead of a full-vocabulary regex pass. Exactly one rotation of
    * a word can start with suf$pre (a rotation carries one $ at a
    * fixed offset), so the probe needs no dedup. The ORACLE is the
    * plain `LIKE 'pre%suf'` scan — the driver compare proves
    * rotate → index → prefix-probe ≡ direct wildcard scan, the q237
    * discipline. DETERMINISM: exact string prefixes and integer dfs.
    * Scale shape: the rotation index is term-grain × (len+1) (built
    * once, range-partitioned/sorted on the rotation at catalog scale
    * so each probe is a range scan); here the 5-pattern probe side is
    * a broadcast nested-loop against the bounded pattern list — the
    * q19 bounded-build-side shape, with the prefix filter running
    * inside the index scan.
    */
  def q330WildcardSearch(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val patterns = Seq("s*", "*er", "c*n", "*e", "b*h")
    val vocab = Ranking.tokensWithPos(Documents.spread(spark, dir), "text", "doc_id")
      .drop("pos").distinct()
      .groupBy("word").agg(count(lit(1)).as("df"))
    val rot = vocab
      .withColumn("wd", concat(col("word"), lit("$")))
      .select(col("word"), col("df"),
        explode(expr(
          """transform(sequence(0, length(word)), i ->
            |  concat(substr(wd, i + 1, length(wd) - i), substr(wd, 1, i)))"""
            .stripMargin)).as("r"))
    val probes = patterns.map { p =>
      val Array(pre, suf) = p.split("\\*", -1)
      (p, s"$suf$$$pre")
    }
    val qdf = spark.createDataFrame(probes).toDF("pattern", "qr")
    rot.join(broadcast(qdf), col("r").startsWith(col("qr")))
      .select(col("pattern"), col("word"), col("df"))
  }

  /** q341: SymSpell spell correction — candidate generation by DELETE-
    * NEIGHBORHOOD blocking (Garbe's SymSpell; the same trick behind
    * fuzzy lookup in production spell/entity services): every
    * dictionary word emits its ≤2-deletion variants as join keys
    * (1 + L + C(L,2) keys, vocabulary-grain), every probe emits its
    * own, and candidates are one EQUI-JOIN on the shared key — never a
    * |probes| × |dict| distance scan. Deletes on BOTH sides at depth 2
    * are COMPLETE for Levenshtein ≤ 2 (any ≤2-edit script decomposes
    * into ≤2 deletions from each side reaching a common string), so
    * unlike windowed sorted-neighborhood blocking (q178, which trades
    * recall for candidate volume) this blocking loses NO true pair —
    * and the ORACLE is the plain brute-force distance scan, so the
    * driver hash IS the completeness proof (the q330/q332 equivalence
    * discipline). The probe set is a deterministic corruption of the
    * corpus: for every ≥4-char word, a mid-char deletion and a
    * mid-char 'z' substitution, minus corruptions that collide with a
    * real vocabulary word (both mirrored in the oracle). Final pick
    * per probe: (levenshtein asc, freq desc, word asc) through one
    * struct-min aggregate; the distance call uses the bounded 3-arg
    * `levenshtein(_, _, 2)` so the DP early-exits on the hot path.
    * Scale shape: keys are vocabulary-grain × O(L²); the probe-key
    * side broadcasts; dict keys partition by the delete string — at a
    * 32k-token production vocabulary the whole structure is MBs.
    */
  def q341SpellCorrect(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val vocabAll = Ranking.tokensWithPos(Documents.read(spark, dir), "text", "doc_id")
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val dict = vocabAll.filter(length(col("word")) >= 4)
    // deterministic probes: corrupt each dictionary word at its middle
    // position; drop corruptions that are themselves real words
    val withMid = dict.withColumn("m", expr("length(word) div 2 + 1"))
    val probes = withMid
      .select(expr("concat(substring(word, 1, m - 1), substring(word, m + 1, length(word)))")
        .as("probe"))
      .unionByName(withMid.select(
        expr("concat(substring(word, 1, m - 1), 'z', substring(word, m + 1, length(word)))")
          .as("probe")))
      .distinct()
      .join(vocabAll, col("probe") === col("word"), "left_anti")
    def deleteKeys(c: String) = expr(
      s"""array_distinct(concat(
         |  array($c),
         |  transform(sequence(1, length($c)),
         |            i -> concat(substring($c, 1, i - 1), substring($c, i + 1, length($c)))),
         |  flatten(transform(
         |    transform(sequence(1, length($c)),
         |              i -> concat(substring($c, 1, i - 1), substring($c, i + 1, length($c)))),
         |    d -> transform(sequence(1, length(d)),
         |                   j -> concat(substring(d, 1, j - 1), substring(d, j + 1, length(d))))))))"""
        .stripMargin)
    val dictKeys = dict.select(col("word").as("suggestion"), col("freq"),
      explode(deleteKeys("word")).as("k"))
    val probeKeys = probes.select(col("probe"), explode(deleteKeys("probe")).as("k"))
    dictKeys.join(broadcast(probeKeys), Seq("k"))
      .select("probe", "suggestion", "freq").distinct()
      .withColumn("dist", levenshtein(col("probe"), col("suggestion"), 2))
      .filter(col("dist") >= 1) // -1 = beyond threshold; 0 impossible (collisions excluded)
      .groupBy("probe")
      .agg(min(struct(col("dist"), (-col("freq")).as("nf"), col("suggestion"))).as("b"))
      .select(col("probe"), col("b.suggestion").as("suggestion"),
        col("b.dist").cast("long").as("dist"), (-col("b.nf")).cast("long").as("freq"))
  }

  /** q234: per-term BM25 serving top-k — for every query term, the top-5
    * documents by (bm25 desc, doc_id) through the bounded `TopKAgg`
    * (q121's shape on the search index): only k rows per term per
    * partition ever cross the shuffle, vs a window's full per-term sort
    * — the result-page materialization step of the serving stack q140's
    * boolean search and q208's fusion sit on. DETERMINISM: ranks under
    * the 6dp-rounded-score + doc-id total order. Scale shape: q9's
    * one-scan scoring + one bounded-state agg keyed by term; output is
    * |terms|·k rows.
    */
  def q234Bm25TopK(spark: SparkSession, dir: String): DataFrame =
    Ranking.bm25TopK(Documents.read(spark, dir), "text", "doc_id", Bm25Terms, 5)

  /** Boolean AND search — the documents containing EVERY query term, with
    * their source: one native per-row predicate
    * ([[graft.functions.HasAllWords]], the [[graft.functions.AlnumTokens]]
    * words), so the plan is scan → filter → project with no aggregate and
    * no join. `doc_id` is the documents key ([[Documents]]), so each
    * matching document is one row. Shared by q140 (spread scan) and q237
    * (plain scan).
    */
  private[graft] def booleanAnd(d: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    d.filter(graft.functions.HasAllWords(col("text"), Bm25Terms))
      .select(col("doc_id"), col("source"))
  }

  /** q237: boolean search as a filter on the document rows, with no
    * exchange: [[booleanAnd]] over the plain scan, [[Documents.read]]. The
    * oracle is q140's plain formulation; the query differs from q140 only
    * in the unspread scan. DETERMINISM: a per-row predicate. Scale shape:
    * one scan, one byte pass per document, no shuffle.
    */
  def q237ServeFromIndex(spark: SparkSession, dir: String): DataFrame =
    booleanAnd(Documents.read(spark, dir))

  /** RBO@10 fixed-point weight factors: w_d·(2520/d) where
    * w_d = 0.9^(d-1)·1e9 = 9^(d-1)·10^(10-d) is an EXACT integer for
    * d ≤ 10 and 2520 = lcm(1..10) clears the /d — so every per-depth
    * term, and their sum, is exact integer arithmetic on both engines;
    * the one double division is by `RboDenom` = 2520·Σw_d at the end.
    */
  private val RboFactors: Seq[Long] = (1 to 10).map { d =>
    (BigInt(9).pow(d - 1) * BigInt(10).pow(10 - d)).toLong * (2520L / d)
  }
  private val RboDenom: Double =
    2520.0 * (1 to 10).map(d =>
      (BigInt(9).pow(d - 1) * BigInt(10).pow(10 - d)).toLong).sum.toDouble

  /** q241: rank-biased overlap between the BM25 and TF-IDF top-10
    * rankings per query term — the ranker-swap audit (Webber's RBO,
    * truncated at depth 10, p = 0.9) a search team reads before changing
    * scoring functions: per term, how much of the served page actually
    * changes. Each leg is the exact code path its standalone query
    * verifies (q9's `Ranking.bm25`, q8's `Ranking.tfidf`); both rank the
    * same term-posting candidate set under total (score desc, doc_id)
    * orders. DETERMINISM: overlap-at-depth counts are integers; the RBO
    * weights are the EXACT integer [[RboFactors]] (no `pow` at runtime —
    * libm-dependent), so the weighted sum is exact and the single double
    * division happens once per term. Scale shape: q9's one-scan scoring,
    * two windows sharing one term-keyed exchange, then everything is
    * ≤ 100 rows per term.
    */
  def q241RboRankings(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val d = Documents.spread(spark, dir)
    val bm = Ranking.bm25(d, "text", "doc_id", Bm25Terms)
      .select(col("word"), col("doc_id"), col("bm25"))
    val tf = Ranking.tfidf(d, "text", "doc_id")
      .filter(col("word").isin(Bm25Terms: _*))
      .select(col("word"), col("doc_id"), col("tfidf"))
    val wa = Window.partitionBy("word").orderBy(col("bm25").desc, col("doc_id").asc)
    val wb = Window.partitionBy("word").orderBy(col("tfidf").desc, col("doc_id").asc)
    val pairs = bm.join(tf, Seq("word", "doc_id"))
      .withColumn("ra", row_number().over(wa))
      .withColumn("rb", row_number().over(wb))
      .filter(col("ra") <= 10 && col("rb") <= 10)
    pairs
      .select(col("word"), col("ra"), col("rb"),
        explode(sequence(lit(1), lit(10))).as("d"))
      .groupBy("word", "d")
      .agg(count(when(col("ra") <= col("d") && col("rb") <= col("d"), 1))
        .as("inter"))
      .groupBy("word")
      .agg(
        max(when(col("d") === 10, col("inter"))).as("n_overlap"),
        max(when(col("d") === 1, col("inter"))).cast("int").as("top1_same"),
        round(sum(element_at(typedlit(RboFactors), col("d")) * col("inter"))
          .cast("double") / RboDenom, 6).as("rbo"))
  }

  /** q247: phrase search served from the POSITIONAL postings — per doc,
    * the phrase "hash join" occurs once for every `hash` position p with
    * a `join` at p + 1, i.e. the size of the intersection of
    * `positions(hash)` with `positions(join) − 1`. Both position lists
    * are collected in ONE doc-keyed aggregate (`collect_list` skips the
    * other term's nulls), so there is no self-join and no cache.
    * Positions are distinct per (doc, term) — one word per position — so
    * `array_intersect`'s set semantics count every match exactly once.
    * The oracle is q26's plain positional formulation. DETERMINISM:
    * integer positions and counts. Scale shape: the term filter prunes
    * the token stream to the two phrase terms before the one doc-keyed
    * exchange.
    */
  def q247PhraseFromIndex(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    Ranking.tokensWithPos(Documents.spread(spark, dir), "text", "doc_id")
      .filter(col("word").isin("hash", "join"))
      .groupBy("doc_id")
      .agg(
        collect_list(when(col("word") === "hash", col("pos"))).as("a"),
        collect_list(when(col("word") === "join", col("pos") - 1)).as("b"))
      .select(col("doc_id"),
        size(array_intersect(col("a"), col("b"))).cast("long").as("n"))
      .filter(col("n") > 0)
  }

  /** q248: minimal proximity window — for every document containing all
    * three query terms, the length of the shortest position span
    * covering at least one occurrence of each (the snippet-selection /
    * proximity-scoring primitive under phrase-less multi-term queries).
    * The classic one-pass sweep, distributed: per doc-PARTITIONED
    * window over positions, each term-hit row carries the latest seen
    * position of every term (`max(CASE …) OVER`), and the candidate
    * window ending at the current hit is `pos − least(last_h, last_j,
    * last_s) + 1`; the answer is the per-doc min. Never a positions
    * cross-join — cost is O(hits · log hits) per doc, partitions
    * independent. DETERMINISM: pure integer positions.
    */
  def q248MinWindow(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val tp = Ranking.tokensWithPos(Documents.spread(spark, dir), "text", "doc_id")
      .filter(col("word").isin(Bm25Terms: _*))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val last = Bm25Terms.map(t =>
      max(when(col("word") === t, col("pos"))).over(w).as(s"l_$t"))
    tp.select(col("doc_id") +: col("pos") +: last: _*)
      .filter(Bm25Terms.map(t => col(s"l_$t").isNotNull).reduce(_ && _))
      .select(col("doc_id"),
        (col("pos") - least(Bm25Terms.map(t => col(s"l_$t")): _*) + 1)
          .cast("long").as("span"))
      .groupBy("doc_id")
      .agg(min(col("span")).as("min_window"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q247_phrase_from_index" -> (q247PhraseFromIndex _),
    "q248_min_window" -> (q248MinWindow _),
    "q241_rbo_rankings" -> (q241RboRankings _),
    "q237_serve_from_index" -> (q237ServeFromIndex _),
    "q234_bm25_topk" -> (q234Bm25TopK _),
    "q208_rrf_hybrid" -> (q208RrfHybrid _),
    "q292_retrieve_rerank" -> (q292RetrieveRerank _),
    "q326_rocchio_prf" -> (q326RocchioPrf _),
    "q330_wildcard_search" -> (q330WildcardSearch _),
    "q341_spell_correct" -> (q341SpellCorrect _),
    "q8_tfidf" -> ((s, dir) => Ranking.tfidf(Documents.spread(s, dir), "text", "doc_id")),
    "q9_bm25" -> ((s, dir) => Ranking.bm25(Documents.read(s, dir), "text", "doc_id", Bm25Terms)),
    "q26_phrase_count" -> ((s, dir) =>
      Ranking.phraseCount(Documents.spread(s, dir), "text", "doc_id", Seq("hash", "join"))),
    "q29_keywords" -> ((s, dir) =>
      Ranking.keywords(Documents.spread(s, dir), "text", "doc_id", k = 3)),
    "q27_positional_index" -> ((s, dir) =>
      Ranking.positionalIndex(Documents.spread(s, dir), "text", "doc_id")),
    // q140: boolean AND search — the index SERVING path (see
    // booleanAnd). At 100 TB the same answer reads the PREBUILT index's
    // postings (q27/q1) — term-keyed, so each query term reads one
    // posting list, not the corpus.
    // q153: sparse TF-IDF cosine pairs — the lexical document-vector
    // similarity join over the inverted index (see
    // Ranking.sparseCosinePairs for the determinism + scale contract)
    "q153_sparse_cosine" -> ((s, dir) =>
      Ranking.sparseCosinePairs(Documents.spread(s, dir), "text", "doc_id", threshold = 0.3)),
    "q140_boolean_search" -> ((s, dir) => booleanAnd(Documents.spread(s, dir))))

  /** DuckDB word-array CTE — the SQL twin of TextFunctions.wordsArr (the
    * text-pipeline `[a-z0-9]` alphabet, same as TextQueries.WordsCte).
    */
  private val WordsCte =
    """WITH wd AS (
      |  SELECT doc_id, text,
      |         list_filter(
      |           list_transform(string_split_regex(lower(text), '\s+'),
      |                          t -> regexp_replace(t, '[^a-z0-9]', '', 'g')),
      |           x -> length(x) > 0) AS w
      |  FROM documents)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // q26's PLAIN positional formulation — the driver compare proves the
    // one-aggregate position intersect equals the positional scan
    "q247_phrase_from_index" ->
      s"""$WordsCte
         |SELECT doc_id, n FROM (
         |  SELECT doc_id,
         |         len(list_filter(range(1, len(w)),
         |                         i -> w[i] = 'hash' AND w[i+1] = 'join')) AS n
         |  FROM wd)
         |WHERE n > 0""".stripMargin,
    // same doc-partitioned last-seen sweep, same span arithmetic
    "q248_min_window" ->
      s"""$WordsCte,
         |tp AS (
         |  SELECT doc_id, unnest(range(0, len(w))) AS pos, unnest(w) AS word
         |  FROM wd),
         |f AS (SELECT doc_id, pos, word FROM tp
         |      WHERE word IN ('hash', 'join', 'scan')),
         |lw AS (
         |  SELECT doc_id, pos,
         |         max(CASE WHEN word = 'hash' THEN pos END) OVER sw AS lh,
         |         max(CASE WHEN word = 'join' THEN pos END) OVER sw AS lj,
         |         max(CASE WHEN word = 'scan' THEN pos END) OVER sw AS ls
         |  FROM f
         |  WINDOW sw AS (PARTITION BY doc_id ORDER BY pos
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT doc_id,
         |       CAST(min(pos - least(lh, lj, ls) + 1) AS BIGINT) AS min_window
         |FROM lw
         |WHERE lh IS NOT NULL AND lj IS NOT NULL AND ls IS NOT NULL
         |GROUP BY 1""".stripMargin,
    // same q9/q8 scoring legs, same per-term rank windows, same exact
    // integer RBO factors (injected from RboFactors) and one division
    "q241_rbo_rankings" ->
      s"""$WordsCte,
         |toks AS (SELECT doc_id, unnest(w) AS word FROM wd),
         |dl AS (SELECT doc_id, len(w) AS dl FROM wd WHERE len(w) > 0),
         |stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM toks
         |       WHERE word IN ('hash', 'join', 'scan') GROUP BY doc_id, word),
         |dfx AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
         |nd AS (SELECT count(*) AS n_docs FROM documents),
         |bm AS (
         |  SELECT tf.word, tf.doc_id,
         |         round(ln((stats.n_docs - dfx.df + 0.5) / (dfx.df + 0.5) + 1.0)
         |               * tf.tf * (1.2 + 1.0)
         |               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl * stats.n_docs / stats.sum_dl)),
         |               6) AS bm25
         |  FROM tf JOIN dfx USING (word) JOIN dl USING (doc_id) CROSS JOIN stats),
         |tw AS (
         |  SELECT tf.word, tf.doc_id,
         |         round(tf.tf * ln(CAST(nd.n_docs AS DOUBLE) / dfx.df), 6) AS tfidf
         |  FROM tf JOIN dfx USING (word) CROSS JOIN nd),
         |rk AS (
         |  SELECT b.word, b.doc_id,
         |         row_number() OVER (PARTITION BY b.word
         |                            ORDER BY b.bm25 DESC, b.doc_id) AS ra,
         |         row_number() OVER (PARTITION BY b.word
         |                            ORDER BY t.tfidf DESC, b.doc_id) AS rb
         |  FROM bm b JOIN tw t ON t.word = b.word AND t.doc_id = b.doc_id),
         |p10 AS (SELECT word, ra, rb FROM rk WHERE ra <= 10 AND rb <= 10),
         |dep AS (SELECT unnest(range(1, 11)) AS d),
         |pd AS (
         |  SELECT p.word, dep.d,
         |         count(*) FILTER (p.ra <= dep.d AND p.rb <= dep.d) AS inter
         |  FROM p10 p CROSS JOIN dep GROUP BY 1, 2)
         |SELECT word,
         |  max(CASE WHEN d = 10 THEN inter END) AS n_overlap,
         |  CAST(max(CASE WHEN d = 1 THEN inter END) AS INT) AS top1_same,
         |  round(CAST(sum(${RboFactors.mkString("[", ", ", "]")}[d] * inter)
         |        AS DOUBLE) / $RboDenom, 6) AS rbo
         |FROM pd GROUP BY word""".stripMargin,
    // q140's PLAIN scan formulation — the driver compare proves the
    // per-row predicate equals the postings count-equality intersect
    "q237_serve_from_index" ->
      s"""$WordsCte,
         |toks AS (SELECT doc_id, unnest(w) AS word FROM wd),
         |hit AS (SELECT doc_id FROM toks
         |        WHERE word IN ('hash', 'join', 'scan')
         |        GROUP BY doc_id HAVING count(DISTINCT word) = 3)
         |SELECT h.doc_id, d.source
         |FROM hit h JOIN documents d USING (doc_id)""".stripMargin,
    // same seed top-5, same in-R count expansion under the df*10 <= N
    // rarity guard, same expanded-term BM25 with per-(doc,term) 1e6
    // quantization before the doc sum, same (score, doc_id) top-10
    "q326_rocchio_prf" ->
      s"""$WordsCte,
         |toks AS (SELECT doc_id, unnest(w) AS word FROM wd),
         |dl AS (SELECT doc_id, len(w) AS dl FROM wd WHERE len(w) > 0),
         |stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
         |tf1 AS (SELECT doc_id, count(*) AS tf FROM toks
         |        WHERE word = 'hash' GROUP BY 1),
         |df1 AS (SELECT count(*) AS df FROM tf1),
         |bm1 AS (
         |  SELECT tf1.doc_id,
         |         round(ln((stats.n_docs - df1.df + 0.5) / (df1.df + 0.5) + 1.0)
         |               * tf1.tf * (1.2 + 1.0)
         |               / (tf1.tf + 1.2 * (0.25 + 0.75 * dl.dl * stats.n_docs / stats.sum_dl)),
         |               6) AS bm25
         |  FROM tf1 JOIN dl USING (doc_id) CROSS JOIN stats CROSS JOIN df1),
         |r5 AS (SELECT doc_id FROM bm1 ORDER BY bm25 DESC, doc_id LIMIT 5),
         |nd AS (SELECT count(*) AS n_all FROM documents),
         |dfall AS (SELECT word, count(DISTINCT doc_id) AS dfx FROM toks GROUP BY 1),
         |cr AS (SELECT t.word, count(*) AS c_r FROM toks t
         |       JOIN r5 ON r5.doc_id = t.doc_id
         |       WHERE t.word <> 'hash' GROUP BY 1),
         |expf AS (SELECT cr.word FROM cr
         |         JOIN dfall ON dfall.word = cr.word CROSS JOIN nd
         |         WHERE dfall.dfx * 10 <= nd.n_all
         |         ORDER BY cr.c_r DESC, cr.word LIMIT 3),
         |terms AS (SELECT word FROM expf UNION ALL SELECT 'hash' AS word),
         |tf AS (SELECT t.doc_id, t.word, count(*) AS tf FROM toks t
         |       JOIN terms ON terms.word = t.word GROUP BY 1, 2),
         |dfx AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
         |bm AS (
         |  SELECT tf.doc_id,
         |         CAST(round(round(
         |           ln((stats.n_docs - dfx.df + 0.5) / (dfx.df + 0.5) + 1.0)
         |           * tf.tf * (1.2 + 1.0)
         |           / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl * stats.n_docs / stats.sum_dl)),
         |           6) * 1e6) AS BIGINT) AS fp
         |  FROM tf JOIN dfx USING (word) JOIN dl USING (doc_id) CROSS JOIN stats),
         |ag AS (SELECT doc_id, sum(fp) AS score_fp, count(*) AS n_terms_hit
         |       FROM bm GROUP BY 1)
         |SELECT CAST(row_number() OVER (ORDER BY score_fp DESC, doc_id) AS INT) AS rank,
         |       doc_id,
         |       round(CAST(score_fp AS BIGINT) / 1e6, 6) AS rocchio_score,
         |       n_terms_hit,
         |       CASE WHEN doc_id IN (SELECT doc_id FROM r5) THEN 1 ELSE 0 END
         |         AS in_seed_top5
         |FROM ag ORDER BY score_fp DESC, doc_id LIMIT 10""".stripMargin,
    // the PLAIN wildcard scan (LIKE pre%suf over the same distinct-doc
    // vocabulary) — the driver compare proves the permuterm rotation
    // index path equals the direct scan
    "q330_wildcard_search" ->
      s"""$WordsCte,
         |toks AS (SELECT DISTINCT doc_id, unnest(w) AS word FROM wd),
         |vocab AS (SELECT word, count(*) AS df FROM toks GROUP BY 1)
         |SELECT 's*' AS pattern, word, df FROM vocab WHERE word LIKE 's%'
         |UNION ALL SELECT '*er', word, df FROM vocab WHERE word LIKE '%er'
         |UNION ALL SELECT 'c*n', word, df FROM vocab WHERE word LIKE 'c%n'
         |UNION ALL SELECT '*e', word, df FROM vocab WHERE word LIKE '%e'
         |UNION ALL SELECT 'b*h', word, df FROM vocab WHERE word LIKE 'b%h'""".stripMargin,
    // the plain brute-force distance scan — the hash match proves the
    // engine's delete-neighborhood blocking is COMPLETE for lev <= 2
    "q341_spell_correct" ->
      s"""$WordsCte,
         |toks AS (SELECT doc_id, unnest(w) AS word FROM wd),
         |vocab AS (SELECT word, count(*) AS freq FROM toks GROUP BY 1),
         |dict AS (SELECT word, freq FROM vocab WHERE length(word) >= 4),
         |pr AS (
         |  SELECT DISTINCT probe FROM (
         |    SELECT concat(substring(word, 1, m - 1),
         |                  substring(word, m + 1, length(word))) AS probe
         |    FROM (SELECT word, length(word) // 2 + 1 AS m FROM dict)
         |    UNION
         |    SELECT concat(substring(word, 1, m - 1), 'z',
         |                  substring(word, m + 1, length(word)))
         |    FROM (SELECT word, length(word) // 2 + 1 AS m FROM dict))
         |  WHERE probe NOT IN (SELECT word FROM vocab)),
         |cand AS (
         |  SELECT pr.probe, d.word AS suggestion, d.freq,
         |         levenshtein(pr.probe, d.word) AS dist
         |  FROM pr CROSS JOIN dict d)
         |SELECT probe, suggestion, CAST(dist AS BIGINT) AS dist,
         |       CAST(freq AS BIGINT) AS freq
         |FROM cand WHERE dist BETWEEN 1 AND 2
         |QUALIFY row_number() OVER (
         |  PARTITION BY probe ORDER BY dist, freq DESC, suggestion) = 1""".stripMargin,
    // q9's scoring with a per-term (bm25 desc, doc_id) rank <= 5 window
    "q234_bm25_topk" ->
      s"""$WordsCte,
         |toks AS (SELECT doc_id, unnest(w) AS word FROM wd),
         |dl AS (SELECT doc_id, len(w) AS dl FROM wd WHERE len(w) > 0),
         |stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM toks
         |       WHERE word IN ('hash', 'join', 'scan') GROUP BY doc_id, word),
         |dfx AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
         |bm AS (
         |  SELECT tf.word, tf.doc_id,
         |         round(ln((stats.n_docs - dfx.df + 0.5) / (dfx.df + 0.5) + 1.0)
         |               * tf.tf * (1.2 + 1.0)
         |               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl * stats.n_docs / stats.sum_dl)),
         |               6) AS bm25
         |  FROM tf JOIN dfx USING (word) JOIN dl USING (doc_id) CROSS JOIN stats)
         |SELECT word, CAST(rank AS INTEGER) AS rank, doc_id, bm25 FROM (
         |  SELECT word, doc_id, bm25,
         |         row_number() OVER (
         |           PARTITION BY word ORDER BY bm25 DESC, doc_id ASC) AS rank
         |  FROM bm)
         |WHERE rank <= 5""".stripMargin,
    // same BM25 leg (q9's formula, term 'hash'), same rounded-cosine
    // dense leg (q40's order), same 1/(60+rank) fusion and tie-breaks
    // stage 1 = q208's sparse leg verbatim; stage 2 re-scores only the
    // 20 retrieved ids with the same 6dp cosine, self excluded
    "q292_retrieve_rerank" ->
      s"""$WordsCte,
         |toks AS (SELECT doc_id, unnest(w) AS word FROM wd),
         |dl AS (SELECT doc_id, len(w) AS dl FROM wd WHERE len(w) > 0),
         |stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
         |tf AS (SELECT doc_id, count(*) AS tf FROM toks
         |       WHERE word = 'hash' GROUP BY doc_id),
         |dfx AS (SELECT count(*) AS df FROM tf),
         |bm AS (
         |  SELECT tf.doc_id,
         |         round(ln((stats.n_docs - dfx.df + 0.5) / (dfx.df + 0.5) + 1.0)
         |               * tf.tf * (1.2 + 1.0)
         |               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl * stats.n_docs / stats.sum_dl)),
         |               6) AS bm25
         |  FROM tf JOIN dl USING (doc_id) CROSS JOIN dfx CROSS JOIN stats),
         |sp AS (
         |  SELECT doc_id, bm25,
         |         CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INTEGER) AS ra
         |  FROM bm ORDER BY bm25 DESC, doc_id LIMIT 20),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |rr AS (
         |  SELECT c.vec_id AS doc_id,
         |         round(list_cosine_similarity(q.v, c.v), 6) AS cos
         |  FROM e q JOIN e c ON q.vec_id = 0 AND c.vec_id <> 0
         |  JOIN sp ON sp.doc_id = c.vec_id),
         |rk AS (
         |  SELECT doc_id, cos,
         |         CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS INTEGER)
         |           AS rank
         |  FROM rr)
         |SELECT rk.rank, rk.doc_id, rk.cos, sp.bm25, sp.ra AS retrieve_rank
         |FROM rk JOIN sp USING (doc_id)
         |WHERE rk.rank <= 10""".stripMargin,
    "q208_rrf_hybrid" ->
      s"""$WordsCte,
         |toks AS (SELECT doc_id, unnest(w) AS word FROM wd),
         |dl AS (SELECT doc_id, len(w) AS dl FROM wd WHERE len(w) > 0),
         |stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
         |tf AS (SELECT doc_id, count(*) AS tf FROM toks
         |       WHERE word = 'hash' GROUP BY doc_id),
         |dfx AS (SELECT count(*) AS df FROM tf),
         |bm AS (
         |  SELECT tf.doc_id,
         |         round(ln((stats.n_docs - dfx.df + 0.5) / (dfx.df + 0.5) + 1.0)
         |               * tf.tf * (1.2 + 1.0)
         |               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl * stats.n_docs / stats.sum_dl)),
         |               6) AS bm25
         |  FROM tf JOIN dl USING (doc_id) CROSS JOIN dfx CROSS JOIN stats),
         |sp AS (
         |  SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INTEGER) AS ra
         |  FROM bm ORDER BY bm25 DESC, doc_id LIMIT 20),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |dn AS (
         |  SELECT cand_id AS doc_id, CAST(rank AS INTEGER) AS rb FROM (
         |    SELECT c.vec_id AS cand_id,
         |           row_number() OVER (
         |             ORDER BY round(list_cosine_similarity(q.v, c.v), 6) DESC,
         |                      c.vec_id ASC) AS rank
         |    FROM e q JOIN e c ON q.vec_id = 0 AND c.vec_id <> 0)
         |  WHERE rank <= 20),
         |f AS (
         |  SELECT coalesce(sp.doc_id, dn.doc_id) AS doc_id, sp.ra, dn.rb,
         |         round(coalesce(CAST(1.0 AS DOUBLE) / (sp.ra + 60), 0) +
         |               coalesce(CAST(1.0 AS DOUBLE) / (dn.rb + 60), 0), 6) AS rrf
         |  FROM sp FULL OUTER JOIN dn ON dn.doc_id = sp.doc_id)
         |SELECT CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INTEGER) AS rank,
         |       doc_id, rrf, ra, rb
         |FROM f ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,
    "q8_tfidf" ->
      s"""$WordsCte,
         |toks AS (SELECT doc_id, unnest(w) AS word FROM wd),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY doc_id, word),
         |dfx AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
         |n AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT tf.doc_id, tf.word, tf.tf, dfx.df,
         |       round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfx.df), 6) AS tfidf
         |FROM tf JOIN dfx USING (word) CROSS JOIN n""".stripMargin,
    "q9_bm25" ->
      s"""$WordsCte,
         |toks AS (SELECT doc_id, unnest(w) AS word FROM wd),
         |dl AS (SELECT doc_id, len(w) AS dl FROM wd WHERE len(w) > 0),
         |stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM toks
         |       WHERE word IN ('hash', 'join', 'scan') GROUP BY doc_id, word),
         |dfx AS (SELECT word, count(*) AS df FROM tf GROUP BY word)
         |SELECT tf.doc_id, tf.word, tf.tf, dfx.df, dl.dl,
         |       round(ln((stats.n_docs - dfx.df + 0.5) / (dfx.df + 0.5) + 1.0)
         |             * tf.tf * (1.2 + 1.0)
         |             / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl * stats.n_docs / stats.sum_dl)),
         |             6) AS bm25
         |FROM tf JOIN dfx USING (word) JOIN dl USING (doc_id) CROSS JOIN stats""".stripMargin,
    "q29_keywords" ->
      s"""$WordsCte,
         |toks AS (SELECT doc_id, unnest(w) AS word FROM wd),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY doc_id, word),
         |dfx AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT tf.doc_id, tf.word,
         |         round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfx.df), 6) AS tfidf
         |  FROM tf JOIN dfx USING (word) CROSS JOIN n)
         |SELECT doc_id, rk, word, tfidf FROM (
         |  SELECT doc_id, word, tfidf,
         |         row_number() OVER (
         |           PARTITION BY doc_id ORDER BY tfidf DESC, word ASC) AS rk
         |  FROM scored)
         |WHERE rk <= 3""".stripMargin,
    "q26_phrase_count" ->
      s"""$WordsCte
         |SELECT doc_id, n FROM (
         |  SELECT doc_id,
         |         len(list_filter(range(1, len(w)),
         |                         i -> w[i] = 'hash' AND w[i+1] = 'join')) AS n
         |  FROM wd)
         |WHERE n > 0""".stripMargin,
    "q27_positional_index" ->
      s"""$WordsCte,
         |dw2 AS (SELECT doc_id, w, unnest(list_distinct(w)) AS word
         |        FROM wd WHERE len(w) > 0)
         |SELECT word, doc_id,
         |       array_to_string(
         |         list_transform(
         |           list_filter(range(0, len(w)), i -> w[i+1] = word),
         |           i -> CAST(i AS VARCHAR)), ' ') AS positions
         |FROM dw2""".stripMargin,
    // decimal(18,6) weights so wt*wt stays inside DuckDB's 38-digit
    // product cap; sums are exact decimals on both engines
    "q153_sparse_cosine" ->
      s"""$WordsCte,
         |toks AS (SELECT doc_id, unnest(w) AS word FROM wd),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY doc_id, word),
         |dfx AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |wt AS (
         |  SELECT tf.doc_id, tf.word,
         |         CAST(round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfx.df), 6)
         |              AS DECIMAL(18,6)) AS wt
         |  FROM tf JOIN dfx USING (word) CROSS JOIN n
         |  WHERE dfx.df <= n.n_docs * 0.1),
         |nrm AS (SELECT doc_id, sum(wt * wt) AS nrm FROM wt GROUP BY doc_id),
         |dots AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(a.wt * b.wt) AS dot
         |  FROM wt a JOIN wt b ON a.word = b.word AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT * FROM (
         |  SELECT d.id_a, d.id_b,
         |         round(CAST(d.dot AS DOUBLE)
         |               / sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)),
         |               6) AS cosine
         |  FROM dots d
         |  JOIN nrm na ON na.doc_id = d.id_a
         |  JOIN nrm nb ON nb.doc_id = d.id_b)
         |WHERE cosine >= 0.3""".stripMargin,
    "q140_boolean_search" ->
      s"""$WordsCte,
         |toks AS (SELECT doc_id, unnest(w) AS word FROM wd),
         |hit AS (SELECT doc_id FROM toks
         |        WHERE word IN ('hash', 'join', 'scan')
         |        GROUP BY doc_id HAVING count(DISTINCT word) = 3)
         |SELECT h.doc_id, d.source
         |FROM hit h JOIN documents d USING (doc_id)""".stripMargin)
}
