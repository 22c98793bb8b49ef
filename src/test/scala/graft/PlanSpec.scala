package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.WriteFilesExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ENSURE_REQUIREMENTS, Exchange,
  REPARTITION_BY_COL, ShuffleExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression tests: the performance properties the engine
  * relies on at scale (filter pushdown, column pruning, broadcast
  * placement, shuffle counts) asserted against the actual planned
  * output, so a refactor that silently loses one fails CI.
  */
class PlanSpec extends AnyFunSuite with SparkTestBase {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  private def shuffles(p: String): Int =
    "(?<!Broadcast)(?<!Reused)Exchange hashpartitioning".r.findAllIn(p).size

  test("q10: timestamp filter reaches the parquet scan, columns pruned") {
    val p = plan("q10_pricing_summary")
    assert(p.contains("PushedFilters") && p.contains("LessThanOrEqual(l_shipdate"))
    assert(!p.contains("l_orderkey"), "unused columns must not be read")
  }

  test("q11: all four dimension joins broadcast; single agg shuffle") {
    val p = plan("q11_revenue_by_nation")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4)
  }

  test("q1: inverted index plans exactly one shuffle (collect_set dedups)") {
    val p = plan("q1_inverted_index")
    assert(shuffles(p) == 1, s"expected 1 exchange, plan:\n$p")
  }

  /** The executed plans of the actions `body` runs. */
  private def executedPlans(body: => Unit): Seq[SparkPlan] = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    Bridge.waitListenerBusEmpty(spark)
    spark.listenerManager.register(listener)
    try {
      body
      Bridge.waitListenerBusEmpty(spark)
    } finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  private object Aqe extends AdaptiveSparkPlanHelper

  /** A hash exchange on the first letter of `word`: on `letter`, or on the
    * aggregate's grouping key that the plan below defines as
    * `substring(word, 1, 1)`.
    */
  private def onLetter(e: ShuffleExchangeLike): Boolean = e.outputPartitioning match {
    case HashPartitioning(Seq(k: Attribute), _) =>
      k.name == "letter" || e.child.exists(_.expressions.exists {
        case a: Alias => a.exprId == k.exprId && a.child.sql == "substring(word, 1, 1)"
        case _ => false
      })
    case _ => false
  }

  private def shuffleExchanges(plans: Seq[SparkPlan]): Seq[ShuffleExchangeExec] =
    plans.flatMap(p => Aqe.collect(p) { case e: ShuffleExchangeExec => e })

  test("index build: corpus read runs no job; one exchange, no join") {
    val small = Paths.get(getClass.getResource("/index_small").toURI).toString
    val manifest = s"$small/test_small.txt"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    Bridge.waitListenerBusEmpty(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      graft.sources.Corpus.read(spark, manifest, small)
      Bridge.waitListenerBusEmpty(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get == 0, "building Corpus.read must not run a Spark job")

    val idx = IndexJob.index(spark, manifest, small)
    idx.collect()
    val executed = idx.queryExecution.executedPlan
    val exchanges = Aqe.collect(executed) { case e: Exchange => e }
    assert(exchanges.size == 1 && (exchanges.head match {
      case e: ShuffleExchangeLike => onLetter(e)
      case _ => false
    }), s"expected the letter aggregation as the only exchange:\n$executed")
    assert(Aqe.collect(executed) { case b: BroadcastExchangeLike => b }.isEmpty, executed)
    assert(Aqe.collect(executed) { case j: BaseJoinExec => j }.isEmpty, s"no join expected:\n$executed")
  }

  test("index sink: tasks write the letter files; the letter exchange is sized by AQE") {
    val small = Paths.get(getClass.getResource("/index_small").toURI).toString
    val executed = executedPlans(
      IndexJob.run(spark, s"$small/test_small.txt", small, Files.createTempDirectory("graft-plan-out").toString))
    assert(executed.nonEmpty, "the sink action must report its plan")
    val writes = executed.flatMap(p => Aqe.collect(p) {
      case w: DataWritingCommandExec => w
      case w: WriteFilesExec => w
    })
    assert(writes.isEmpty, s"the letter files must not go through a Spark file writer:\n${executed.mkString("\n")}")
    // the aggregate's letter exchange is the sink's: repartition(letter)
    // is planned away, and no fixed partition count is set
    val shuffles = shuffleExchanges(executed)
    assert(shuffles.size == 1 && shuffles.head.shuffleOrigin == ENSURE_REQUIREMENTS && onLetter(shuffles.head),
      s"expected the letter aggregate's exchange as the only one:\n${executed.mkString("\n")}")
  }

  test("index sink: an index not hashed on letter gets its own letter exchange") {
    val small = Paths.get(getClass.getResource("/index_small").toURI).toString
    val byWord = IndexJob.index(spark, s"$small/test_small.txt", small)
      .repartition(org.apache.spark.sql.functions.col("word"))
    val out = Files.createTempDirectory("graft-plan-word-out")
    val executed = executedPlans(graft.operators.IndexWriter.write(byWord, out.toString))
    val letter = shuffleExchanges(executed).filter(e => e.shuffleOrigin == REPARTITION_BY_COL && onLetter(e))
    assert(letter.size == 1,
      s"expected the sink's repartition(letter) exchange:\n${executed.mkString("\n")}")
    ('a' to 'z').foreach { l =>
      assert(Files.readAllBytes(out.resolve(s"$l.txt")).sameElements(
        Files.readAllBytes(Paths.get(small, "test_out_small", s"$l.txt"))), s"$l.txt differs from its golden")
    }
  }

  test("q12/q13: semi and anti joins stay semi/anti (no row duplication)") {
    assert(plan("q12_semi_join").contains("LeftSemi"))
    assert(plan("q13_anti_join").contains("LeftAnti"))
  }

  test("q22: text analysis reads only the needed columns") {
    val p = plan("q22_token_counts")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"))
  }

  test("q8: tfidf df joins back via broadcast; df reads the cached tf table") {
    val df = SparkEntry.queries("q8_tfidf")(spark, sfDir)
    val p = Runner.released(spark) {
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 1, s"df join must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
    // df must be derived from the materialized tf table, not from a
    // second scan+tokenize of the corpus. (Tokenize-occurrence counting
    // on the plan STRING is meaningless — every InMemoryRelation reprints
    // its cached subtree — so assert the cache reads instead.)
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
      s"both tf and df sides must read the cached tf table:\n$p")
  }

  test("q26: phrase search plans equi-joins only (no cross product)") {
    val p = plan("q26_phrase_count")
    assert(!p.contains("CartesianProduct"), s"phrase join must stay equi:\n$p")
    assert(p.contains("alnum_tokens"), "native tokenizer must be in the plan")
  }

  test("q117/q237/q247/q249: postings are served and compacted as plain columns") {
    // the postings stay (word, doc_id) / (doc_id, pos) rows end to end: a
    // typed Aggregator (Kryo buffer) or a typed map/flatMap decode would
    // bring back the byte-codec path this pins out
    import org.apache.spark.sql.execution.{DeserializeToObjectExec, MapElementsExec, MapPartitionsExec}
    import org.apache.spark.sql.execution.aggregate.{ScalaAggregator, TypedAggregateExpression}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    object Aqe extends AdaptiveSparkPlanHelper
    for (q <- Seq("q117_index_compaction", "q237_serve_from_index",
        "q247_phrase_from_index", "q249_tombstone_compaction")) {
      val df = SparkEntry.queries(q)(spark, sfDir)
      df.collect() // the adaptive plan is final only after execution
      val executed = Runner.released(spark)(df.queryExecution.executedPlan)
      val typedAggs = Aqe.flatMap(executed)(_.expressions.flatMap(_.collect {
        case f @ (_: TypedAggregateExpression | _: ScalaAggregator[_, _, _]) => f
      }))
      assert(typedAggs.isEmpty, s"$q aggregates through a typed Aggregator:\n$executed")
      val objectOps = Aqe.collect(executed) {
        case o @ (_: MapElementsExec | _: MapPartitionsExec | _: DeserializeToObjectExec) => o
      }
      assert(objectOps.isEmpty, s"$q decodes through typed object operators:\n$executed")
      if (q == "q247_phrase_from_index") {
        assert(Aqe.collect(executed) { case c: InMemoryTableScanExec => c }.isEmpty,
          s"q247 must not cache its postings:\n$executed")
        assert(Aqe.collect(executed) { case j: BaseJoinExec => j }.isEmpty,
          s"q247 must intersect positions in one aggregate, no join:\n$executed")
      }
    }
  }

  test("short queries: building q22, q117, q234 and q237 runs no Spark job") {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    Bridge.waitListenerBusEmpty(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      for (q <- Seq("q22_token_counts", "q117_index_compaction", "q234_bm25_topk",
          "q237_serve_from_index")) {
        SparkEntry.queries(q)(spark, sfDir)
        Bridge.waitListenerBusEmpty(spark)
        assert(jobs.get == 0, s"building $q ran ${jobs.get} Spark job(s)")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("q234/q117: one documents scan; q234's BM25 stats read no cache") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    object Aqe extends AdaptiveSparkPlanHelper
    for (q <- Seq("q234_bm25_topk", "q117_index_compaction")) {
      val df = SparkEntry.queries(q)(spark, sfDir)
      val executed = Runner.released(spark) {
        df.collect() // the adaptive plan is final only after execution
        df.queryExecution.executedPlan
      }
      val scans = Aqe.collect(executed) {
        case s: FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.getName == "documents.parquet") => s
      }
      assert(scans.size == 1, s"$q must scan documents once:\n$executed")
      assert(Aqe.collect(executed) { case c: InMemoryTableScanExec => c }.isEmpty,
        s"$q must not read a cache:\n$executed")
    }
  }

  test("q237 plans no exchange and no join; q117 one exchange, on word") {
    // both read documents whose doc_id is the key, so the per-document
    // work stays in the row: a doc-keyed exchange coming back fails here
    object Aqe extends AdaptiveSparkPlanHelper
    def executed(q: String): SparkPlan = {
      val df = SparkEntry.queries(q)(spark, sfDir)
      Runner.released(spark) {
        df.collect() // the adaptive plan is final only after execution
        df.queryExecution.executedPlan
      }
    }
    val q237 = executed("q237_serve_from_index")
    assert(Aqe.collect(q237) { case e: Exchange => e }.isEmpty, s"q237 plans an exchange:\n$q237")
    assert(Aqe.collect(q237) { case j: BaseJoinExec => j }.isEmpty, s"q237 plans a join:\n$q237")
    val q117 = executed("q117_index_compaction")
    val exchanges = Aqe.collect(q117) { case e: Exchange => e }
    assert(exchanges.size == 1 && exchanges.head.toString.contains("hashpartitioning(word"),
      s"expected the word aggregation as q117's only exchange:\n$q117")
  }

  test("q43: centroid aggregation is partial+final (map-side combine)") {
    val p = plan("q43_label_centroids")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final aggregate pair:\n$p")
    assert(shuffles(p) == 1, s"one exchange on (label, dim), plan:\n$p")
  }

  test("q73: global k-smallest plans as TakeOrdered, never a full sort") {
    val p = plan("q73_kmv_vocab")
    assert(p.contains("TakeOrderedAndProject"), s"expected TakeOrdered:\n$p")
  }

  releasedTest("near-dup candidate generation never plans a cross product") {
    // every candidate generator is a key-equality join (LSH band, shared
    // shingle, SimHash chunk, hyperplane bucket, winnow fingerprint) —
    // the property that makes these run at 100 TB. A refactor that
    // degrades one to CartesianProduct/BroadcastNestedLoopJoin would
    // still pass correctness at fixture scale; catch it here.
    for (q <- Seq("q31_minhash_lsh", "q32_ngram_jaccard", "q35_embed_dup_lsh",
        "q36_simhash_pairs", "q24_winnow_pairs", "q77_simhash64_pairs",
        "q78_decontaminate", "q89_semantic_dedup", "q96_dup_passage_fraction",
        "q97_dedup_cross_corpus", "q101_passage_dedup", "q103_dup_spans",
        "q112_ivf_pq_knn", "q115_textrank", "q117_index_compaction",
        "q127_source_overlap", "q130_name_match",
        // co-purchase pairs: basket self-join must stay keyed on order
        "q148_copurchase_recs",
        // split leakage: eval↔train candidates must stay shingle-keyed
        "q159_split_leakage",
        // containment pairs: same shared-shingle skeleton as q32
        "q194_containment_pairs",
        // graph rounds: co-purchase edges and every propagation/frontier
        // round must stay order-/node-keyed (q320: weighted relax rounds
        // join frontier on the source endpoint, merge full-outer on node)
        "q199_label_propagation", "q203_bfs_hops", "q320_weighted_sssp",
        // sequential patterns: user-keyed containment joins, never the
        // positional n^3 self-join
        "q329_seq_patterns",
        // MDM pipeline: SNM pairs are window-born; CC rounds stay keyed
        "q205_golden_record",
        // centroid similarity: the pair dot must join on dim, never all²
        "q207_source_centroid_sim")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q plans a cartesian product:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q plans a broadcast nested-loop join:\n$p")
      Runner.release(spark)
    }
  }

  releasedTest("checkpointed iterative ops keep keyed-join rounds (uncut plan inspection)") {
    // q321/q324/q327/q331 checkpoint every round EAGERLY, so their
    // query-level plans are LogicalRDD scans and the main guard above
    // would be vacuous on them (round-10 review finding). Inspect the
    // genuine join shape by planning each loop's round step directly on
    // the uncheckpointed input (two composed steps for the walks).
    import graft.operators.Edges
    import org.apache.spark.sql.functions.col
    val e0 = Edges.coPurchase(spark, sfDir).persist()
    val nodes = e0.select(col("a").as("node"))
      .unionByName(e0.select(col("b").as("node"))).distinct()
    val seeds = e0.select(col("a").as("walk_id"), col("a").as("node"),
      col("a").cast("string").as("path")).limit(5)
    val plans = Seq(
      "ktruss" -> Edges.ktrussStep(e0, Edges.orientByDegree(e0), k = 3),
      "matching" -> Edges.matchingStep(e0),
      "mis" -> Edges.misStep(e0, nodes),
      "walks" -> Edges.walkStep(Edges.walkStep(seeds, e0, 1), e0, 2))
    for ((name, df) <- plans) {
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("Join"), s"$name uncut plan shows no join - vacuous:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$name plans a broadcast nested-loop join:\n$p")
    }
  }

  test("q323: the bucket model rides a broadcast join, never a shuffle of the doc grain") {
    // the DSIR contract: the ≤1024-row log-ratio table must be the
    // broadcast side of the doc-bucket join — a refactor that let it
    // shuffle-join would re-exchange the corpus-grain (doc, bucket)
    // table a second time for a 1024-row right side
    val df = SparkEntry.queries("q323_importance_resampling")(spark, sfDir)
    df.collect()
    val p = Runner.released(spark)(df.queryExecution.executedPlan.toString)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 1,
      s"q323's model join must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q330: the bounded pattern list is the broadcast build side of the probe") {
    // the q19 rule for non-equi joins: the 5-row pattern list must be
    // the broadcast side; a flipped build would broadcast the
    // term-grain rotation index
    val p = plan("q330_wildcard_search")
    assert(p.contains("BroadcastNestedLoopJoin BuildRight"),
      s"pattern list must be the broadcast build side:\n$p")
  }

  test("q341: the probe delete-keys are the broadcast side; no cartesian anywhere") {
    // SymSpell's whole point is that candidates come from a keyed
    // equi-join on the shared delete string — a cartesian (the oracle's
    // brute-force formulation) must never appear in the engine plan,
    // and the bounded probe-key side (|probes| × O(L²) rows) must be
    // the broadcast build, not the vocabulary-grain dict keys
    val p = plan("q341_spell_correct")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must stay a keyed equi-join:\n$p")
    // the probe keys are the RIGHT side of dictKeys.join(broadcast(probeKeys))
    // — BuildRight is the claim, not just "some broadcast join exists".
    // Scope it to the candidate-generation join (the BroadcastHashJoin
    // whose keys are the shared delete string `k`): a whole-plan
    // BuildLeft ban would trip on any UNRELATED join (the left_anti
    // probe-collision filter, say) legitimately switching build side
    // under different stats, without a real regression
    val candJoins = p.linesIterator
      .filter(l => l.contains("BroadcastHashJoin") && l.contains("[k#"))
      .toSeq
    assert(candJoins.nonEmpty,
      s"candidate generation must be a BroadcastHashJoin on the delete key:\n$p")
    assert(candJoins.forall(_.contains("BuildRight")),
      s"the probe-key side must be the broadcast BUILD side of the candidate join:\n" +
        candJoins.mkString("\n"))
  }

  releasedTest("q213/q216: bottom-k sketch/sample plan TakeOrdered, never a full sort") {
    // the mergeability story depends on it: TakeOrdered is k rows per
    // partition + a driver merge; a global Sort would be a full shuffle
    for (q <- Seq("q213_kmv_union", "q216_sample_quantile")) {
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"),
        s"$q must plan its bottom-k as TakeOrdered:\n$p")
      Runner.release(spark)
    }
  }

  releasedTest("q202/q210: boundary sweep and temporal co-occurrence plan no join at all") {
    // both are window-then-agg shapes: the sweep would be quadratic as an
    // interval self-join, the co-occurrence as a time-range self-join —
    // the whole point of their designs is that no Join node ever appears
    for (q <- Seq("q202_max_concurrency", "q210_temporal_cooccur")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q must stay window+agg only:\n$p")
      Runner.release(spark)
    }
  }

  test("q19: the constant-sized tier table is the broadcast side") {
    val p = plan("q19_range_join")
    // a range (non-equi) join against a 3-row bounds table SHOULD be a
    // broadcast nested-loop — what must never happen is the big events
    // side being built/broadcast, or a shuffle appearing before the join
    assert(p.contains("BroadcastNestedLoopJoin BuildRight"),
      s"tier table must be the broadcast build side:\n$p")
  }

  test("q39: salted join partitions on (key, __salt) — the salt spread is real") {
    // with broadcast off, the join must materialize as a shuffle whose
    // hash partitioning includes the salt column: that is the property
    // that fans a hot key over saltFactor tasks. A refactor that drops
    // __salt from the join keys would still pass q39's oracle (salting is
    // semantics-neutral), so the oracle can never catch this regression.
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("q39_salted_join")
      val exchanges =
        "Exchange hashpartitioning\\([^)]*\\)".r.findAllIn(p).toList
      assert(exchanges.exists(e => e.contains("c_custkey") && e.contains("__salt")),
        s"no exchange hash-partitions on (c_custkey, __salt):\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
  }

  test("q81/q82/q95: per-row pipelines (resampling, chunking, zorder key) plan shuffle-free") {
    // all are narrow projection+generate pipelines: any exchange here
    // means a regression re-introduced a shuffle into a per-row operator
    for (q <- Seq("q81_mix_sources", "q82_token_chunks", "q95_zorder_layout")) {
      val p = plan(q)
      assert(shuffles(p) == 0, s"$q must not shuffle:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
        s"$q must stay join-free:\n$p")
    }
  }

  test("q98/q102: per-row hygiene filters (rebalance sample, PII scrub) plan shuffle-free") {
    // the md5-coin filter and the regex scrub are pure projections over
    // the scan; the rebalance rates come from a separate bounded
    // aggregate, never a join into the corpus pipeline
    for (q <- Seq("q98_rebalance_sample", "q102_pii_scrub")) {
      val p = plan(q)
      assert(shuffles(p) == 0, s"$q must not shuffle:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
        s"$q must stay join-free:\n$p")
    }
  }

  test("q99: the k-means assignment pass is a shuffle-free projection") {
    // centroids are plan literals (k×dim doubles) — the returned
    // assignment must plan as a narrow projection over the scan, never
    // a join against a centroid table
    val p = plan("q99_kmeans")
    assert(shuffles(p) == 0, s"assignment must not shuffle:\n$p")
    assert(!p.contains("Join"), s"assignment must stay join-free:\n$p")
  }

  test("q105: the BPE top-20 is a TakeOrdered over the pair table, never a full sort") {
    val p = plan("q105_bpe_pairs")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must plan as TakeOrdered:\n$p")
    assert(!p.contains("rangepartitioning"),
      s"no global sort exchange:\n$p")
  }

  test("q104: the column profile is one scan, not one per statistic") {
    // the whole point of the single-row aggregate + explode shape: a
    // refactor to per-column UNIONed aggregates would re-scan the table
    // once per profiled column
    val p = plan("q104_table_profile")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"profile must read lineitem exactly once:\n$p")
  }

  test("q84: sequence packing plans exactly one exchange, on the bucket") {
    val p = plan("q84_pack_sequences")
    assert(shuffles(p) == 1, s"packing is one hash exchange + window:\n$p")
    assert(p.contains("hashpartitioning(bucket"),
      s"the single exchange must partition on bucket:\n$p")
  }

  test("q360/q364: BPE apply and span corruption plan shuffle-free (document-local)") {
    // the tokenize-everything pass and the masking plan are both pure
    // per-document pipelines: the 100 TB shape is scan → project, no
    // exchange anywhere (the merge table rides as a plan literal)
    Seq("q360_bpe_apply", "q364_span_corruption").foreach { q =>
      val p = plan(q)
      assert(shuffles(p) == 0, s"$q must plan zero shuffles:\n$p")
      assert(!p.contains("BroadcastExchange"), s"$q needs no join at all:\n$p")
    }
  }

  test("q362: the capstone plans the q84 bucket exchange + an 8-row broadcast rollup") {
    val p = plan("q362_tokenizer_roundtrip")
    // one hash exchange for the bucket window; the per-bucket padding
    // rollup (8 rows) must come back as a BROADCAST join, and its agg
    // adds one more keyed exchange at the bucket grain — nothing at
    // the document grain beyond the packing window itself. Count
    // DISTINCT exchange plan_ids, not textual occurrences: the packed
    // stage is persisted (r14 ADVICE — it feeds both the rollup and
    // the doc-grain join), and the one cached window exchange renders
    // under BOTH InMemoryTableScan leaves while executing once.
    assert(p.contains("hashpartitioning(bucket"),
      s"the packing window must partition on bucket:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"the 8-row rollup must broadcast back to the doc grain:\n$p")
    val distinctShuffles =
      "(?<!Broadcast)(?<!Reused)Exchange hashpartitioning[^\n]*plan_id=(\\d+)".r
        .findAllMatchIn(p).map(_.group(1)).toSet.size
    assert(distinctShuffles <= 2,
      s"doc-grain data must cross at most the window exchange:\n$p")
  }

  test("q365: the benchmark side (with ids and sizes) broadcasts; no cartesian") {
    val p = plan("q365_contamination_provenance")
    assert(p.contains("BroadcastExchange"),
      s"the benchmark-sized sides must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"provenance pairing must stay an equality join:\n$p")
  }

  test("q83: quantization reads only the embedding columns") {
    val p = plan("q83_quantize_embed")
    assert(!p.contains("label"), s"unused label column must not be read:\n$p")
  }

  test("q85: the tiny query set is the broadcast side of the quantized re-rank") {
    val p = plan("q85_knn_quantized")
    // a regression that broadcasts the CODE TABLE instead would still
    // pass the oracle at fixture scale but ship the corpus to every
    // executor at real scale
    assert(p.contains("BroadcastNestedLoopJoin BuildRight"),
      s"query side must be the broadcast build side:\n$p")
  }

  test("q109: PQ encoding is a narrow shuffle-free projection") {
    val p = plan("q109_pq_encode")
    assert(shuffles(p) == 0, s"PQ encode must not shuffle:\n$p")
    assert(!p.contains("label"), s"unused label column must not be read:\n$p")
  }

  test("q110: the query distance tables are the broadcast side of the ADC scan") {
    val p = plan("q110_pq_adc_knn")
    // a regression that broadcasts the CODE TABLE instead would still
    // pass the oracle at fixture scale but ship the whole compressed
    // index to every executor at real scale
    assert(p.contains("BroadcastNestedLoopJoin BuildRight"),
      s"query side must be the broadcast build side:\n$p")
  }

  test("q90: train-order sharding is one exchange, partitioned on shard") {
    // the epoch permutation must never plan as a GLOBAL sort (range
    // exchange + single ordered stream); shards are independent streams
    val p = plan("q90_train_order")
    assert(shuffles(p) == 1, s"one hash exchange on shard:\n$p")
    assert(p.contains("hashpartitioning(shard"),
      s"the exchange must partition on shard:\n$p")
    assert(!p.contains("rangepartitioning"),
      s"global sort must not appear:\n$p")
  }

  test("q88: unigram quality score plans hash joins only; stats broadcast") {
    val p = plan("q88_logfreq_quality")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    // the 1-row total joins via broadcast; the vocab re-join must be a
    // hash join (broadcast or shuffled), never nested-loop on the corpus
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      s"only the 1-row total may nested-loop:\n$p")
  }

  test("q93: the sketch membership filter stays inside whole-stage codegen") {
    // the predicate carries real doGenCode (reference-object kernel); a
    // regression to CodegenFallback would split the corpus-side pipeline
    // into interpreted row-at-a-time segments
    val df = SparkEntry.queries("q93_bloom_decontaminate")(spark, sfDir)
    df.collect() // AQE finalizes codegen wrappers only after execution
    val p = Runner.released(spark)(df.queryExecution.executedPlan.toString)
    assert("\\*\\(\\d+\\) Filter .*might_contain_string".r.findFirstIn(p).isDefined,
      s"sketch filter not in a codegen span:\n$p")
  }

  test("q119: the Bloom key-prune filter stays inside whole-stage codegen on the probe scan") {
    // same reference-object-kernel contract as q93's string predicate; a
    // CodegenFallback regression would interpose an interpreted boundary
    // on the BIG side's scan — exactly where it hurts most at scale
    val df = SparkEntry.queries("q119_bloom_join_prune")(spark, sfDir)
    df.collect() // AQE finalizes codegen wrappers only after execution
    val p = Runner.released(spark)(df.queryExecution.executedPlan.toString)
    assert("\\*\\(\\d+\\) Filter .*might_contain_long".r.findFirstIn(p).isDefined,
      s"Bloom key filter not in a codegen span:\n$p")
  }

  releasedTest("q173/q179/q182/q163: corpus-grain rank/prefix ops plan no single-partition window") {
    // quintiles/deciles run as Quantiles.ntileExact, the Heaps curve as
    // Quantiles.prefixSums, the lag percentiles as withGlobalRank (all:
    // range exchange + pid-partitioned window + broadcast offsets); a
    // regression back to Window.orderBy(...) with no partition key would
    // still pass the oracle at fixture scale but serialize the whole
    // input through one task
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    for (q <- Seq("q173_rfm_segments", "q179_lift_table",
        "q182_heaps_law", "q163_conversion_lag",
        // round 9: the last four corpus-grain rank/prefix/neighbor ops
        // swapped to withGlobalRank (q169), withNextRows (q178),
        // ntileExact + broadcast decile self-join (q180) and
        // prefixSums (q195)
        "q169_gini", "q178_sorted_neighborhood",
        "q180_lorenz_curve", "q195_abc_classes",
        // round 10: the last three entity-grain stragglers — q222/q232
        // deciles swapped to ntileExact, q197's top-(k+1) to
        // orderBy().limit() TakeOrdered (no window at all)
        "q197_hill_tail", "q222_engagement_revenue",
        "q232_quality_dup_rate",
        // round 10: the serving family's rank stages moved to the
        // bounded TopKAgg (q234's shape) — no global-order window even
        // over the post-retrieval candidate sets
        "q208_rrf_hybrid", "q292_retrieve_rerank",
        // round 10: Kaplan-Meier's two running totals through prefixSums
        "q175_kaplan_meier",
        // round-10 additions: q301's rerank window partitions by query,
        // q302 is joins + TakeOrdered, q303 is a pure aggregate fold
        "q301_binary_quant_ann", "q302_salsa", "q303_holt_winters",
        "q306_bq_recall",
        // round 10: q311's greedy MMR steps rank only query-partitioned
        // candidate pools (poolK rows per query)
        "q311_mmr_rerank",
        // round 10: q214's pass-2 candidate-bin rank through
        // withGlobalRank (the bin is corpus-proportional at ~n/1024)
        "q214_binned_median",
        // round 10 continued: q325's prefix windows are QI-group-
        // partitioned; q326's two retrieval passes rank through the
        // bounded TopKAgg — no global-order window anywhere
        "q325_t_closeness", "q326_rocchio_prf",
        // round 11: q333's corpus decile runs through ntileExact (the
        // one rank stage the perplexity gate adds on top of q319's
        // joins); q334 has NO window at all — its per-anchor sort is
        // array_sort over a cap-bounded collected list
        "q333_perplexity_gate", "q334_exact_substrings",
        // round 12: the substring APPLY — q334's pair machinery plus a
        // doc-keyed cut merge and a narrow rebuild; no window anywhere
        "q344_substring_dedup_apply")) {
      val df = SparkEntry.queries(q)(spark, sfDir)
      val phys = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.inputPlan
        case p => p
      }
      // traverse THROUGH persist boundaries: InMemoryTableScanExec is a
      // leaf whose cached subtree would otherwise hide a reintroduced
      // corpus-grain window from this guard (round-10 review finding)
      def unpartitionedWindows(
          p: org.apache.spark.sql.execution.SparkPlan): Seq[WindowExec] =
        p.collect {
          case w: WindowExec if w.partitionSpec.isEmpty => Seq(w)
          case im: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
            unpartitionedWindows(im.relation.cachedPlan match {
              case a: AdaptiveSparkPlanExec => a.inputPlan
              case cp => cp
            })
        }.flatten
      val bad = unpartitionedWindows(phys)
      assert(bad.isEmpty,
        s"$q plans a single-partition window:\n${bad.mkString("\n")}")
      Runner.release(spark)
    }
  }

  test("q289/q290/q312: graph queries plan keyed joins only") {
    // PPR rounds: every join an equi-join (no cross product); the
    // teleport fold is a union+agg, so no join at all on that path.
    // q312: wedge pairs come from the in-place generator, never a
    // neighbor self-JOIN, and the adjacency check is a keyed anti-join
    for (q <- Seq("q289_personalized_pagerank", "q290_covisitation",
        "q312_adamic_adar",
        // round 11: q334's anchor pass, candidate re-join, pairing and
        // left-band lookup are all keyed joins/aggs — never a pair
        // cross product
        "q334_exact_substrings")) {
      val df = SparkEntry.queries(q)(spark, sfDir)
      df.collect()
      val p = Runner.released(spark)(df.queryExecution.executedPlan.toString)
      assert(!p.contains("CartesianProduct"), s"$q plans a cross product")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q plans a nested-loop join")
    }
    // q290's top-5 window must partition by part, never globally
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    val df = SparkEntry.queries("q290_covisitation")(spark, sfDir)
    val phys = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case pp => pp
    }
    val bad = Runner.released(spark) {
      phys.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
    }
    assert(bad.isEmpty, "q290 must not plan a single-partition window")
  }

  test("q366: curriculum position plans no constant-bounded window") {
    // the round-14 weak: position via Window.partitionBy("decile") is a
    // corpus-grain sort whose parallelism is semantically capped at 10.
    // The fix routes the per-decile position through
    // Quantiles.withGlobalRank — a range exchange + a window partitioned
    // ONLY by spark_partition_id (full parallelism) + a 10-row broadcast
    // offset join. Guard both properties: a range exchange exists, and
    // every window (through persist boundaries) partitions on a pid
    // column, never on the data-bounded decile.
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    val df = SparkEntry.queries("q366_curriculum_order")(spark, sfDir)
    val phys = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case pp => pp
    }
    // traverse THROUGH persist boundaries (withGlobalRank persists its
    // range-partitioned base, so both the windows and the range
    // exchange live under InMemoryTableScanExec leaves)
    def subPlans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      p +: p.collect {
        case im: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          subPlans(im.relation.cachedPlan match {
            case a: AdaptiveSparkPlanExec => a.inputPlan
            case cp => cp
          })
      }.flatten
    val plans = subPlans(phys)
    val ws = plans.flatMap(_.collect { case w: WindowExec => w })
    val badPart = ws.filterNot(_.partitionSpec.forall(
      _.references.forall(_.name.endsWith("_pid"))))
    assert(badPart.isEmpty,
      s"q366 windows must partition on pid columns only:\n${badPart.mkString("\n")}")
    val hasRange = Runner.released(spark) {
      plans.map(_.toString).mkString
        .toLowerCase.contains("rangepartitioning")
    }
    assert(hasRange, "q366 must rank through a range exchange")
  }

  test("q369/q372: language HLL and FIM plan join-free; FIM shuffle-free") {
    // q369 must carry the language column THROUGH tokenization — a
    // doc_id join of the token stream back to the doc-grain language
    // table would shuffle every token at corpus scale
    val p369 = plan("q369_hll_per_lang")
    assert(!p369.contains("Join"), s"q369 must not join:\n$p369")
    assert(shuffles(p369) <= 2, s"q369: (lang,j) agg + lang fold only:\n$p369")
    val p372 = plan("q372_fim_plan")
    assert(!p372.contains("Join") && shuffles(p372) == 0,
      s"q372 must be one document-local projection:\n$p372")
  }

  test("q255: the eval set is the broadcast side of the decontamination scan") {
    val p = plan("q255_embed_decontaminate")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"eval side must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), "never a partitioned cross product")
  }

  test("q262: the lineitem cascade plans a semi join, never a full join") {
    val p = plan("q262_forget_audit")
    assert(p.contains("LeftSemi"), s"cascade must stay semi:\n$p")
  }

  test("q254: HITS half-steps plan equi-joins only; renorm scalars broadcast") {
    val df = SparkEntry.queries("q254_hits")(spark, sfDir)
    df.collect()
    val p = Runner.released(spark)(df.queryExecution.executedPlan.toString)
    assert(!p.contains("CartesianProduct"), s"no partitioned cross product:\n$p")
    assert("BroadcastNestedLoopJoin|BroadcastExchange".r.findAllIn(p).size >= 1,
      "the 1-row max tables must broadcast")
  }

  test("every Bench headline name resolves to a registered query") {
    val missing = Bench.Headline.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"Bench would silently skip: $missing")
  }

  test("whole-stage codegen covers the executed pricing-summary stages") {
    val df = SparkEntry.queries("q10_pricing_summary")(spark, sfDir)
    df.collect() // materialize so AQE finalizes stages with codegen wrappers
    // codegen'd spans print with the "*(id)" star prefix in the final plan
    assert("\\*\\(\\d+\\) HashAggregate".r
      .findFirstIn(df.queryExecution.executedPlan.toString).isDefined)
  }
}
