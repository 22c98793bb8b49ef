package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Structural invariants of the round-10 work:
  *   - q290's two top-k strategies (partitioned window vs bounded
  *     TopKAgg) are bit-identical — the measured single-box-vs-cluster
  *     trade is a free choice, not a semantic one;
  *   - the NearDup constants (threshold / shingle width / hash count)
  *     flow verbatim into the oracle SQL — the centralization's one new
  *     failure mode is a constant edited in Scala but not in the oracle
  *     strings;
  *   - AQE's skew-join split actually fires on the HITS half-step and
  *     LPA round join shapes under a Zipfian hub (the SCALE.md claim,
  *     measured rather than argued);
  *   - the batched BPE learner equals the sequential learner on a
  *     distinct-count fixture whose batches actually reach the full
  *     width 8 (the round-9 corpus fixture tied counts and kept
  *     batches narrow);
  *   - the stream-STREAM interval join's recovery (q313), out-of-order
  *     (q316) and compound disorder+restart (q317) gates are bit-equal
  *     to the uninterrupted in-order gate (q310) — the symmetric hash
  *     join's buffered two-sided state round-trips checkpoints and
  *     tolerates bounded disorder without losing or doubling a pair.
  */
class Round10Spec extends AnyFunSuite with SparkTestBase {

  test("q290: window and topk strategies are bit-identical") {
    def rows(strategy: String) = Runner.released(spark) {
      graft.queries.RelationalQueries
        .q290CoVisitation(spark, sfDir, strategy)
        .collect()
        .map(row => (row.getLong(0), row.getLong(1), row.getLong(2), row.getInt(3)))
        .toSet
    }
    val w = rows("window")
    val t = rows("topk")
    assert(w.nonEmpty, "fixture must produce recommendations")
    assert(w == t,
      s"strategies diverged: ${(w -- t).take(3)} only in window, " +
        s"${(t -- w).take(3)} only in topk")
    intercept[IllegalArgumentException] {
      graft.queries.RelationalQueries.q290CoVisitation(spark, sfDir, "bogus")
    }
  }

  test("NearDup constants flow verbatim into the q31/q32/q127 oracle SQL") {
    import graft.operators.NearDup.{NumHashes, ShingleN, Threshold}
    val q31 = SparkEntry.oracleSql("q31_minhash_lsh")
    val q32 = SparkEntry.oracleSql("q32_ngram_jaccard")
    val q127 = SparkEntry.oracleSql("q127_source_overlap")
    assert(q31.contains(s"range(0, $NumHashes)"),
      s"q31 oracle no longer draws $NumHashes minhashes")
    // banded LSH r=2: band index j // 2, row pairing (j, j+1)
    assert(q31.contains("e.j // 2") && q31.contains("o.j = e.j + 1"),
      "q31 oracle band shape drifted from r=2")
    for ((name, sql) <- Seq("q31" -> q31, "q32" -> q32, "q127" -> q127)) {
      assert(sql.contains(s"len(w) >= $ShingleN"),
        s"$name oracle shingle width no longer $ShingleN")
      assert(sql.contains(s"w[i+${ShingleN - 1}]"),
        s"$name oracle shingle concatenation no longer spans $ShingleN tokens")
    }
    for ((name, sql) <- Seq("q32" -> q32, "q127" -> q127))
      assert(sql.contains(s"jaccard >= $Threshold"),
        s"$name oracle threshold no longer $Threshold")
  }

  // --- hub skew on the bounded-round graph join shapes --------------
  //
  // Round 9's SCALE.md ASSERTED the HITS half-step and LPA round joins
  // were AQE-splittable as-is. Measured here: they are NOT —
  // OptimizeSkewedJoin requires BOTH SortMergeJoin children to be bare
  // shuffle stages and bails on plans with more than two shuffle
  // stages, and the score/label side of every propagation round
  // carries its per-round aggregation above the exchange. The first
  // test pins BOTH behaviors (the firing shape and the non-firing
  // shape) so the claim stays measured; the next two prove the
  // explicit relief (Edges.saltedPropagate, CC's recipe) is
  // answer-invariant on the real queries and actually splits the hub
  // load.
  private def withSkewConfs[A](body: => A): A = {
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
      body
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val HubDegree = 20000

  /** Zipfian bipartite fixture: part 0 bought by every customer, parts
    * 1..100 each by two customers — the p-keyed join partition for
    * p = 0 carries the hub degree.
    */
  private def hubEdges(): DataFrame = {
    import spark.implicits._
    val hub = (1 to HubDegree).map(c => (c.toLong, 0L))
    val tail = (1 to 100).flatMap(p => Seq((p.toLong, p.toLong), (p.toLong + 1, p.toLong)))
    (hub ++ tail).toDF("c", "p")
  }

  test("AQE skew ground truth: splits the bare hub join, NOT the aggregated-side shape") {
    import spark.implicits._
    withSkewConfs {
      val edges = hubEdges()
      // shape 1: both join inputs are bare shuffles -> AQE splits
      val bare = (0 to 100).map(p => (p.toLong, 1000000000L)).toDF("p", "a")
      val h1 = edges.join(bare, Seq("p")).groupBy("c").agg(sum(col("a")).as("h"))
      val n1 = h1.collect().length
      val plan1 = Runner.released(spark)(h1.queryExecution.executedPlan.toString)
      assert(n1 == HubDegree)
      assert(plan1.contains("skew=true"),
        s"bare-shuffle hub join must be AQE-split:\n$plan1")
      // shape 2: the score side aggregates above its exchange (every
      // real HITS/LPA round) -> the skew rule cannot fire
      val aggScores = edges.select(col("p")).distinct()
        .select(col("p"), lit(1000000000L).as("a"))
      val h2 = edges.join(aggScores, Seq("p")).groupBy("c").agg(sum(col("a")).as("h"))
      val n2 = h2.collect().length
      val plan2 = Runner.released(spark)(h2.queryExecution.executedPlan.toString)
      assert(n2 == HubDegree)
      assert(!plan2.contains("skew=true"),
        "the aggregated-side join unexpectedly got AQE-split — revisit " +
          "SCALE.md and the saltedPropagate rationale if Spark learned this")
    }
  }

  test("salted HITS: bit-identical top-15 and the hub partition load actually splits") {
    val plain = Runner.released(spark) {
      graft.queries.RelationalQueries.q254Hits(spark, sfDir)
        .collect().map(_.toSeq).toSeq
    }
    val salted = Runner.released(spark) {
      graft.queries.RelationalQueries.q254Hits(spark, sfDir, saltBuckets = 8)
        .collect().map(_.toSeq).toSeq
    }
    assert(plain.nonEmpty && plain == salted,
      "salting changed the HITS authority ranking")
    // partition-load differential on the salted join LAYOUT (DedupSpec's
    // CC idiom): explicit width, else AQE coalesces the fixture exchange
    val edges = hubEdges()
    def maxPartitionRows(d: DataFrame): Long =
      d.groupBy(spark_partition_id()).count()
        .agg(max("count")).collect().head.getLong(0)
    val unsaltedMax = maxPartitionRows(edges.repartition(8, col("p")))
    val saltedMax = Runner.released(spark) {
      maxPartitionRows(
        edges.withColumn("_salt", pmod(hash(col("c")), lit(8)))
          .repartition(8, col("p"), col("_salt")))
    }
    assert(unsaltedMax >= HubDegree,
      s"fixture must concentrate the hub degree unsalted, got $unsaltedMax")
    assert(saltedMax * 2 <= unsaltedMax,
      s"salting must at least halve the hottest partition " +
        s"(unsalted $unsaltedMax, salted $saltedMax)")
  }

  test("salted LPA: bit-identical communities at saltBuckets = 8") {
    val plain = Runner.released(spark) {
      graft.queries.RelationalQueries.q199LabelPropagation(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    }
    val salted = Runner.released(spark) {
      graft.queries.RelationalQueries
        .q199LabelPropagation(spark, sfDir, saltBuckets = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    }
    assert(plain.nonEmpty && plain == salted,
      "salting changed the LPA community histogram")
  }

  /** The uninterrupted in-order HW reference, materialized ONCE (a
    * MemoryStream feed costs seconds) and shared by the three twin
    * pins below — collected rows, since the suite sweeps Spark caches
    * between tests.
    */
  private lazy val hwReference: Set[Seq[Any]] = Runner.released(spark) {
    SparkEntry.queries("q304_stream_holt_winters")(spark, sfDir)
      .collect().map(_.toSeq).toSet
  }

  private def assertHwTwin(q: String, what: String): Unit = {
    val got = Runner.released(spark) {
      SparkEntry.queries(q)(spark, sfDir).collect().map(_.toSeq).toSet
    }
    assert(got == hwReference,
      s"$what diverged: ${(got -- hwReference).take(2)} extra, " +
        s"${(hwReference -- got).take(2)} missing")
  }

  test("q307 == q304: the 4-slot seasonal array survives a checkpoint restart bit-exactly") {
    assertHwTwin("q307_stream_hw_recovery", "Holt-Winters recovery")
  }

  test("q308 == q304: out-of-order delivery folds the seasonal array to the in-order answer") {
    assertHwTwin("q308_stream_hw_ooo", "out-of-order Holt-Winters")
  }

  test("q309 == q304: disorder + restart together are invisible to the seasonal fold") {
    assertHwTwin("q309_stream_hw_ooo_recovery", "compound Holt-Winters gate")
  }

  /** The uninterrupted in-order interval-join reference, materialized
    * once and shared by the join-family twin pins (the hwReference
    * convention).
    */
  private lazy val joinReference: Set[Seq[Any]] = Runner.released(spark) {
    SparkEntry.queries("q310_stream_interval_join")(spark, sfDir)
      .collect().map(_.toSeq).toSet
  }

  private def assertJoinTwin(q: String, what: String): Unit = {
    val got = Runner.released(spark) {
      SparkEntry.queries(q)(spark, sfDir).collect().map(_.toSeq).toSet
    }
    assert(joinReference.nonEmpty, "fixture must produce attributed pairs")
    assert(got == joinReference,
      s"$what diverged: ${(got -- joinReference).take(2)} extra, " +
        s"${(joinReference -- got).take(2)} missing")
  }

  test("q313 == q310: two-sided join state survives a checkpoint restart bit-exactly") {
    assertJoinTwin("q313_stream_interval_join_recovery",
      "restarted interval join")
  }

  test("q316 == q310: out-of-order two-sided delivery joins to the in-order answer") {
    assertJoinTwin("q316_stream_interval_join_ooo",
      "out-of-order interval join")
  }

  test("q317 == q310: disorder + restart together are invisible to the join") {
    assertJoinTwin("q317_stream_interval_join_ooo_recovery",
      "compound interval-join gate")
  }

  test("q315 decomposes exactly: matched rows are q310, null rows are the clickless views") {
    val outer = Runner.released(spark) {
      SparkEntry.queries("q315_stream_interval_join_outer")(spark, sfDir)
        .collect().map(_.toSeq)
    }
    val matched = outer.filter(_(2) != null).toSet
    assert(matched == joinReference,
      "q315's matched rows must BE the inner join's answer")
    // every view appears: matched views + null-row views = all views,
    // and no view is both
    val nullViews = outer.filter(_(2) == null).map(r => (r(0), r(1))).toSet
    val matchedViews = matched.map(r => (r(0), r(1)))
    assert((nullViews & matchedViews).isEmpty,
      "a view cannot be both matched and null-extended")
    // ts is untouched, so the raw parquet read suffices (the nanos
    // conf only matters for schema conversion of the ts column)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val allViews = Runner.released(spark) {
      spark.read.parquet(s"$sfDir/events.parquet")
        .filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id"))
        .collect().map(r => (r.get(0), r.get(1))).toSet
    }
    assert(nullViews ++ matchedViews == allViews,
      "outer join must cover every view exactly once")
  }

  test("adamicAdar: path endpoints predicted at 1/ln(deg), triangles predict nothing") {
    import spark.implicits._
    // path 1-2-3: the only common-neighbor pair is (1,3) through center
    // 2 with deg 2 — aa_fp = round(1e9 / ln 2)
    val path = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val r = Runner.released(spark) {
      graft.operators.Edges.adamicAdar(path)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    }
    assert(r.toSeq == Seq((1L, 3L, 1L, math.round(1.0e9 / math.log(2.0)))),
      s"path prediction wrong: ${r.toSeq}")
    // triangle 1-2-3: every common-neighbor pair is already an edge —
    // the anti-join must leave nothing
    val tri = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("a", "b")
    val t = Runner.released(spark)(graft.operators.Edges.adamicAdar(tri).collect())
    assert(t.isEmpty, s"triangle predicted ${t.length} pairs")
    // star 1-{2,3,4}: three predicted pairs, each 1/ln(3), and the
    // degree-1 leaves contribute no 1/ln(1) divergence
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("a", "b")
    val s = Runner.released(spark) {
      graft.operators.Edges.adamicAdar(star)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(3)))
    }
    val w3 = math.round(1.0e9 / math.log(3.0))
    assert(s.toSet == Set((2L, 3L, w3), (2L, 4L, w3), (3L, 4L, w3)),
      s"star prediction wrong: ${s.toSet}")
  }

  test("greedyMatching: handshake cascade on a path, star matches once, matching stays valid") {
    import spark.implicits._
    // path 1-2-3-4: round 1 matches only (1,2) — node 3 proposes 2,
    // which prefers 1, and 4 proposes 3, which prefers 2 — so (3,4)
    // must wait for round 2's residual. Two rounds, one pair each:
    // the round-2 match EXISTS only because round 1 removed its
    // blockers, the cascade a single-round formulation can't produce.
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val pr = Runner.released(spark) {
      graft.operators.Edges.greedyMatching(path, rounds = 2)
        .map(_.collect().map(x => (x.getLong(0), x.getLong(1))).toSet)
    }
    assert(pr == Seq(Set((1L, 2L)), Set((3L, 4L))),
      s"path handshake wrong: $pr")
    // star 1-{2,3,4}: only (1,2) is mutual, and the residual is
    // edgeless — leaves 3 and 4 stay unmatched forever (a matching
    // can't pair them), so round 2 must be empty
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("a", "b")
    val sr = Runner.released(spark) {
      graft.operators.Edges.greedyMatching(star, rounds = 2)
        .map(_.collect().map(x => (x.getLong(0), x.getLong(1))).toSet)
    }
    assert(sr == Seq(Set((1L, 2L)), Set.empty),
      s"star handshake wrong: $sr")
    // corpus fixture: the union over rounds is a VALID matching —
    // no node appears twice across all matched pairs
    val e0 = graft.operators.Edges.coPurchase(spark, sfDir)
    val all = Runner.released(spark) {
      graft.operators.Edges.greedyMatching(e0, rounds = 3)
        .flatMap(_.collect().map(x => (x.getLong(0), x.getLong(1))))
    }
    val nodes = all.flatMap(p => Seq(p._1, p._2))
    assert(nodes.distinct.length == nodes.length,
      "matched pairs share a node — not a matching")
    assert(all.nonEmpty, "fixture graph matched nothing")
  }

  test("q330/q332: the one-match invariants hold (one rotation per probe, one interval per draw)") {
    // q330's no-dedup claim: a word matches a probed pattern through
    // EXACTLY one rotation (the $ sits at a fixed offset), so the
    // result must be duplicate-free at (pattern, word) grain
    val wc = Runner.released(spark) {
      graft.queries.SearchQueries
        .q330WildcardSearch(spark, sfDir).collect()
        .map(r => (r.getString(0), r.getString(1)))
    }
    assert(wc.nonEmpty && wc.distinct.length == wc.length,
      s"permuterm probe emitted a duplicate (pattern, word): ${wc.length} rows")
    // q332's partition claim: [0, W) is covered by the vocab intervals
    // exactly once, so every (pair, draw) resolves to EXACTLY one
    // negative — a drifted bucket step (grid built with one step,
    // probes with another) would silently DROP draws and break this
    val ns = Runner.released(spark) {
      graft.queries.TextQueries
        .queries("q332_negative_sampling")(spark, sfDir).collect()
    }
    val keys = ns.map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    assert(keys.distinct.length == keys.length,
      "a draw resolved to more than one negative (overlapping intervals)")
    val pairs = keys.map(k => (k._1, k._2)).distinct.length
    assert(keys.length == 2 * pairs,
      s"expected 2 draws per pair: ${keys.length} rows for $pairs pairs " +
        "(a dropped draw means the bucket grid missed its interval)")
  }

  test("q331's walks are real paths: every consecutive step is an edge") {
    // the hash-argmin transition must only ever move along edges —
    // a wrong join key (e.g. joining on the walk seed instead of the
    // current node) would still produce deterministic output and could
    // pass a careless oracle edit; pin the graph-validity invariant
    val ew = graft.operators.Edges.coPurchaseUndirected(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val walks = Runner.released(spark) {
      graft.queries.RelationalQueries
        .q331RandomWalks(spark, sfDir).collect()
    }
    assert(walks.length == 50, s"expected 50 walks, got ${walks.length}")
    walks.foreach { r =>
      val hops = r.getString(1).split(">").map(_.toLong)
      assert(hops.length == 5, s"walk ${r.getLong(0)} has ${hops.length} nodes")
      assert(hops.head == r.getLong(0), "path must start at the seed")
      assert(hops.last == r.getLong(2), "end_node must close the path")
      hops.sliding(2).foreach { case Array(x, y) =>
        assert(ew((x, y)), s"walk ${r.getLong(0)} uses non-edge ($x,$y)")
      }
    }
  }

  test("q329's greedy subsequence containment equals the naive positional triple join") {
    // the scaling claim rests on a correctness claim: greedy earliest
    // matching finds (a,b,c) iff SOME position triple i<j<k matches it.
    // Prove it on a fixture slice against the O(n^3) formulation the
    // production plan must never run.
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val pos = spark.read.parquet(s"$sfDir/events.parquet")
      .filter(col("user_id") < 15)
      .select(col("user_id"), col("event_type"), row_number().over(w).as("p"))
      .persist()
    val naive = pos.as("a")
      .join(pos.as("b"), col("a.user_id") === col("b.user_id")
        && col("a.p") < col("b.p"))
      .join(pos.as("c"), col("a.user_id") === col("c.user_id")
        && col("b.p") < col("c.p"))
      .select(col("a.user_id"), col("a.event_type").as("e1"),
        col("b.event_type").as("e2"), col("c.event_type").as("e3"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
      .toSet
    val fa = pos.groupBy(col("user_id"), col("event_type").as("e1"))
      .agg(min(col("p")).as("pa"))
    val fb = pos.join(fa, Seq("user_id")).filter(col("p") > col("pa"))
      .groupBy(col("user_id"), col("e1"), col("event_type").as("e2"))
      .agg(min(col("p")).as("pb"))
    val greedy = Runner.released(spark) {
      pos.join(fb, Seq("user_id")).filter(col("p") > col("pb"))
        .select(col("user_id"), col("e1"), col("e2"), col("event_type").as("e3"))
        .distinct().collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
        .toSet
    }
    assert(naive.nonEmpty, "slice produced no triples — vacuous")
    assert(naive == greedy,
      s"greedy/naive diverge: ${(naive -- greedy).take(3)} vs ${(greedy -- naive).take(3)}")
  }

  test("bm25Dynamic equals the static bm25 on the same term set, bit for bit") {
    // the PRF pass-2 scorer must be the SAME scoring function as q9's
    // static path — only the term delivery differs (broadcast DataFrame
    // vs pivoted literals). Any drift here silently re-scores q326.
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val terms = Seq("hash", "join", "scan")
    val stat = Runner.released(spark) {
      graft.operators.Ranking
        .bm25(docs, "text", "doc_id", terms).collect()
        .map(_.toString).toSet
    }
    val dyn = Runner.released(spark) {
      graft.operators.Ranking
        .bm25Dynamic(docs, "text", "doc_id", terms.toDF("word")).collect()
        .map(_.toString).toSet
    }
    assert(stat == dyn,
      s"dynamic/static bm25 diverge: ${(stat -- dyn).take(3)} vs ${(dyn -- stat).take(3)}")
  }

  test("facilityLocationSelect: gains diminish, coverage is monotone, selection is distinct") {
    // submodularity made measurable: the greedy's marginal gains must
    // be non-increasing and the coverage curve non-decreasing — a
    // violated curve means the coverage merge or the exclusion
    // anti-join regressed (e.g. a re-admitted winner double-counts)
    val r = Runner.released(spark) {
      graft.queries.SimilarityQueries
        .q328CoresetSelect(spark, sfDir).collect()
        .sortBy(_.getInt(0))
        .map(x => (x.getInt(0), x.getLong(1), x.getDouble(2), x.getDouble(3)))
    }
    assert(r.length == 4, s"expected 4 steps: ${r.toSeq}")
    assert(r.map(_._2).distinct.length == 4, "a winner was re-admitted")
    val gains = r.map(_._3)
    assert(gains.zip(gains.tail).forall { case (a, b) => a >= b },
      s"gains must be non-increasing: ${gains.toSeq}")
    val cov = r.map(_._4)
    assert(cov.zip(cov.tail).forall { case (a, b) => a <= b },
      s"coverage must be non-decreasing: ${cov.toSeq}")
    // the curve ties out: each step's coverage is the previous plus
    // exactly its reported gain (same fixed-point units)
    val ok = (1 until 4).forall { i =>
      math.abs((cov(i) - cov(i - 1)) - gains(i)) < 1e-9 }
    assert(ok, s"coverage deltas must equal gains: cov=${cov.toSeq} gains=${gains.toSeq}")
  }

  test("maximalIndependentSet: Luby rounds on hand graphs, independence on the fixture") {
    import spark.implicits._
    // path 1-2-3-4: round 1 admits only node 1 (everyone else has a
    // smaller neighbor); removing {1,2} leaves edge (3,4), so round 2
    // admits 3 — the residual cascade
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val pr = Runner.released(spark) {
      graft.operators.Edges.maximalIndependentSet(path, rounds = 3)
        .map(_.collect().map(_.getLong(0)).toSet)
    }
    assert(pr == Seq(Set(1L), Set(3L), Set.empty),
      s"path MIS rounds wrong: $pr")
    // inverted star {2,3,4}-9: ALL leaves beat the center and enter in
    // ONE round — the parallel-admission case (an edge handshake can
    // only take one of them per round)
    val star = Seq((2L, 9L), (3L, 9L), (4L, 9L)).toDF("a", "b")
    val sr = Runner.released(spark) {
      graft.operators.Edges.maximalIndependentSet(star, rounds = 2)
        .map(_.collect().map(_.getLong(0)).toSet)
    }
    assert(sr == Seq(Set(2L, 3L, 4L), Set.empty),
      s"star MIS rounds wrong: $sr")
    // corpus fixture: the union over rounds is INDEPENDENT (no edge
    // has both endpoints admitted) and rounds are disjoint
    val e0 = graft.operators.Edges.coPurchase(spark, sfDir).persist()
    val rounds = graft.operators.Edges.maximalIndependentSet(e0, rounds = 3)
      .map(_.collect().map(_.getLong(0)).toSet)
    val mis = rounds.reduce(_ ++ _)
    assert(rounds.map(_.size).sum == mis.size, "rounds re-admit a node")
    val violating = Runner.released(spark) {
      e0.collect()
        .count(r => mis(r.getLong(0)) && mis(r.getLong(1)))
    }
    assert(violating == 0, s"$violating edges inside the MIS")
    assert(mis.nonEmpty, "fixture graph admitted nothing")
  }

  test("shortestPaths: delta-frontier equals relax-everything, exact on a hand graph") {
    import spark.implicits._
    // weighted digraph with a shortcut discovered LATE: the direct
    // 1->4 edge (50) is beaten in round 3 by 1->2->3->4 (30), and the
    // improvement must re-open 4's out-edge so round 4 pulls d(5) from
    // 51 down to 31 — the case where a frontier that failed to re-admit
    // an improved node would freeze a stale distance
    val e = Seq((1L, 2L, 10L), (2L, 3L, 10L), (3L, 4L, 10L),
      (1L, 4L, 50L), (4L, 5L, 1L)).toDF("a", "b", "w")
    val seeds = Seq((1L, 0L)).toDF("node", "dist")
    val want = Set((1L, 0L), (2L, 10L), (3L, 20L), (4L, 30L), (5L, 31L))
    for (delta <- Seq(true, false)) {
      val got = Runner.released(spark) {
        graft.operators.Edges.shortestPaths(e, seeds, 4, delta)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      assert(got == want, s"deltaFrontier=$delta: $got")
    }
    // and on the corpus graph: the full reached (node, dist) set of the
    // q320 shape is bit-identical between the two relaxation schemes
    val ew = graft.operators.Edges.coPurchaseWeighted(spark, sfDir).persist()
    val s3 = ew.select(col("a").as("node")).distinct()
      .orderBy(col("node")).limit(3).withColumn("dist", lit(0L))
    val byScheme = Runner.released(spark) {
      Seq(true, false).map { delta =>
        graft.operators.Edges.shortestPaths(ew, s3, 4, delta)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
    }
    assert(byScheme(0) == byScheme(1),
      s"corpus schemes differ: ${byScheme(0).size} vs ${byScheme(1).size} rows")
    assert(byScheme(0).nonEmpty)
  }

  test("ktruss: the peel cascades — a removal starves its neighbor edges next round") {
    import spark.implicits._
    // two triangles sharing edge (2,3): supports are (2,3)=2 and 1 for
    // the four outer edges. k=4 (support >= 2) removes the outer edges
    // in round 1, which starves (2,3) of BOTH its triangles, so round 2
    // removes it too — the fixture's k=3 converges in one round and
    // cannot exercise this two-step cascade
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L)).toDF("a", "b")
    val rounds = graft.operators.Edges.ktruss(e, k = 4, rounds = 2)
    val sizes = rounds.map(_.count())
    val survivors = Runner.released(spark) {
      rounds(1).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(sizes == Seq(5L, 1L, 0L), s"peel sizes: $sizes")
    assert(survivors == Set((2L, 3L)), s"round-1 survivor: $survivors")
    // k=3 on the same graph is already a 3-truss: nothing peels
    val stable = Runner.released(spark) {
      graft.operators.Edges.ktruss(e, k = 3, rounds = 2).map(_.count())
    }
    assert(stable == Seq(5L, 5L, 5L), s"k=3 must be stable: $stable")
  }

  test("q311 step 1 is q40-exact relevance: the greedy loop starts from rank 1") {
    val mmrFirst = Runner.released(spark) {
      SparkEntry.queries("q311_mmr_rerank")(spark, sfDir)
        .filter(col("step") === 1)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    }
    val knnTop = Runner.released(spark) {
      SparkEntry.queries("q40_knn_brute")(spark, sfDir)
        .filter(col("rank") === 1)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    }
    assert(mmrFirst.nonEmpty && mmrFirst == knnTop,
      s"MMR step 1 diverged from exact rank 1: $mmrFirst vs $knnTop")
  }

  test("batched BPE == sequential on a distinct-count fixture reaching width 8") {
    import spark.implicits._
    // 24 two-char words over a 48-letter alphabet, strictly decreasing
    // frequencies: every super-round's accepted prefix is symbol-
    // disjoint with a strict count gap, so batches fill to maxBatch
    val alphabet = (('a' to 'z') ++ ('A' to 'Z')).map(_.toString)
    val words = (0 until 24)
      .map(i => (alphabet(2 * i) + alphabet(2 * i + 1), 1000L - i))
      .toDF("word", "freq")
    val (seqMerges, _) = Runner.released(spark) {
      graft.queries.TextQueries.bpeRoundsFromWords(words, 20)
    }
    val (batMerges, batches) = Runner.released(spark)(
      graft.queries.TextQueries.bpeRoundsBatchedFromWords(words, 20, 8))
    assert(batMerges == seqMerges,
      "wide-batch learner diverged from the sequential merge log")
    assert(batches.sum == 20)
    assert(batches.max == 8,
      s"fixture must fill a super-round to width 8, got $batches")
    assert(batches.length <= 3, s"expected ~3 super-rounds, got $batches")
  }
}
