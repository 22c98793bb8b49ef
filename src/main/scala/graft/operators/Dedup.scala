package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Corpus deduplication operators for training-data pipelines: exact
  * (hash-groupBy), MinHash+LSH, n-gram Jaccard, SimHash. Extended surface
  * (no analog in the reference, which only dedups (word, doc) pairs —
  * `/root/reference/src/functions.cpp:86`).
  *
  * Scale design, common to all of them:
  *   - candidate generation is always a *key-equality join* (LSH band
  *     value, shared shingle, SimHash band) — never a cross join, so the
  *     shuffle is on a high-cardinality key and AQE handles skew;
  *   - per-document state (shingle sets, signatures) is built with array
  *     expressions inside one narrow projection — no extra shuffle;
  *   - verification (exact Jaccard) runs only on the candidate set.
  */
object Dedup {

  /** (id, shingle set). The word array is materialized into its own
    * projection first: `shingles` references it O(n) times via
    * `element_at`, and an inlined `wordsArr` expression would be
    * re-evaluated (regex included) on every access — higher-order-function
    * lambdas defeat common-subexpression elimination.
    */
  private def withShingles(docs: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    docs
      .select(col(idCol), wordsArr(col(textCol)).as("w"))
      .select(col(idCol), array_distinct(shingles(col("w"), n)).as("sh_set"))

  /** Distinct (id, shingle) pairs via the native
    * [[graft.functions.WordNgrams]] Generator — one byte pass per
    * document with in-generator dedup, replacing the interpreted
    * higher-order-function chain (split→transform→filter→shingle→
    * distinct→explode).
    *
    * ASCII contract: lowercasing is byte-wise, so the two exotic Unicode
    * one-to-ASCII lowercase mappings (U+0130, U+212A) are dropped rather
    * than folded; identical to the column formulation on all ASCII and
    * all ordinary multi-byte input.
    */
  def shinglePairs(docs: DataFrame, textCol: String, idCol: String, n: Int = 3): DataFrame =
    docs.select(col(idCol), graft.functions.WordNgrams(col(textCol), n).as("sh"))

  /** Bloom sketch of a shingle column — THE sketch parameters
    * (exact-count integer sizing, 29 bits/item · k=20 ≈ 1e-6 fpp) for
    * BOTH batch q93 and streaming decontamination, kept in one place so
    * the two paths can never drift apart. The hash is md5-derived
    * ([[graft.functions.Md5BloomSketch]]) so every membership DECISION
    * is replayable by an independent SQL engine — the round-13 Murmur3
    * sketch was the one sketch whose decisions could not be oracle-
    * checked. Build: two benchmark-sized actions (count + a
    * treeAggregate that ORs per-partition bit arrays — the same
    * distributed shape `stat.bloomFilter` runs internally); the input
    * is persisted for their duration.
    */
  def shingleSketch(shingles: DataFrame, colName: String = "sh")
      : graft.functions.Md5BloomSketch = {
    import graft.functions.Md5BloomSketch
    // Distinct ENFORCED here, not assumed of callers (ADVICE r14): the
    // modulus m = 29·n is part of the cross-engine contract (the oracle
    // re-derives it from count(DISTINCT sh)), so a duplicate-bearing
    // count would silently hand the engines different moduli — same
    // recall, divergent ~1e-6 false-positive sets, and the streaming
    // benchmarkSketch path has no oracle to catch it. For an
    // already-distinct input the extra dropDuplicates is one
    // benchmark-sized exchange folded into the build's two actions.
    val s = shingles.select(col(colName)).dropDuplicates(colName).persist()
    try {
      val m = Md5BloomSketch.mBitsFor(s.count())
      val k = Md5BloomSketch.K
      // The bit array is one JVM byte[]: the real cap is ~1.7e10 bits
      // (~590M items at 29 bits each), far below the 52-bit position
      // range — fail loudly instead of wrapping the Int cast. Beyond
      // this, shard the benchmark into multiple sketches.
      require(m <= 8L * (Int.MaxValue - 8L),
        s"shingleSketch: $m bits exceeds one JVM array (~590M items); shard the benchmark")
      val nBytes = ((m + 7L) / 8L).toInt
      val bits = s.select(col(colName)).na.drop().rdd
        .treeAggregate(new Array[Byte](nBytes))(
          (acc, row) => { Md5BloomSketch.add(acc, row.getString(0), m, k); acc },
          (a, b) => {
            var i = 0
            while (i < a.length) { a(i) = (a(i) | b(i)).toByte; i += 1 }
            a
          })
      Md5BloomSketch(bits, m, k)
    } finally { s.unpersist(); () }
  }

  /** MinHash + banded LSH candidates straight from the long-format
    * shingle table — the scale path used by q31: ONE aggregation computes
    * every signature slot as a column (map-side combinable, no row
    * explosion), bands pair consecutive slots (r=2) in a narrow
    * projection over the wide signature row, and the candidate join is on
    * (band, digest). An earlier long-format plan (explode ×numHashes →
    * groupBy(id, seed) → second groupBy(id, band)) shuffled numHashes×
    * the shingle table and shuffled again for banding; this shape
    * shuffles the shingle table once and derives bands for free.
    *
    * Hashing cost: slot j is 8 hex chars (32 bits) SLICED out of one
    * digest per 4 slots (extra blocks seeded "<k>|" — see
    * [[graft.functions.TextFunctions.minhash]]), so the default 8-hash
    * signature computes TWO md5s per (doc, shingle) row where the
    * seed-per-slot formulation computed eight. At 100 TB the digest work
    * on this aggregation's map side dominates the whole near-dup pass, so
    * this is a 4× cut of the dominant stage. Slot width is 32 bits, not
    * 16: a 16-bit slot minimum concentrates near 0 once a document has
    * ~2^16 shingles, inflating band-digest collisions between unrelated
    * large documents; 32-bit slots keep the collision bias negligible up
    * to ~4B shingles per document. Results are identical to
    * [[minhashSignatures]]+[[lshCandidates]] with rowsPerBand=2.
    */
  def minhashLshCandidates(
      shingles: DataFrame, idCol: String, numHashes: Int): DataFrame = {
    require(numHashes % 2 == 0, "r=2 banding needs an even hash count")
    val blocks = (numHashes + 3) / 4
    val withH = shingles.select(
      col(idCol) +: (0 until blocks).map { bk =>
        (if (bk == 0) md5(col("sh")) else md5(concat(lit(s"$bk|"), col("sh")))).as(s"h$bk")
      }: _*)
    val sigCols = (0 until numHashes).map { j =>
      min(substring(col(s"h${j / 4}"), (j % 4) * 8 + 1, 8)).as(s"mh$j")
    }
    val mh = withH.groupBy(col(idCol)).agg(sigCols.head, sigCols.tail: _*)
    val bandCols = (0 until numHashes / 2).map { b =>
      struct(
        lit(b).as("band"),
        md5(concat_ws("|", col(s"mh${2 * b}"), col(s"mh${2 * b + 1}"))).as("digest"))
    }
    // ONE band-keyed exchange instead of the r16 persist: the self-join's
    // two sides raced the cold cache (two concurrent signature-agg
    // builds); ending the band build in the exchange the join needs
    // anyway runs the aggregation once as the shuffle's map side and
    // delivers both sides co-partitioned on (band, digest).
    val bands = mh
      .select(col(idCol), explode(array(bandCols: _*)).as("bd"))
      .select(col(idCol), col("bd.band").as("band"), col("bd.digest").as("digest"))
      .repartition(col("band"), col("digest"))
    val a = bands.select(col(idCol).as("id_a"), col("band"), col("digest"))
    val b = bands.select(col(idCol).as("id_b"), col("band"), col("digest"))
    a.join(b, Seq("band", "digest"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** Exact dedup: group documents by the md5 of their whitespace-normalized
    * text; one row per distinct content with the keeper (min id) and copy
    * count. Scale: one hash-partitioned aggregation on the 128-bit
    * fingerprint — the canonical 100 TB exact-dedup plan.
    */
  def exact(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .select(col(idCol), md5(normText(col(textCol))).as("fp"))
      .groupBy("fp")
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_copies"))

  /** MinHash signatures: `numHashes` md5-minima per document over its
    * shingle set, as one array column `sig`.
    */
  def minhashSignatures(
      docs: DataFrame, textCol: String, idCol: String,
      numHashes: Int, shingleN: Int = 3): DataFrame =
    withShingles(docs, textCol, idCol, shingleN)
      .select(
        col(idCol),
        array((0 until numHashes).map(j => minhash(col("sh_set"), j)): _*).as("sig"))

  /** LSH candidate pairs (idA < idB): documents whose signatures agree on
    * at least one band of `rowsPerBand` consecutive hashes. The join key is
    * (band index, band digest) — pure equality, shuffle-partitioned, no
    * cross product anywhere.
    */
  def lshCandidates(signatures: DataFrame, idCol: String, rowsPerBand: Int): DataFrame = {
    val bands = signatures.select(
      col(idCol),
      posexplode(
        transform(
          sequence(lit(0), (size(col("sig")) / rowsPerBand).cast("int") - 1),
          b => md5(concat_ws("|", (0 until rowsPerBand).map(r =>
            element_at(col("sig"), b * rowsPerBand + r + 1)): _*))))
        .as(Seq("band", "digest")))
    val a = bands.select(col(idCol).as("id_a"), col("band"), col("digest"))
    val b = bands.select(col(idCol).as("id_b"), col("band"), col("digest"))
    a.join(b, Seq("band", "digest"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** Exact Jaccard for a (small, LSH-pruned) set of candidate pairs:
    * |A∩B| via joining the candidates to both shingle sets. Correct join
    * order depends on candidate volume — this candidate-first shape is
    * right when LSH prunes hard (its contract with rowsPerBand >= 2);
    * [[ngramJaccard]] uses the self-join-first shape for the exhaustive
    * case. Emits (id_a, id_b, jaccard) rounded to 6dp.
    */
  def jaccardVerify(
      candidates: DataFrame,
      shingles: DataFrame, // (id, sh) distinct
      idCol: String): DataFrame = {
    val sizes = shingles.groupBy(col(idCol).as("id")).agg(count(lit(1)).as("n"))
    val s1 = shingles.select(col(idCol).as("id_a"), col("sh"))
    val s2 = shingles.select(col(idCol).as("id_b"), col("sh"))
    candidates
      .join(s1, "id_a").join(s2, Seq("id_b", "sh"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "na"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "nb"), "id_b")
      .select(
        col("id_a"), col("id_b"),
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 6)
          .as("jaccard"))
  }

  /** All-pairs n-gram Jaccard above a threshold, candidate-generated by the
    * shared-shingle equi-join (any pair with J > 0 shares a shingle, so
    * this is exact, not approximate). Scale guard: `maxShingleDf` drops
    * shingles occurring in more than that many documents BEFORE the
    * self-join (stop-shingle removal) — the per-shingle fan-out is
    * C(df, 2), so one boilerplate shingle shared by 1M docs would emit
    * 5·10^11 candidate rows. With a cap the result is exact over the
    * retained shingle sets (sizes are computed post-cap on both sides of
    * the ratio); pairs sharing ONLY ultra-common shingles are dropped —
    * the standard corpus-dedup trade. NOTE the score under a cap is
    * Jaccard over the RETAINED shingle sets, not true Jaccard: sizes are
    * computed post-cap, so the denominator shrinks too, and a pair can
    * score ABOVE a threshold its true Jaccard is below (promotion, not
    * just lost recall). Compute sizes pre-cap if subset semantics are
    * wanted; the retained-set score is what near-dup pipelines normally
    * use (boilerplate should not count toward similarity either way).
    */
  def ngramJaccard(
      docs: DataFrame, textCol: String, idCol: String,
      threshold: Double, shingleN: Int = 3,
      maxShingleDf: Option[Int] = None): DataFrame = {
    // ONE shuffle by shingle replaces the persist (r17, VERDICT item 6):
    // the persisted table was referenced three times (both self-join
    // sides + sizes), and at action start all three leaf stages raced
    // the COLD cache — three concurrent executions of the whole shingle
    // generator (measured on q38: 3 × ~2 s-CPU duplicate stages).
    // Ending the build in a shingle-keyed exchange instead makes the
    // generator run exactly once as the shuffle's map side; every
    // consumer reads the same shuffle files (ReusedExchange — a
    // physical-plan guarantee, not a cache race), and the self-join
    // arrives co-partitioned on sh, so the two per-side join exchanges
    // of the full shingle stream are gone too (guide §2.3/§2.4: this
    // exchange IS the join pre-partitioning).
    val shAll = shinglePairs(docs, textCol, idCol, shingleN)
    val shP = shAll.repartition(col("sh"))
    val sh = maxShingleDf.fold(shP) { cap =>
      // co-partitioned on sh already: the cap agg and its semi-join add
      // no exchange of the shingle stream
      val keep = shP.groupBy("sh").agg(count(lit(1)).as("df"))
        .filter(col("df") <= cap).select("sh")
      shP.join(keep, Seq("sh"), "left_semi")
    }
    val sizes = sh.groupBy(col(idCol).as("id")).agg(count(lit(1)).as("n"))
    // one self-join pass: per-shingle fan-out is C(df, 2), aggregated
    // straight into shared-shingle counts — no separate candidate stage
    sh.select(col(idCol).as("id_a"), col("sh"))
      .join(sh.select(col(idCol).as("id_b"), col("sh")), Seq("sh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "na"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "nb"), "id_b")
      .select(
        col("id_a"), col("id_b"),
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Prefix-filtered exact-Jaccard join (the PPJoin/AllPairs family):
    * same answer as [[ngramJaccard]] at the same threshold, but candidate
    * pairs come only from each document's PREFIX — its
    * `n − ⌈τ·n⌉ + 1` rarest shingles under one global total order
    * (document frequency ascending, shingle ascending as the
    * tie-break). The pigeonhole guarantee: any pair with
    * `J ≥ τ` has overlap `o ≥ ⌈τ·max(|a|,|b|)⌉` (since `o ≤ min(|a|,|b|)`),
    * so skipping the last `⌈τ·n⌉ − 1` elements of each set under a SHARED
    * order cannot skip every shared element — every qualifying pair
    * collides on at least one prefix shingle. Exact verification then
    * removes false candidates, so the operator is semantics-neutral
    * (spec-pinned equal to the naive formulation; the oracle IS the naive
    * formulation).
    *
    * Scale: the candidate self-join touches `C(prefix-df, 2)` per shingle
    * instead of `C(df, 2)` — and because prefixes keep the RAREST
    * shingles, prefix-df is small exactly where df is large (at τ=0.5
    * each side drops half its set, and the dropped half is the
    * high-df half). Prefix ranks come from ONE exchange: a window
    * partitioned by document computes rank and set size together,
    * per-partition state bounded by document length. Verification joins
    * the (tiny) candidate table to the shingle table on
    * (id, shingle) — cost ∝ |candidates| × doc size, never corpus².
    */
  def prefixFilterJaccard(
      docs: DataFrame, textCol: String, idCol: String,
      threshold: Double, shingleN: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = shinglePairs(docs, textCol, idCol, shingleN).persist()
    // global rarity order: df per shingle is vocabulary-sized → broadcast
    val df = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("df"), col("sh"))
    val ranked = sh.join(broadcast(df), "sh")
      .select(col(idCol), col("sh"),
        row_number().over(w).as("rk"),
        count(lit(1)).over(Window.partitionBy(col(idCol))).as("n"))
    val prefix = ranked
      .filter(col("rk") <= col("n") - ceil(lit(threshold) * col("n")) + 1)
      .select(col(idCol), col("sh"))
    val cand = prefix.select(col(idCol).as("id_a"), col("sh"))
      .join(prefix.select(col(idCol).as("id_b"), col("sh")), Seq("sh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct().persist()
    val sizes = sh.groupBy(col(idCol).as("id")).agg(count(lit(1)).as("n"))
    // verify: fan each candidate pair over a's shingles, probe b's
    // (id, shingle) pairs — intersection counts without a corpus self-join
    val inter = sh.select(col(idCol).as("id_a"), col("sh"))
      .join(cand, "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("sh")), Seq("id_b", "sh"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "na"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "nb"), "id_b")
      .select(
        col("id_a"), col("id_b"),
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** End-to-end near-dup removal: keep only each cluster's keeper (the
    * MINIMUM id = the component label) plus every document in no cluster
    * at all. Composition of [[connectedComponents]] with a left-anti
    * join: drop rows whose id appears in the label table with a label
    * other than itself. The anti-join's right side is the (tiny relative
    * to the corpus) near-dup node set.
    */
  def keepClusterKeepers(
      docs: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val losers = connectedComponents(pairs)
      .filter(col("id") =!= col("comp"))
      .select(col("id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Dedup with REWEIGHTING: one keeper per near-dup cluster (the
    * min-id member, as [[keepClusterKeepers]]) carrying the cluster
    * SIZE as a training weight; unclustered documents keep weight 1.
    * The standard dedup-then-reweight recipe — dropping duplicates
    * shifts the training distribution away from naturally-popular
    * content, and the carried weight lets the trainer (or a downstream
    * sampler) restore that mass without re-reading duplicate bytes.
    * Invariant (spec-pinned): Σ weight == |docs|, and the kept id set
    * is exactly [[keepClusterKeepers]]'s. Scale shape: CC labels are
    * node-set-sized (tiny vs the corpus); the weight lookup and the
    * loser drop are joins against that small side.
    */
  def clusterWeights(docs: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val labels = connectedComponents(pairs)
    val sizes = labels.groupBy("comp").agg(count(lit(1)).as("weight"))
    val keepers = labels.filter(col("id") === col("comp"))
      .join(sizes, "comp").select(col("id").as(idCol), col("weight"))
    val losers = labels.filter(col("id") =!= col("comp")).select(col("id").as(idCol))
    docs.select(col(idCol))
      .join(losers, Seq(idCol), "left_anti")
      .join(keepers, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("weight"), lit(1L)).as("weight"))
  }

  /** Connected components over an undirected near-duplicate pair graph
    * (`id_a`, `id_b`): label every member with the MINIMUM id reachable
    * from it — the cluster formation step that turns candidate pairs
    * into dedup groups (keep one doc per component). Deterministic.
    *
    * Algorithm: iterative min-label propagation (each round every node
    * takes the min of its own and its neighbors' labels), the standard
    * large-scale CC formulation when no graph library is present —
    * converges within the component diameter, checked per round with an
    * early exit. The driver-side loop is coordination only (one count
    * per round); all data movement is hash equi-joins on node ids.
    * Iteration count for a D-diameter graph is O(D) — near-dup clusters
    * are shallow in practice (they are quasi-cliques). If the label set
    * is still changing after `maxIter` rounds the method THROWS rather
    * than silently returning partially-propagated (wrong) labels.
    *
    * Each round's labels are one [[Rounds]] checkpoint, observed for
    * `n_changed`; the returned labels' checkpoint passes to the caller.
    *
    * INPUT CONTRACT: pass a DEDUPED pair table. Labels are identical
    * either way (every aggregation in the loop is a duplicate-
    * insensitive MIN), but the edges are NOT re-deduped here (r16
    * optimization — one full pair-stream exchange removed), so the
    * eagerly materialized edge checkpoint and every per-round join
    * scale with the input's duplicate multiplicity. All in-repo
    * callers pass unique (id_a < id_b) pairs; an external caller with
    * a duplicate-heavy pair stream should `.distinct()` it first.
    */
  def connectedComponents(
      pairs: DataFrame, maxIter: Int = 50, saltBuckets: Int = 1): DataFrame = {
    require(saltBuckets >= 1, "saltBuckets must be >= 1")
    Rounds("connectedComponents", maxIter) { rs =>
      // SKEW PATH (saltBuckets > 1): both per-round joins key on columns
      // whose load is proportional to graph structure — the neighborMin
      // join on dst concentrates a hub's whole degree in one partition,
      // and the pointer-jump join on comp concentrates a GIANT COMPONENT's
      // whole membership on its one min-id label (the worse of the two
      // once components coalesce). Salting splits each hot key S ways:
      // the big (edge / node) side carries salt = hash(src|id) mod S and
      // the small lookup side replicates xS — per-round lookup-side cost
      // grows x S (node-table-sized), per-partition hot-key load drops /S.
      // Pick S from the degree profile (q268); AQE skew splitting cannot
      // help here because the big side is deliberately pre-partitioned +
      // checkpointed, so the per-round joins see no fresh shuffle to
      // re-split. Labels are salt-invariant (DedupSpec pins hub-fixture
      // equality), so the default S=1 keeps every existing plan unchanged.
      val salted = saltBuckets > 1
      // pre-partitioned on the per-round join key (dst [, salt]) BEFORE
      // the one-time checkpoint: every propagation round joins
      // edges⋈labels on it, and the edge table is the big side at scale —
      // shuffling it once here instead of once per round removes the
      // dominant per-round exchange (the checkpointed LogicalRDD
      // preserves the hash partitioning)
      // no distinct: see the input contract above
      // symmetrize with ONE pass over the pair pipeline (explode, not
      // union): a union's two legs would each re-execute the (possibly
      // expensive — ngramJaccard for the near-dup callers) pairs subtree.
      val edges0 = pairs
        .select(explode(array(
          struct(col("id_a").as("src"), col("id_b").as("dst")),
          struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .withColumn("salt",
          if (salted) pmod(hash(col("src")), lit(saltBuckets)) else lit(0))
      val edges = rs.checkpoint(
        if (salted) edges0.repartition(col("dst"), col("salt"))
        else edges0.repartition(col("dst")), "edges")
      // xS replication of a node-grain lookup side — the salted joins'
      // small side
      def saltExplode(d: DataFrame): DataFrame =
        d.withColumn("salt",
          explode(array((0 until saltBuckets).map(lit(_)): _*)))
      // seed labels with min(id, min neighbor) — the same aggregation a
      // plain distinct-node init would pay, but it IS round one of
      // min-label propagation, so shallow (quasi-clique) components
      // converge one full round of joins+checkpoints earlier (hash aggs
      // are skew-resilient already: partial aggregation combines map-side)
      var labels = rs.checkpoint(edges
        .groupBy(col("src").as("id"))
        .agg(min(col("dst")).as("nmin"))
        .select(col("id"), least(col("id"), col("nmin")).as("comp")))
      rs.fixpoint { _ =>
        val labDst = labels.select(col("id").as("dst"), col("comp"))
        val neighborMin = (if (salted)
            edges.join(saltExplode(labDst), Seq("dst", "salt"))
          else edges.join(labDst, "dst"))
          .groupBy(col("src").as("id"))
          .agg(min("comp").as("ncomp"))
        val propagated = labels
          .join(neighborMin, Seq("id"), "left")
          .select(
            col("id"),
            least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"),
            col("comp").as("prev")) // carried so convergence needs no re-join
        // pointer jumping: also take the label OF the current label
        // (labels point at node ids, so the label table is its own lookup
        // table). The jump table is the PREVIOUS round's checkpoint, not
        // this round's plan, so a round stays ONE checkpoint job; a
        // stale-by-one jump is still a valid contraction (labels only
        // decrease, and prev(comp) is a same-component node's label).
        // Two jumps triple the per-round reach, so a diameter-D chain
        // needs ~log₃D rounds instead of D (the fixture's longest chain:
        // 7 rounds at one jump, 5 at two).
        def jump(d: DataFrame, n: Int): DataFrame = {
          val jt = labels.select(col("id").as("comp"), col("comp").as(s"_g$n"))
          (if (salted)
            d.withColumn("salt", pmod(hash(col("id")), lit(saltBuckets)))
              .join(saltExplode(jt), Seq("comp", "salt"), "left")
              .drop("salt")
          else d.join(jt, Seq("comp"), "left"))
            .select(
              col("id"),
              least(col("comp"), coalesce(col(s"_g$n"), col("comp"))).as("comp"),
              col("prev"))
        }
        // labels only decrease, so "any label moved" is count(comp < prev).
        // More jumps do not help on the q38 graph (7 rounds at two jumps
        // and at four, n_changed 85→29→8→4→2→2→0): the tail is LOCAL
        // ROOTS, labels pointing at nodes that believe themselves the
        // minimum, which only the 1-hop neighborMin frontier moves.
        labels = rs.next(labels, jump(jump(propagated, 1), 2),
          changed = count(when(col("comp") < col("prev"), 1)))
        rs.changed(labels) > 0L
      }
      rs.keep(labels).select(col("id"), col("comp"))
    }
  }

  /** Width-parameterized SimHash (1 <= bits <= 64) over the document's
    * distinct words. Bit i of a word is the low bit of hex digit
    * (i mod 32)+1 of the word's block digest — block 0 is md5(word)
    * (bit-compatible with the original 16-bit formulation and its SQL
    * oracle), block 1 (bits 32-63) is md5("1|word"). The signature bit
    * is set when the sum of (±1) votes across the doc's words is
    * positive.
    *
    * Plan: ONE map-side-combinable aggregation — every bit's vote total
    * is a conditional-sum column, and the signature is a bitwise-OR fold
    * over the vote row. (The earlier long-format plan exploded ×bits and
    * shuffled twice.) The fixture queries use 16 bits for oracle parity;
    * production corpora use 64 — pair volume is governed by width, see
    * SCALE.md.
    */
  def simhash(docs: DataFrame, textCol: String, idCol: String, bits: Int): DataFrame = {
    require(bits >= 1 && bits <= 64, "simhash supports 1..64 bits")
    // distinct words from the native generator (one byte pass,
    // in-generator dedup); n=1 distinct mode emits a single ""
    // fallback gram for empty-after-cleaning docs — dropped, because
    // "no words" must mean "no votes" (parity with the column/SQL
    // formulation, which generates nothing for an empty word array)
    val words = docs
      .select(col(idCol), graft.functions.WordNgrams(col(textCol), 1).as("w"))
      .filter(length(col("w")) > 0)
    // one digest pass per word via the native mask expression, then
    // per-bit set-counts; with S_b = Σ bit b over the doc's W distinct
    // words, the ±1 vote total is 2·S_b − W, so bit b of the signature
    // is 2·S_b > W — bit-identical to the vote-column formulation
    // (differential spec) at 1/bits the expression work per word
    val masked = words.select(col(idCol), graft.functions.SimhashBits(col("w"), bits).as("m"))
    val aggs = count(lit(1)).as("__W") +: (0 until bits).map { i =>
      sum(shiftright(col("m"), i).bitwiseAND(1)).as(s"s$i")
    }
    val votes = masked.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
    val sig = (0 until bits)
      .map(i => when(col(s"s$i") * 2 > col("__W"), lit(1L << i)).otherwise(0L))
      .reduce(_ bitwiseOR _)
    votes.select(col(idCol), sig.as("simhash"))
  }

  /** 16-bit SimHash — the oracle-parity width used by q33/q36. */
  def simhash16(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    simhash(docs, textCol, idCol, bits = 16)

  /** SimHash near-dup pairs with Hamming distance <= maxDist, candidate-
    * generated by banding the `bits`-wide signature into maxDist+1
    * chunks (pigeonhole: any pair within distance maxDist agrees on at
    * least one chunk — an equality join, never a cross product).
    * 16 bits / maxDist 3 → four 4-bit chunks (the fixture scheme);
    * 64 bits / maxDist 7 → eight 8-bit chunks (the production scheme).
    */
  def simhashPairs(
      sigs: DataFrame, idCol: String, maxDist: Int, bits: Int = 16): DataFrame = {
    val chunks = maxDist + 1
    require(bits % chunks == 0,
      s"chunk count ${chunks} (maxDist+1) must divide the signature width $bits")
    val width = bits / chunks
    val mask = if (width == 64) -1L else (1L << width) - 1
    val banded = sigs.select(
      col(idCol), col("simhash"),
      explode(sequence(lit(0), lit(chunks - 1))).as("b"))
      .withColumn("chunk", expr(s"(simhash >> (b * $width)) & $mask"))
    val a = banded.select(col(idCol).as("id_a"), col("simhash").as("sh_a"), col("b"), col("chunk"))
    val bd = banded.select(col(idCol).as("id_b"), col("simhash").as("sh_b"), col("b"), col("chunk"))
    a.join(bd, Seq("b", "chunk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        expr("bit_count(sh_a ^ sh_b)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** Cross-corpus near-dup matches: (new_id, old_id, jaccard) for every
    * NEW document whose retained-shingle Jaccard against an OLD document
    * reaches `threshold` — the candidate stage of incremental corpus
    * dedup ("don't re-ingest what the training set already contains").
    * Same plan family as [[ngramJaccard]], but the self-join becomes a
    * two-corpus equality join on the shared shingle, so per-shingle
    * fan-out is df_new × df_old (not C(df,2)) and no within-corpus pair
    * is ever generated. `maxShingleDf` caps stop-shingle fan-out exactly
    * as in [[ngramJaccard]] (applied per side, sizes post-cap).
    */
  def crossCorpusMatches(
      newDocs: DataFrame, oldDocs: DataFrame, textCol: String, idCol: String,
      threshold: Double, shingleN: Int = 3,
      maxShingleDf: Option[Int] = None): DataFrame = {
    def capped(sh: DataFrame): DataFrame = maxShingleDf.fold(sh) { cap =>
      val keep = sh.groupBy("sh").agg(count(lit(1)).as("df"))
        .filter(col("df") <= cap).select("sh")
      sh.join(keep, Seq("sh"), "left_semi")
    }
    // persisted: each side feeds its size aggregation AND the match join
    val shNew = capped(shinglePairs(newDocs, textCol, idCol, shingleN)).persist()
    val shOld = capped(shinglePairs(oldDocs, textCol, idCol, shingleN)).persist()
    val sizesNew = shNew.groupBy(col(idCol).as("new_id")).agg(count(lit(1)).as("na"))
    val sizesOld = shOld.groupBy(col(idCol).as("old_id")).agg(count(lit(1)).as("nb"))
    shNew.select(col(idCol).as("new_id"), col("sh"))
      .join(shOld.select(col(idCol).as("old_id"), col("sh")), Seq("sh"))
      .groupBy("new_id", "old_id")
      .agg(count(lit(1)).as("inter"))
      .join(sizesNew, "new_id")
      .join(sizesOld, "old_id")
      .select(
        col("new_id"), col("old_id"),
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Incremental corpus dedup APPLIED: the NEW documents that survive
    * near-dup screening against an already-ingested OLD corpus
    * ([[crossCorpusMatches]] + left-anti join). The anti-join's right
    * side is the matched-new-id set — bounded by the near-dup volume,
    * tiny relative to either corpus. At 100 TB this is the nightly
    * crawl-increment shape: the increment is the small side, the
    * standing corpus streams through the shingle join once.
    */
  def dedupAgainstCorpus(
      newDocs: DataFrame, oldDocs: DataFrame, textCol: String, idCol: String,
      threshold: Double, shingleN: Int = 3,
      maxShingleDf: Option[Int] = None): DataFrame = {
    val matched = crossCorpusMatches(
      newDocs, oldDocs, textCol, idCol, threshold, shingleN, maxShingleDf)
      .select(col("new_id").as(idCol)).distinct()
    newDocs.join(matched, Seq(idCol), "left_anti")
  }

  /** Maximal duplicated-span extraction — the substring-dedup primitive
    * (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better"): for every document, the maximal runs of consecutive
    * token positions whose `n`-gram also appears in ANOTHER document
    * (cross-document df >= 2). One output row per span:
    * `(id, start_tok, n_grams, n_tokens)` — `start_tok` 0-based,
    * `n_tokens` the span's token length (`n_grams + n - 1`, clamped to
    * the document for the sub-`n`-word whole-document fallback).
    * Downstream either cuts the spans out (substring dedup applied) or
    * filters documents on span mass; unlike [[passageDedup]] the spans
    * are MAXIMAL and stride-1 — no passage-boundary blindness.
    *
    * Scale shape: positional n-grams from one narrow projection;
    * document frequency is one hash aggregation (n-gram-vocabulary-
    * sized); the dup-position join is n-gram equality (the TF-IDF
    * shape); span assembly is ONE window exchange on the document id —
    * the islands-and-gaps trick (`pos - row_number()`) turns
    * consecutive positions into group keys with no iteration.
    */
  def dupSpans(docs: DataFrame, textCol: String, idCol: String, n: Int = 3): DataFrame = {
    require(n >= 1, "dupSpans requires n >= 1")
    import org.apache.spark.sql.expressions.Window
    // positional grams from the native generator — one byte pass, no
    // intermediate word array (empty documents emit nothing)
    val grams = docs.select(
      col(idCol), graft.functions.PositionalWordNgrams(col(textCol), n))
    val df2 = grams.groupBy("sh")
      .agg(countDistinct(col(idCol)).as("df"))
      .filter(col("df") >= 2)
      .select("sh")
    val dup = grams.join(df2, Seq("sh"), "left_semi")
    val grp = col("pos") - row_number().over(
      Window.partitionBy(col(idCol)).orderBy(col("pos")))
    dup
      .withColumn("grp", grp)
      .groupBy(col(idCol), col("grp"))
      .agg(
        min(col("pos")).as("start_tok"),
        count(lit(1)).as("n_grams"),
        (max(col("pos")) + lit(n - 1) + 1 - min(col("pos"))).as("span"),
        first(col("nw")).as("nw"))
      .select(
        col(idCol), col("start_tok"),
        col("n_grams"),
        // whole-document fallback gram (docs under n words) covers
        // exactly the document, not n tokens
        least(col("span"), col("nw").cast("long")).as("n_tokens"))
  }

  /** Bounded exact-substring duplicate finder — the suffix-array method
    * of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better") re-expressed as a SORTED-ANCHOR pipeline (never a
    * full suffix array, never all-pairs): find the longest duplicated
    * token substrings in a corpus, bounded by `window` tokens.
    *
    *   1. ANCHOR PASS — every position emits its k-gram fingerprint
    *      only (md5, 32 bytes): (id, pos, fp). Anchors occurring 2..
    *      `anchorCap` times survive; the cap is ENFORCED (q312's
    *      hub-cap discipline — a boilerplate k-gram occurring 10⁶
    *      times would otherwise collect 10⁶ windows into one group;
    *      over-cap anchors are boilerplate, the domain of the
    *      passage/shingle dedup tiers, not substring extension).
    *   2. WINDOW FETCH — only SURVIVING positions re-join their docs
    *      to cut the `window`-token extension slice. This two-pass
    *      split is the 100 TB shape: the corpus-grain shuffle moves
    *      32-byte keys; window bytes move only for candidates.
    *   3. SORTED EXTENSION — per anchor, occurrences sort by
    *      (window-string, id, pos) and CONSECUTIVE pairs extend via
    *      token-lcp. Suffix-array adjacency argument: for sorted
    *      strings x < z < y, lcp(x,z) ≥ lcp(x,y), so the maximal
    *      duplicated length is always realized on an adjacent pair —
    *      pairing is linear in occurrences, not C(n,2). The group is
    *      ≤ `anchorCap` rows, so the collect_list is bounded.
    *   4. LEFT-MAXIMALITY — a pair whose preceding tokens agree is
    *      dropped ONLY when the left-shifted anchor (the k-gram one
    *      position left — the same string for both occurrences exactly
    *      when the prevs agree) is itself inside the 2..cap band: then
    *      the region re-surfaces there with length +1 (or further
    *      left), so only the leftmost report survives and a duplicated
    *      region is not re-reported at every interior offset. A pair
    *      with NO left context (either occurrence at position 1) is
    *      left-maximal and kept — two byte-identical documents report
    *      their full-length match at position 1. And when the left
    *      anchor is OVER the cap (a duplicated region entered through
    *      corpus boilerplate), the pair is kept at this anchor's
    *      length rather than silently lost waiting on a left report
    *      that can never form.
    *
    * Output per surviving pair: (len_tokens ≥ k, doc_a, pos_a, doc_b,
    * pos_b, dup_text = the duplicated substring itself). Intra-doc
    * repeats count (the occurrence pair carries the same id twice).
    * DETERMINISM: md5 grouping, exact integer lcp over a total sort
    * order — identical across partitionings and engines (tokens are
    * [a-z0-9]+, so space-joined string order IS token-sequence order:
    * the space sorts below every token character). No window function
    * anywhere — the per-anchor sort is array_sort over a bounded list.
    */
  def exactSubstrings(
      docs: DataFrame, textCol: String, idCol: String,
      k: Int = 5, window: Int = 64, anchorCap: Int = 256): DataFrame =
    exactSubstrings(docs, textCol, idCol, k, window, anchorCap, _.persist())

  /** [[exactSubstrings]] with its two twice-read intermediates cached by `cache`. */
  private def exactSubstrings(
      docs: DataFrame, textCol: String, idCol: String,
      k: Int, window: Int, anchorCap: Int, cache: DataFrame => DataFrame): DataFrame = {
    require(k >= 2, "exactSubstrings needs k >= 2")
    require(window >= k, "exactSubstrings needs window >= k")
    require(anchorCap >= 2, "exactSubstrings needs anchorCap >= 2")
    // read by the anchor pass and the candidate re-join
    val wd = cache(docs
      .select(col(idCol),
        graft.functions.TextFunctions.wordsArr(col(textCol)).as("w")))
    val posTab = wd.filter(size(col("w")) >= k)
      .select(col(idCol),
        explode(transform(sequence(lit(1), size(col("w")) - (k - 1)),
          i => struct(i.as("pos"),
            md5(concat_ws(" ", slice(col("w"), i, lit(k)))).as("fp")))).as("g"))
      .select(col(idCol), col("g.pos").as("pos"), col("g.fp").as("fp"))
    // full per-anchor occurrence counts, read twice: the 2..cap band
    // filter AND the left-anchor band lookup of step 4
    val anchorCounts = cache(posTab.groupBy("fp")
      .agg(count(lit(1)).as("n")))
    val anchors = anchorCounts
      .filter(col("n") >= 2 && col("n") <= anchorCap)
      .select("fp")
    // the window deliberately rides TWICE — `winstr` (the flat
    // memcmp-ordered sort key) and `win` (the token array the lcp
    // reads). Both single-copy alternatives were MEASURED and lose:
    // sorting by the array instead of the string is 1.8x slower at
    // sf0.1 (per-element array ordering vs one flat compare), and
    // shipping only the string then rebuilding tokens by split() at
    // pair grain reads 25-30% slower end-to-end (lambda-referenced
    // columns defeat CSE, so the split re-evaluates per use — the
    // same effect as the wordsArr note at the top of this file). The
    // 2x window bytes price the duplicated-anchor-sized candidate
    // table only — bounded by anchorCap, never corpus-grain.
    val cand = posTab.join(anchors, Seq("fp"), "left_semi")
      .join(wd, Seq(idCol))
      .select(col("fp"), struct(
        concat_ws(" ", slice(col("w"), col("pos"), lit(window))).as("winstr"),
        col(idCol).as("doc_id"), col("pos"),
        when(col("pos") > 1, element_at(col("w"), col("pos") - 1)).as("prev"),
        slice(col("w"), col("pos"), lit(window)).as("win"),
        when(col("pos") > 1,
          md5(concat_ws(" ", slice(col("w"), col("pos") - 1, lit(k)))))
          .as("left_fp")).as("o"))
    val pairs = cand.groupBy("fp")
      .agg(array_sort(collect_list(col("o"))).as("os"))
      .select(explode(transform(sequence(lit(1), size(col("os")) - 1),
        j => struct(element_at(col("os"), j).as("x"),
          element_at(col("os"), j + 1).as("y")))).as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"))
    val a = col("x.win")
    val b = col("y.win")
    val mism = filter(sequence(lit(1), least(size(a), size(b))),
      i => element_at(a, i) =!= element_at(b, i))
    pairs
      // step 4: keep unless the region provably re-surfaces one anchor
      // left — prevs agree (same left k-gram for both occurrences) AND
      // that left anchor is inside the 2..cap band. Both-at-position-1
      // pairs have null prevs and are kept (left-maximal by absence of
      // context); an over-cap left anchor keeps the pair too (the left
      // report can never form). The left-band lookup is one keyed join
      // against the persisted anchor-count table at candidate grain.
      .join(anchorCounts.select(col("fp").as("_lfp"), col("n").as("_ln")),
        col("x.left_fp") === col("_lfp"), "left")
      .filter(col("x.prev").isNull || col("y.prev").isNull ||
        col("x.prev") =!= col("y.prev") || col("_ln") > anchorCap)
      .withColumn("len_tokens",
        when(size(mism) === 0, least(size(a), size(b)))
          .otherwise(element_at(mism, 1) - 1).cast("long"))
      .select(col("len_tokens"),
        col("x.doc_id").as("doc_a"), col("x.pos").as("pos_a"),
        col("y.doc_id").as("doc_b"), col("y.pos").as("pos_b"),
        concat_ws(" ", slice(a, lit(1), col("len_tokens").cast("int")))
          .as("dup_text"))
  }

  /** Exact-substring dedup APPLIED — the production cut step of Lee et
    * al. 2022 composed onto [[exactSubstrings]]' pair output: for every
    * duplicated pair of length ≥ `minLen` tokens, CUT the
    * (doc, pos)-LATER occurrence's token range (the earlier occurrence
    * — document order, not window-sort order — survives, so the
    * globally first copy of a region is never cut), merge each
    * document's cut ranges at token grain, and rebuild its text from
    * the surviving tokens. Output per document (ALL documents, cut or
    * not): `(id, n_tokens, n_cut, text_kept)` — `text_kept` is the
    * space-joined surviving tokens (the [[passageDedup]] normal form).
    *
    * Scale shape: the pair set is [[exactSubstrings]]' bounded output
    * (anchor-capped, never corpus²); the cut explode is ≤ `window`
    * positions per pair; the merge is one doc-keyed collect_set bounded
    * by the document's own token count; the rebuild is one narrow
    * projection over a doc-keyed left join. DETERMINISM: the victim
    * rule is an exact (doc, pos) comparison over a deterministic pair
    * set; the cut-position SET is order-free.
    *
    * FIXED-POINT SEMANTICS (round-13 adjudication, property-pinned in
    * Round13Spec): one pass is idempotent — re-applying to its own
    * `text_kept` yields zero new cuts — exactly when every duplicated
    * region fits inside `window` tokens. A LONGER region is reported
    * only at its left-maximal head ([[exactSubstrings]] suppresses
    * interior anchors and caps the report at `window`), so one pass
    * cuts its first `window` tokens and the surviving tail BECOMES
    * left-maximal on the next pass — the same head-by-head progression
    * a suffix-array cutter performs in one shot. Use
    * [[exactSubstringApplyToFixedPoint]] when full-length excision of
    * over-window regions is required; each pass strictly shrinks the
    * total surviving token count, so it terminates (fixture converges
    * in ≤ ⌈maxRegion/window⌉ + 1 passes).
    */
  def exactSubstringApply(
      docs: DataFrame, textCol: String, idCol: String,
      k: Int = 5, window: Int = 64, anchorCap: Int = 256,
      minLen: Int = 10): DataFrame =
    exactSubstringApply(docs, textCol, idCol, k, window, anchorCap, minLen, _.persist())

  private def exactSubstringApply(
      docs: DataFrame, textCol: String, idCol: String, k: Int, window: Int,
      anchorCap: Int, minLen: Int, cache: DataFrame => DataFrame): DataFrame = {
    require(minLen >= k, "exactSubstringApply needs minLen >= k")
    val later = col("doc_a") > col("doc_b") ||
      (col("doc_a") === col("doc_b") && col("pos_a") > col("pos_b"))
    val vpos = when(later, col("pos_a")).otherwise(col("pos_b"))
    val cuts = exactSubstrings(docs, textCol, idCol, k, window, anchorCap, cache)
      .filter(col("len_tokens") >= minLen)
      .select(
        when(later, col("doc_a")).otherwise(col("doc_b")).as(idCol),
        explode(sequence(vpos, vpos + col("len_tokens").cast("int") - 1)).as("p"))
      .groupBy(idCol)
      .agg(collect_set(col("p")).as("cuts"))
    docs
      .select(col(idCol),
        graft.functions.TextFunctions.wordsArr(col(textCol)).as("w"))
      .join(cuts, Seq(idCol), "left")
      .withColumn("cs", coalesce(col("cuts"), array_repeat(lit(1), 0)))
      .select(
        col(idCol),
        size(col("w")).cast("long").as("n_tokens"),
        size(col("cs")).cast("long").as("n_cut"),
        // native merge-walk rebuild — O(n_tokens + n_cut log n_cut) per
        // doc. The previous HOF chain (transform→filter(array_contains)
        // →transform→array_join) rescanned the cut set per token:
        // O(n_tokens × n_cut), a single-row straggler on a long, mostly
        // duplicated document (the exact corpus this operator exists
        // for). Bit-identical output — see [[graft.functions.KeepTokens]].
        graft.functions.KeepTokens(col("w"), col("cs")).as("text_kept"))
  }

  /** [[exactSubstringApply]] iterated to its fixed point: re-applies the
    * cut pass to its own `text_kept` until a pass cuts nothing. Each
    * pass strictly shrinks the surviving token total, so the loop
    * terminates; over-window regions lose one `window`-sized head per
    * pass, see the fixed-point note on [[exactSubstringApply]]. If pass
    * `maxPasses` still cuts, it throws rather than return a state that
    * is not a fixed point. Output schema matches the single pass:
    * `(id, n_tokens, n_cut, text_kept)` with `n_tokens` the ORIGINAL
    * token count and `n_cut` the TOTAL positions cut across passes.
    *
    * Scale shape: a [[Rounds]] loop of the bounded single-pass plan,
    * one checkpoint per pass whose observed `sum(n_cut)` is the stop
    * test, one more to merge a cutting pass into the state; each pass's
    * cached intermediates are freed with the loop. Pass count
    * is data-dependent but tiny: ⌈longest duplicated region / window⌉ + 1.
    */
  def exactSubstringApplyToFixedPoint(
      docs: DataFrame, textCol: String, idCol: String,
      k: Int = 5, window: Int = 64, anchorCap: Int = 256,
      minLen: Int = 10, maxPasses: Int = 8): DataFrame =
    Rounds("exactSubstringApplyToFixedPoint", maxPasses) { rs =>
      var state: DataFrame = null
      rs.fixpoint { _ =>
        val again = rs.checkpoint(exactSubstringApply(
          if (state == null) docs
          else state.select(col(idCol), col("text_kept").as(textCol)),
          textCol, idCol, k, window, anchorCap, minLen, rs.persisted),
          changed = coalesce(sum("n_cut"), lit(0L)))
        val cut = rs.changed(again) > 0L
        if (state == null) state = again
        else {
          if (cut) state = rs.next(state,
            state.select(col(idCol), col("n_tokens"), col("n_cut"))
              .join(again.select(
                col(idCol), col("n_cut").as("_cut2"), col("text_kept")), Seq(idCol))
              .select(col(idCol), col("n_tokens"),
                (col("n_cut") + col("_cut2")).as("n_cut"), col("text_kept")),
            "merged")
          rs.free(again)
        }
        cut
      }
      rs.keep(state)
    }

  /** Passage-level exact dedup APPLIED (C4/RefinedWeb-style): cut every
    * document into NON-overlapping `passageWords`-word passages, keep
    * only the globally FIRST occurrence of each distinct passage (min
    * (doc, position) — deterministic), and rebuild each document's text
    * from its surviving passages in order. Output per document:
    * `(id, n_passages, n_kept, text_kept)` — `text_kept` is empty when
    * every passage already occurred earlier in the corpus.
    *
    * Scale shape: passages come from the native [[graft.functions
    * .TokenChunks]] Generator (stride == size ⇒ non-overlapping; one
    * byte pass, no intermediate array); the keeper election is ONE
    * map-side-combinable min-struct aggregation on the passage
    * fingerprint (passage-vocabulary-sized), joined back by fingerprint
    * equality; the rebuild is one hash aggregation back to documents.
    * The md5 fingerprint stands in for passage text everywhere past the
    * scan, so shuffles move 32-byte keys, never passage bytes.
    */
  def passageDedup(
      docs: DataFrame, textCol: String, idCol: String, passageWords: Int): DataFrame = {
    require(passageWords >= 1, "passageDedup requires passageWords >= 1")
    val chunks = docs.select(
      col(idCol),
      graft.functions.TokenChunks(col(textCol), passageWords, passageWords))
      .select(col(idCol), col("chunk_id"), col("chunk_fp"))
      .persist() // feeds the keeper agg AND the keeper re-join
    val keepers = chunks
      .groupBy("chunk_fp")
      .agg(min(struct(col(idCol), col("chunk_id"))).as("k"))
    val kept = chunks
      .join(keepers, Seq("chunk_fp"))
      .filter(struct(col(idCol), col("chunk_id")) === col("k"))
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_kept"),
        sort_array(collect_list(col("chunk_id"))).as("kept_ids"))
    // total passage count is arithmetic on the shared tokenizer's word
    // count — no second aggregation over the chunk table
    val wc = graft.functions.AlnumWordCount(col(textCol))
    docs
      .select(col(idCol), col(textCol), wordsArr(col(textCol)).as("w"),
        when(wc > 0,
          floor((wc + passageWords - 1).cast("long") / passageWords).cast("long"))
          .otherwise(0L).as("n_passages"))
      .join(kept, Seq(idCol), "left")
      .select(
        col(idCol),
        col("n_passages"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        // rebuild from the word array, slicing each kept window in order;
        // `w` is materialized in its own projection (HOF-reference trap)
        coalesce(
          array_join(
            flatten(transform(col("kept_ids"),
              c => slice(col("w"), c * passageWords + 1, lit(passageWords)))),
            " "),
          lit("")).as("text_kept"))
  }
}
