package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared graph-edge builders for the co-purchase analytics family
  * (triangle count q150, label propagation q199, BFS hops q203). One
  * definition, one plan — the three queries previously each authored
  * the identical support-2 edge derivation inline.
  *
  * The build is basket-local: group lineitem to per-order part sets
  * (ONE map-side-combinable `collect_set` exchange — the set state is
  * bounded by basket size, not corpus size), emit the a<b pairs of each
  * basket with an in-basket generator (narrow), and count pair support
  * with a second hash aggregation. Two exchanges total; the previous
  * distinct + self-join formulation paid four (distinct, both join
  * sides, pair count) and shuffled the pair fan-out twice. Basket-size
  * skew bounds the generator: a basket of s parts emits C(s,2) pairs
  * in-place, never through a join.
  *
  * DETERMINISM: pair emission and support counting are exact integer
  * set operations; orientation is a<b on part ids.
  */
object Edges {

  /** Directed (a < b) co-purchase edges over parts appearing together in
    * at least `minSupport` distinct orders. Schema: (a: long, b: long).
    */
  def coPurchase(spark: SparkSession, dir: String, minSupport: Long = 2L): DataFrame =
    materializedPairs(spark, dir, minSupport)
      .filter(col("a") < col("b")).select(col("a"), col("b"))

  private val matLock = new Object

  /** Name PREFIX of the [[adamicAdar]] hub-census observe() metric —
    * each call appends a sequence number so two adamicAdar results over
    * different edge sets can compose in one query (CheckAnalysis
    * rejects duplicate observed-metric names with different child
    * plans); the listener matches by prefix.
    */
  private[graft] val HubCensusMetric = "adamic_adar_hub_census"
  private val censusSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  // sessions that already carry the census listener (weak keys: a
  // stopped session must not be pinned by the census plumbing)
  private val censusSessions = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  /** Register (once per session) the listener that surfaces a nonzero
    * [[adamicAdar]] hub-cap drop count through log4j when any action
    * over the observed plan completes — the lazy replacement for the
    * round-12 construction-time census job (whose println also bypassed
    * the log-level gating Bench's single-JSON-line stdout relies on).
    */
  private def ensureHubCensusListener(spark: SparkSession): Unit =
    if (censusSessions.add(spark)) {
      spark.listenerManager.register(
        new org.apache.spark.sql.util.QueryExecutionListener {
          private val log =
            org.slf4j.LoggerFactory.getLogger("graft.operators.Edges")
          override def onSuccess(
              funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              durationNs: Long): Unit =
            qe.observedMetrics.foreach { case (name, row) =>
              if (name.startsWith(HubCensusMetric)) {
                val dropped = row.getLong(row.fieldIndex("dropped_centers"))
                if (dropped > 0)
                  log.warn(s"adamicAdar dropped $dropped hub center(s) over " +
                    "the cap from pair emission — their wedges are NOT " +
                    "scored; raise hubCap to include them")
              }
            }
          override def onFailure(
              funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              exception: Exception): Unit = ()
        })
    }

  /** The SHARED materialization of the co-purchase graph — the symmetric
    * (a, b, cab) support-counted pair table written ONCE per (dataset,
    * minSupport) as a bucketed+sorted table on `a` (32 buckets, matching
    * the session's shuffle parallelism) and read by every graph-family
    * query: [[coPurchase]], [[coPurchaseUndirected]] and
    * [[coPurchaseWeighted]] are all narrow projections/filters of it, so
    * q150/q199/q203/q312/q320/q321/q324/q327/q331 (plus k-core q275 and
    * the graph-rank family) stop re-paying the basket build — the
    * dominant cost in every one of them (SCALE.md round-10 rows: ~2-4 s
    * each at sf0.1). This IS the 100 TB story: build the graph once,
    * iterate on it — and because the table is BUCKETED on the
    * propagation join key, every per-round frontier⋈edges join reads
    * the edge side with ZERO exchange (the scan itself reports the hash
    * partitioning; only the node-grain frontier shuffles per round).
    * The write lands under the session's warehouse dir (gitignored);
    * SaveMode.Overwrite makes a stale path from a previous JVM
    * harmless. DETERMINISM: the table holds exactly the rows the
    * per-query build produced — same counts, same support filter — so
    * every downstream hash is unchanged; the catalog check is
    * JVM-locked against concurrent first-use races.
    */
  private def materializedPairs(
      spark: SparkSession, dir: String, minSupport: Long): DataFrame = {
    val tag = dirTag(spark, dir, Seq("lineitem.parquet"))
    materializedTable(spark,
      s"graft_copurchase_${tag}_s$minSupport",
      "a",
      // GC superseded fingerprints of THIS dir (same dirHex, different
      // fpHex); other dirs and this fingerprint's other minSupport
      // tables are untouched. The second prefix is the one-time legacy
      // sweep: pre-round-13 tags used 8-hex halves, so a pre-existing
      // warehouse holds graft_copurchase_<hex8(dir)>_<hex8fp>_s* tables
      // the 17-char prefix can never match — those would be stranded
      // forever (the exact leak gcStale fixes). hex8(dir) is the first
      // half of hex16(dir), and the legacy name has `_` at offset 8
      // where the new format has a hex digit, so the legacy prefix
      // matches ONLY legacy tables of this dir, never the new format.
      gcStale = Some((Seq(s"graft_copurchase_${dirPrefix(tag)}",
          s"graft_copurchase_${legacyDirPrefix(tag)}"),
        s"graft_copurchase_$tag"))) {
      // persisted across the union's two arms: without it the write job
      // evaluates the whole basket-build subtree twice (the arms differ
      // by a rename projection, so exchange reuse is not guaranteed);
      // the runner's sweep frees the cache after the one-time write
      val pairs = coPurchasePairs(spark, dir, minSupport).persist()
      pairs.unionByName(
        pairs.select(col("b").as("a"), col("a").as("b"), col("cab")))
    }
  }

  // two-part tag <dirHex>_<fpHex> (16 hex chars each — 64 bits). dirHex
  // is the md5 of the full path and is STABLE across regenerations,
  // which is what lets [[materializedTable]] GC the superseded
  // fingerprints of the same dir. 64 bits, not 32: the GC DELETES
  // whatever matches the dirHex prefix, so a cross-dir collision would
  // destroy another dataset's live table — at 32 bits two of ~2¹⁶ dirs
  // collide with even odds (birthday), at 64 bits the same odds need
  // ~2³² distinct dataset dirs in one warehouse. fpHex digests a RECURSIVE
  // source listing (every file's dataset-relative path, length and
  // mtime — a partitioned/nested layout contributes its leaf files, not
  // the round-12 top-level-only census that saw 0 files; per-file
  // names+lens catch the same-(count,total,maxMtime) regeneration that
  // the old aggregate triple could miss within mtime granularity). A
  // dataset regenerated at the same path therefore resolves to a NEW
  // table name and rebuilds instead of silently serving stale edges;
  // the session-immutable-sources contract is enforced, not just
  // documented. (Single-writer remains documented-only: two JVMs racing
  // one warehouse path is out of a tag's reach. So is a regeneration
  // that preserves every name, length AND mtime — below FS timestamp
  // granularity no listing-based fingerprint can see content.)
  /** First 64 md5 bits as 16 hex chars — the dir half of the table tag
    * (`private[graft]`: Round13Spec derives the GC prefix from it).
    */
  private[graft] def hex16(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString

  private def dirTag(spark: SparkSession, dir: String, tables: Seq[String]): String = {
    val fp = tables.map { t =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$t")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val files = scala.collection.mutable.ArrayBuffer.empty[String]
      if (fs.exists(p)) {
        val base = fs.getFileStatus(p).getPath.toUri
        val it = fs.listFiles(p, true) // recursive: leaf files only
        while (it.hasNext) {
          val f = it.next()
          files += s"${base.relativize(f.getPath.toUri)}:${f.getLen}:" +
            s"${f.getModificationTime}"
        }
      }
      s"$t=${files.sorted.mkString(",")}"
    }.mkString(";")
    s"${hex16(dir)}_${hex16(fp)}"
  }

  /** The GC prefix for a tag: everything through the dir half's `_` —
    * matches every fingerprint generation of the SAME dir, never
    * another dir's tables.
    */
  private def dirPrefix(tag: String): String =
    tag.substring(0, tag.indexOf('_') + 1)

  /** The PRE-round-13 GC prefix for a tag: 8-hex dir half plus `_` —
    * matches only legacy-format tables of the same dir (the new format
    * has a hex digit, not `_`, at offset 8). Used for the one-time
    * migration sweep of warehouses written before the halves widened
    * to 16 hex chars; carries the legacy format's own 32-bit cross-dir
    * collision odds, which is the risk those tables were already under.
    */
  private def legacyDirPrefix(tag: String): String =
    tag.substring(0, 8) + "_"

  /** Write-once-per-session bucketed materialization: builds `build` on
    * first use, lands it as a bucketed+sorted catalog table on
    * `bucketCol` (32 buckets; the pre-write hash repartition uses the
    * same Murmur3 pmod as the bucket id, so each task writes exactly
    * one bucket file — no small-file explosion), and returns the
    * catalog read on every call. Relative table paths resolve under
    * the session warehouse dir (gitignored); SaveMode.Overwrite makes
    * a stale path from a previous JVM harmless; the catalog check is
    * JVM-locked against concurrent first-use races WITHIN a JVM.
    * Two operational contracts, both the repo's standing discipline:
    * (1) SINGLE WRITER — one Spark JVM per repo root at a time (two
    * JVMs racing the same warehouse path could interleave an Overwrite
    * with a read; the build workflow already forbids concurrent sbt
    * processes for exactly this class of reason); (2) SESSION-IMMUTABLE
    * SOURCES — the materialization is valid for the life of the
    * session; a dataset regenerated at the same path needs a fresh
    * session (or a dropped table), exactly like any cached scan.
    */
  private def materializedTable(
      spark: SparkSession, tbl: String, bucketCol: String,
      gcStale: Option[(Seq[String], String)] = None)(
      build: => DataFrame): DataFrame = {
    matLock.synchronized {
      if (!spark.catalog.tableExists(tbl)) {
        // GC superseded fingerprints BEFORE building the new one: every
        // regeneration used to strand the previous external table (and
        // its warehouse files) forever. `gcStale = (stalePrefix,
        // keepPrefix)` drops non-temporary catalog tables matching the
        // stale prefix but not the keep prefix — and deletes their
        // files, because these are EXTERNAL tables (explicit path):
        // DROP TABLE alone would leave the bytes behind, which is the
        // leak being fixed.
        gcStale.foreach { case (stalePrefixes, keepPrefix) =>
          spark.catalog.listTables().collect()
            .filter(t => !t.isTemporary &&
              stalePrefixes.exists(t.name.startsWith) &&
              !t.name.startsWith(keepPrefix))
            .foreach { t =>
              val loc = new org.apache.hadoop.fs.Path(
                org.apache.spark.sql.graft.Bridge.tableLocation(spark, t.name))
              // log BEFORE acting (ADVICE r14): the sweep deletes table
              // AND bytes, and the legacy 8-hex tag leaves a ~2⁻³²
              // cross-dir collision window — if a collision ever fires,
              // this line is the post-hoc diagnosis trail
              org.slf4j.LoggerFactory.getLogger(Edges.getClass).info(
                s"GC sweeping superseded graph table ${t.name} at $loc")
              spark.sql(s"DROP TABLE IF EXISTS `${t.name}`")
              loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
                .delete(loc, true)
            }
        }
        graft.sources.Bucketing.writeBucketed(
          build.repartition(32, col(bucketCol)), tbl, bucketCol, 32, tbl)
      }
    }
    spark.table(tbl)
  }

  /** The (a < b, support-count) core behind [[coPurchase]] and
    * [[coPurchaseWeighted]]: per-order sorted part baskets, in-place
    * ordered pair generation (never a basket self-join), one pair-keyed
    * count agg, support filter. Schema: (a, b, cab).
    */
  private def coPurchasePairs(
      spark: SparkSession, dir: String, minSupport: Long): DataFrame = {
    val li = graft.sources.Relational.read(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val baskets = li.groupBy("ok")
      .agg(array_sort(collect_set(col("pk"))).as("parts"))
    baskets
      .select(explode(expr(
        """flatten(transform(parts, (x, i) ->
          |  transform(slice(parts, i + 2, size(parts) - i - 1), y ->
          |    struct(x AS a, y AS b))))""".stripMargin)).as("e"))
      .groupBy(col("e.a").as("a"), col("e.b").as("b"))
      .agg(count(lit(1)).as("cab"))
      .filter(col("cab") >= minSupport)
  }

  /** WEIGHTED symmetric co-purchase edges (a, b, w): the [[coPurchase]]
    * pair build keeping its support count, mapped to the integer edge
    * length w = max(1, 100 div cab) — parts co-bought often are NEAR,
    * rarely-paired parts are far, and the `div` keeps every length an
    * exact long so min-plus path sums never touch a double. Both
    * directions emitted; callers persist across their relaxation
    * rounds (the query runner owns the cache lifecycle).
    */
  def coPurchaseWeighted(spark: SparkSession, dir: String, minSupport: Long = 2L): DataFrame =
    materializedPairs(spark, dir, minSupport)
      .select(col("a"), col("b"),
        greatest(lit(1L), expr("100 div cab")).as("w"))

  /** [[coPurchase]] symmetrized to both directions — the undirected
    * adjacency view the propagation queries (q199, q203) join against.
    * A narrow projection of the symmetric materialized table, already
    * bucketed on the join key `a`. Callers persist; the query runner
    * owns the cache lifecycle.
    */
  def coPurchaseUndirected(spark: SparkSession, dir: String, minSupport: Long = 2L): DataFrame =
    materializedPairs(spark, dir, minSupport).select(col("a"), col("b"))

  /** Distinct BIPARTITE customer→part purchase edges (c, p): which
    * customers ever bought which parts — one orderkey equi-join +
    * distinct (corpus-grain, two exchanges), MATERIALIZED once per
    * dataset as a bucketed table on `c` (the same write-once treatment
    * as the co-purchase pair table: the bipartite companion of
    * [[coPurchase]] is walked by HITS q254, personalized PageRank
    * q289, SALSA q302 and co-visitation q290, each of which previously
    * re-paid the join+distinct — the dominant cost in all four).
    * Callers persist their derived views across iteration rounds; the
    * query runner owns the cache lifecycle.
    */
  def customerPart(spark: SparkSession, dir: String): DataFrame = {
    val tag = dirTag(spark, dir, Seq("orders.parquet", "lineitem.parquet"))
    materializedTable(spark,
      s"graft_custpart_$tag",
      "c",
      gcStale = Some((Seq(s"graft_custpart_${dirPrefix(tag)}",
          s"graft_custpart_${legacyDirPrefix(tag)}"),
        s"graft_custpart_$tag"))) {
      val o = graft.sources.Relational.read(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val li = graft.sources.Relational.read(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .distinct()
    }
  }

  /** Bounded-round multi-source Bellman–Ford over a weighted directed
    * edge list (a, b, w) from `seeds` (node, dist) rows: `rounds`
    * min-plus relaxations, returning the reached (node, dist) set.
    * With `deltaFrontier` (the default, and q320's production shape)
    * each round relaxes ONLY edges leaving nodes whose distance
    * improved in the previous round; with it off, every round re-joins
    * the whole reached set (the textbook relax-everything form). The
    * two are provably equal after the same round count — an edge
    * (a, b) is relaxed against a's final round-(r-1) value in either
    * scheme, and a source that did not improve re-contributes nothing
    * — and Round10Spec pins that equality on hand graphs and the
    * corpus fixture. Each round's merge is persisted (round r+1 reads
    * BOTH the dist and frontier views of it, so an uncut lineage
    * recomputes all earlier rounds 2^r times); the query runner frees
    * the caches.
    */
  def shortestPaths(
      e: DataFrame, seeds: DataFrame, rounds: Int,
      deltaFrontier: Boolean = true): DataFrame = {
    val Inf = Long.MaxValue
    var dist = seeds.select(col("node"), col("dist")).persist()
    var frontier = dist
    for (_ <- 1 to rounds) {
      // SHUFFLE_HASH on the frontier side (r17, the q289 discipline):
      // the edge side reads its bucketed/persisted layout with no
      // per-round exchange and no sort; only the node-grain frontier
      // shuffles and builds the per-partition hash. Without the hint
      // the planner broadcast or sort-merged the EDGE side whenever its
      // cached stats looked small.
      val relax = e
        .join(frontier.select(col("node").as("a"), col("dist").as("da"))
          .hint("shuffle_hash"), Seq("a"))
        .groupBy(col("b").as("node"))
        .agg(min(col("da") + col("w")).as("cand"))
      val merged = dist.join(relax, Seq("node"), "full")
        .select(col("node"),
          least(coalesce(col("dist"), lit(Inf)),
            coalesce(col("cand"), lit(Inf))).as("dist"),
          (col("dist").isNull || (col("cand") < col("dist"))).as("improved"))
        .persist()
      frontier =
        if (deltaFrontier) merged.filter(col("improved")).select(col("node"), col("dist"))
        else merged.select(col("node"), col("dist"))
      dist = merged.select(col("node"), col("dist"))
    }
    dist
  }

  /** S-way SALTED score-propagation join — `edges ⋈ scores` on `key`,
    * the per-round shuffle of every bounded-round graph loop (HITS
    * half-steps, LPA rounds, PPR inflow). A power-law hub concentrates
    * that join's hottest key in one task, and AQE CANNOT split it in
    * these shapes: `OptimizeSkewedJoin` requires BOTH SortMergeJoin
    * children to be bare shuffle stages, but the score/label side here
    * always carries its per-round aggregation above the exchange (and
    * the rule also bails on plans with more than two shuffle stages) —
    * measured in Round10Spec, which pins both the firing and the
    * non-firing shape. So skew relief is explicit, CC's recipe
    * (`Dedup.connectedComponents(saltBuckets)`): replicate the
    * node-grain score side `saltBuckets` ways and route each edge row
    * by `pmod(hash(route), S)`, splitting a hub key's edges across S
    * tasks. Join semantics are unchanged for ANY downstream aggregate
    * because each edge row still matches exactly one replica.
    * `saltBuckets = 1` is the plain equi-join (zero overhead); the
    * score side grows S×, so S stays small (≤ #cores/hub-count scale,
    * 8 in the specs).
    */
  def saltedPropagate(
      edges: DataFrame, scores: DataFrame, key: String,
      route: org.apache.spark.sql.Column, saltBuckets: Int): DataFrame = {
    require(saltBuckets >= 1, "saltedPropagate needs saltBuckets >= 1")
    if (saltBuckets == 1) edges.join(scores, Seq(key))
    else {
      val rep = scores.withColumn("_salt",
        explode(array((0 until saltBuckets).map(lit): _*)))
      edges.withColumn("_salt", pmod(hash(route), lit(saltBuckets)))
        .join(rep, Seq(key, "_salt"))
        .drop("_salt")
    }
  }

  /** DEGREE orientation of an undirected (a, b) edge list: each edge
    * re-emitted once as (src, dst) with src the endpoint that comes
    * first in the (degree, id) total order. This is the power-law scale
    * armor for wedge-based algorithms: under degree orientation every
    * vertex's OUT-degree is O(√|E|) (a vertex with out-degree k has k
    * neighbors of degree ≥ its own, so deg·outdeg ≤ 2|E|), which bounds
    * per-vertex wedge fanout Σ outdeg² — a 10M-degree hub contributes
    * ZERO wedges when all its neighbors are lower-degree, where an
    * id-ordered orientation would explode C(10M, 2) pairs at it. Two
    * broadcast-size degree joins; the edge set is scanned once.
    */
  def orientByDegree(e: DataFrame): DataFrame = {
    val deg = e.select(col("a").as("n")).unionByName(e.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    e.join(deg.select(col("n").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
      .select(
        when(aFirst, col("a")).otherwise(col("b")).as("src"),
        when(aFirst, col("b")).otherwise(col("a")).as("dst"))
  }

  /** The closed (x, y, z) triangle triples behind [[triangleCount]] —
    * each triangle exactly once, x its minimum-(degree, id) vertex — of
    * the degree-oriented edges `ed` ([[orientByDegree]]), which the plan
    * reads three times: callers persist it.
    */
  private def triangleTriples(ed: DataFrame): DataFrame = {
    val wedges = ed.select(col("src"), col("dst").as("y"))
      .join(ed.select(col("src"), col("dst").as("z")), Seq("src"))
      .filter(col("y") < col("z"))
    val canon = ed.select(
      least(col("src"), col("dst")).as("y"),
      greatest(col("src"), col("dst")).as("z"))
    wedges.join(canon, Seq("y", "z"))
  }

  /** Exact triangle count over an undirected (a, b) distinct edge list
    * via degree-oriented wedge extension: wedges form only at each
    * triangle's MINIMUM-(degree, id) vertex — two out-edges (x→y, x→z),
    * deduped by id order y < z — and close against the (id-canonical)
    * edge set with one more equi-join. Each triangle is counted exactly
    * once, the count is orientation-invariant (same answer as any
    * wedge-extension formulation), and the wedge volume is
    * Σ outdeg(v)² under the O(√|E|) out-degree bound above — the
    * standard power-law-safe plan. Persists the oriented edges (read by
    * both wedge sides and the closure); the CALLER owns the cache
    * lifecycle (the query runner's sweep frees it).
    */
  def triangleCount(e: DataFrame): DataFrame =
    triangleTriples(orientByDegree(e).persist()).agg(count(lit(1)).as("n_triangles"))

  /** Per-edge triangle SUPPORT (a, b, sup) over the degree-oriented
    * edges `ed` ([[orientByDegree]]) of a canonical (a < b) distinct edge
    * list: each closed triple credits its three id-canonicalized edges,
    * one edge-keyed count agg. Edges in no triangle produce no row
    * (support 0 by absence) — the truss peel's semi-join reads that
    * absence as removal. Same power-law-safe wedge plan as
    * [[triangleCount]]; the plan reads `ed` three times, so callers
    * persist it.
    */
  def edgeSupport(ed: DataFrame): DataFrame =
    triangleTriples(ed)
      .select(explode(array(
        struct(least(col("src"), col("y")).as("a"),
          greatest(col("src"), col("y")).as("b")),
        struct(least(col("src"), col("z")).as("a"),
          greatest(col("src"), col("z")).as("b")),
        struct(col("y").as("a"), col("z").as("b")))).as("ed"))
      .groupBy(col("ed.a").as("a"), col("ed.b").as("b"))
      .agg(count(lit(1)).as("sup"))

  /** Bounded-round k-TRUSS peel (Cohen 2008) over a canonical (a < b)
    * distinct edge list: each round ([[ktrussStep]]) recomputes per-edge
    * triangle support over the SURVIVING edges and semi-joins away every
    * edge supported by fewer than k−2 triangles — removals cascade
    * because a dropped edge kills its triangles' support next round.
    * Returns the round-0..rounds edge sets (round 0 = input), each a
    * [[Rounds]] checkpoint: a round reads its predecessor four times
    * (both wedge sides, the closure canon, the semi-join left). The
    * round's degree-oriented edges are persisted for the wedge plan and
    * freed as soon as its checkpoint is material.
    * Early exit (r17): each round's survivor set is a SUBSET of its
    * predecessor (the semi-join only removes), so equal counts ⟹
    * identical sets ⟹ every later round is the same edge set. Once a
    * round removes nothing, the remaining rounds reuse that checkpoint
    * instead of re-proving stability with full wedge joins. The counts
    * ride the checkpoint jobs and are confirmed exactly
    * ([[Rounds.sameRows]]), since a retry over-count could fake an
    * equality. Round10Spec pins the stable-fixpoint and cascade cases.
    * Scale shape per round: one degree-oriented wedge join (out-degree
    * O(√|E|) under the orientation bound) + one edge-keyed count agg +
    * one edge-keyed semi-join — never an all-pairs step.
    */
  def ktruss(e0: DataFrame, k: Int, rounds: Int): Seq[DataFrame] = {
    require(k >= 3, "ktruss needs k >= 3")
    Rounds("ktruss", rounds) { rs =>
      var cur = rs.keep(rs.checkpoint(e0))
      val out = scala.collection.mutable.Buffer(cur)
      var stable = false
      rs.each { _ =>
        if (!stable) {
          val ed = rs.persisted(orientByDegree(cur))
          val nxt = rs.keep(rs.checkpoint(ktrussStep(cur, ed, k)))
          rs.free(ed) // the checkpoint no longer reads it
          stable = rs.sameRows(cur, nxt)
          cur = nxt
        }
        out += cur
      }
      out.toSeq
    }
  }

  /** One k-truss round: the edges of `cur` in at least k−2 triangles of
    * `cur`, whose degree-oriented edges are `ed`.
    */
  private[graft] def ktrussStep(cur: DataFrame, ed: DataFrame, k: Int): DataFrame =
    cur.join(edgeSupport(ed).filter(col("sup") >= k - 2), Seq("a", "b"), "left_semi")

  /** Per-node triangle participation (node, n_tri): every closed triple
    * credits its three corners — Σ n_tri = 3 × [[triangleCount]] by
    * construction. Same degree-oriented wedge plan, one extra explode +
    * node-keyed hash agg; the input to local clustering coefficients.
    */
  def trianglesPerNode(e: DataFrame): DataFrame =
    triangleTriples(orientByDegree(e).persist())
      .select(explode(array(col("src"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))

  /** Adamic–Adar link-prediction scores over a directed (a < b) edge
    * list: for every NON-adjacent pair with ≥1 common neighbor,
    * `(a, b, n_common, aa_fp)` where aa_fp = Σ_w round(1e9 / ln(deg w))
    * — the 1e9-fixed-point BIGINT discipline, so the sum is exact and
    * partition-order-free. Per-center neighbor sets come from ONE
    * map-side-combinable collect_set agg (deg(w) IS the set size — no
    * separate degree join); pair emission is the [[coPurchase]]
    * in-place generator (narrow, C(deg, 2) per center — AA's intrinsic
    * wedge cost: every wedge carries weight, so unlike triangles no
    * degree orientation can prune it). The 100 TB mitigation is the
    * ENFORCED `hubCap`: centers with more than `hubCap` neighbors are
    * EXCLUDED from pair emission (q290's mega-cart precedent — one
    * 10⁶-degree hub would otherwise emit 5·10¹¹ pairs from a single
    * generator row, and its wedges carry ~1/ln(10⁶) ≈ 0.07 weight each,
    * noise next to any moderate-degree common neighbor; dropping the
    * whole center, not truncating its set, keeps deg(w) and therefore
    * every surviving weight exact). The cap never binds on the fixtures
    * (max co-purchase degree 13 at sf0.01, 6 at sf0.1) and is mirrored
    * verbatim in q312's oracle. A center with one neighbor (where
    * 1/ln(1) diverges) emits zero pairs, so the weight is never
    * evaluated there. Callers rank/limit; q312 is the corpus
    * instantiation.
    */
  def adamicAdar(e0: DataFrame, hubCap: Int = 256): DataFrame = {
    require(hubCap >= 2, "adamicAdar needs hubCap >= 2")
    val spark = e0.sparkSession
    val und = e0.unionByName(e0.select(col("b").as("a"), col("a").as("b")))
    val nbrAll = und.groupBy(col("a").as("w"))
      .agg(array_sort(collect_set(col("b"))).as("ns"))
    // the no-silent-caps discipline, made LAZY (round-13): the hub cap
    // DROPS whole centers from pair emission, so callers get a count,
    // not silence — but the census now rides the caller's own action as
    // an observe() metric (a data-invisible CollectMetrics node; the
    // count folds into the scan that feeds the filter) instead of an
    // eager construction-time count() job, so plan-only consumers
    // (ExplainMany, PlanSpec) stay lazy and Bench's single-JSON-line stdout
    // never sees a stray println — a once-per-session listener reports
    // any nonzero drop through log4j (ERROR-gated in harness sessions).
    ensureHubCensusListener(spark)
    // (the round-12 persist died with the second reader: the census no
    // longer runs as its own job, so the neighbor agg has exactly one
    // downstream consumer — the pair explode)
    val nbr = nbrAll
      .observe(s"${HubCensusMetric}_${censusSeq.incrementAndGet()}",
        sum(when(size(col("ns")) > hubCap, 1L).otherwise(0L))
          .as("dropped_centers"))
      .filter(size(col("ns")) <= hubCap)
    val pairs = nbr.select(
      explode(expr(
        """flatten(transform(ns, (x, i) ->
          |  transform(slice(ns, i + 2, size(ns) - i - 1), y ->
          |    struct(x AS a, y AS b))))""".stripMargin)).as("e"),
      round(lit(1.0e9) / log(size(col("ns")).cast("double")), 0)
        .cast("long").as("w_fp"))
    pairs.select(col("e.a").as("a"), col("e.b").as("b"), col("w_fp"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_common"), sum(col("w_fp")).as("aa_fp"))
      .join(e0, Seq("a", "b"), "left_anti")
  }

  /** Bounded-round deterministic greedy matching over a canonical
    * (a < b) distinct edge list — the mutual-minimum handshake (the
    * deterministic core of Israeli–Itai style distributed matching):
    * each round ([[matchingStep]]) every ACTIVE node proposes to its
    * minimum-id active neighbor, an edge joins the matching iff both
    * endpoints proposed each other, matched nodes leave the graph, and
    * the survivor edges feed the next round. Every round matches at
    * least one edge of any non-empty residual graph (the globally
    * minimum active edge is always mutual), so `rounds` rounds yield a
    * maximal matching on graphs whose residual shrinks fast — and the
    * per-round matched set is always a valid matching by the mutual
    * condition. Returns the per-round matched edge sets (size
    * `rounds`). DETERMINISM: min-id proposals are exact integer
    * aggregates, no tie possible (neighbor sets are sets). Scale shape
    * per round: one node-keyed min agg over the symmetrized survivor
    * edges + one self-equi-join of the node-grain proposal table on
    * (u,v)=(v,u) + two node-keyed anti-joins — never all-pairs. The
    * survivor set is a [[Rounds]] checkpoint (read three times by round
    * r+1: both symmetrization arms + the anti-join left); the last round
    * computes none.
    */
  def greedyMatching(e0: DataFrame, rounds: Int): Seq[DataFrame] =
    Rounds("greedyMatching", rounds) { rs =>
      var cur = rs.checkpoint(e0)
      val out = scala.collection.mutable.Buffer.empty[DataFrame]
      rs.each { r =>
        val matched = rs.keep(rs.checkpoint(matchingStep(cur), "matched"))
        out += matched
        if (r < rounds) { // nothing reads the last round's survivors
          val mn = matched.select(col("a").as("n"))
            .unionByName(matched.select(col("b").as("n")))
          cur = rs.next(cur, cur
            .join(mn, cur("a") === mn("n"), "left_anti")
            .join(mn, cur("b") === mn("n"), "left_anti"))
        }
      }
      out.toSeq
    }

  /** Both orientations (u, v) of an (a, b) edge list. */
  private def directed(e: DataFrame): DataFrame =
    e.select(col("a").as("u"), col("b").as("v"))
      .unionByName(e.select(col("b").as("u"), col("a").as("v")))

  /** One matching round: the mutual-minimum edges of the residual `cur`. */
  private[graft] def matchingStep(cur: DataFrame): DataFrame = {
    val prop = directed(cur).groupBy("u").agg(min(col("v")).as("v"))
    prop.as("p")
      .join(prop.as("q"),
        col("p.u") === col("q.v") && col("p.v") === col("q.u"))
      .filter(col("p.u") < col("p.v"))
      .select(col("p.u").as("a"), col("p.v").as("b"))
  }

  /** Bounded-round deterministic maximal independent set over a
    * canonical (a < b) distinct edge list — Luby's algorithm with
    * id-based symmetry breaking (the derandomized round): each round
    * ([[misStep]]) every ACTIVE node joins the MIS iff its id is smaller
    * than every active neighbor's (two adjacent nodes can never both
    * win — one is larger), then MIS nodes AND their neighbors leave;
    * isolated survivors (no remaining active edge) are trivially
    * independent and join the same round. Every round the
    * locally-minimum nodes of the residual are nonempty, so the MIS
    * grows monotonically and the union over rounds is independent by
    * construction — the symmetry-breaking primitive under distributed
    * coloring and scheduling, the node-side sibling of
    * [[greedyMatching]]'s edge handshake. Returns the per-round MIS
    * node sets (`node` column). DETERMINISM: min-id comparisons over
    * neighbor sets, exact integers. Scale shape per round: one
    * node-keyed min agg over the symmetrized survivor edges + one
    * anti-join to find the isolated, one neighbor expansion join of the
    * (small) MIS set + two node-keyed anti-joins for the removal;
    * survivor edges and nodes are [[Rounds]] checkpoints (each read ≥3
    * times next round); the last round computes none.
    */
  def maximalIndependentSet(e0: DataFrame, rounds: Int): Seq[DataFrame] =
    Rounds("maximalIndependentSet", rounds) { rs =>
      var edges = rs.checkpoint(e0, "edges")
      var nodes = rs.checkpoint(e0.select(col("a").as("node"))
        .unionByName(e0.select(col("b").as("node")))
        .distinct(), "nodes")
      val out = scala.collection.mutable.Buffer.empty[DataFrame]
      rs.each { r =>
        val mis = rs.keep(rs.checkpoint(misStep(edges, nodes), "mis"))
        out += mis
        if (r < rounds) { // nothing reads the last round's survivors
          val dir = directed(edges)
          val removed = mis
            .unionByName(dir.join(mis, dir("u") === mis("node"))
              .select(dir("v").as("node")))
            .distinct()
          nodes = rs.next(nodes, nodes.join(removed, Seq("node"), "left_anti"), "nodes")
          edges = rs.next(edges, edges
            .join(nodes.select(col("node").as("a")), Seq("a"), "left_semi")
            .join(nodes.select(col("node").as("b")), Seq("b"), "left_semi"), "edges")
        }
      }
      out.toSeq
    }

  /** One Luby round: the `nodes` whose id beats every neighbor's over `edges`. */
  private[graft] def misStep(edges: DataFrame, nodes: DataFrame): DataFrame = {
    val nbrMin = directed(edges).groupBy("u").agg(min(col("v")).as("mn"))
    nodes
      .join(nbrMin, nodes("node") === nbrMin("u"), "left")
      .filter(col("mn").isNull || col("node") < col("mn"))
      .select(col("node"))
  }

  /** Bounded-step deterministic random walks over a symmetric (a, b)
    * edge list from `seeds` (walk_id, node) rows: `steps` transitions
    * ([[walkStep]]), each the (md5(walk|step|neighbor), id)-argmin over
    * the current node's neighbors — the repo's reproducible-hash
    * convention standing in for RNG, so the walk corpus is identical
    * across runs, partitionings, and engines. Returns (walk_id, node,
    * path) with path the '>'-joined node sequence. The walk set never
    * grows (one row per walk per step); each step is one walk-keyed
    * equi-join against the edge list + one walk-keyed min agg, a
    * [[Rounds]] checkpoint. Callers persist the edge side across steps.
    */
  def randomWalks(e: DataFrame, seeds: DataFrame, steps: Int): DataFrame =
    Rounds("randomWalks", steps) { rs =>
      var cur = rs.checkpoint(seeds.select(col("walk_id"), col("node"),
        col("node").cast("string").as("path")))
      rs.each(t => cur = rs.next(cur, walkStep(cur, e, t)))
      rs.keep(cur)
    }

  /** Walk step `t`: every walk of `cur` moves to its hash-argmin neighbor in `e`. */
  private[graft] def walkStep(cur: DataFrame, e: DataFrame, t: Int): DataFrame =
    cur.join(e, cur("node") === e("a"))
      .select(col("walk_id"), col("path"), col("b").as("v"),
        md5(concat_ws("|", col("walk_id").cast("string"), lit(t.toString),
          col("b").cast("string"))).as("h"))
      .groupBy("walk_id", "path")
      .agg(min(struct(col("h"), col("v"))).as("m"))
      .select(col("walk_id"), col("m.v").as("node"),
        concat(col("path"), lit(">"), col("m.v").cast("string")).as("path"))
}
