package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.AsOfJoin
import graft.sources.{Documents, Relational}

/** Relational query pack over the TPC-H-ish driver tables — the extended
  * analytics surface of SURVEY §2.2 (joins, windows, grouping sets, set
  * ops, scalar functions, as-of and range joins), each with a DuckDB
  * oracle.
  *
  * Determinism contract with the oracle: every floating aggregate is cast
  * to DECIMAL *before* aggregation (exact, order-independent arithmetic —
  * a parallel double sum is order-dependent and would flake the hash
  * compare) and cast back to DOUBLE for output; both engines perform the
  * identical exact-decimal → double conversion.
  *
  * Scale notes are per-query in the Scaladoc.
  */
object RelationalQueries {

  /** A TPC-H-shaped fixture table with its declared schema
    * ([[Relational]]); `events` is read through [[events]].
    */
  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Relational.read(spark, dir, name)

  /** `events.ts` has shipped as either TIMESTAMP(NANOS) — which Spark's
    * parquet reader rejects without the legacy conf — or plain
    * TIMESTAMP(MICROS), depending on the generator version. Adapt to the
    * file's actual physical type: raw INT64 nanos are floor-converted to
    * micros (the identical truncation DuckDB's `epoch_us` applies), a
    * native timestamp (read as NTZ for tz-less parquet) is cast to the
    * session-UTC TIMESTAMP both engines agree on. Either path yields the
    * same micro-resolution instants, keeping the oracle comparison exact.
    */
  private[queries] def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Exact decimal sum emitted as double. */
  private def dsum(c: Column): Column =
    sum(c.cast("decimal(18,4)")).cast("double")

  // --------------------------------------------------------------------
  // q10: TPC-H Q1-shaped pricing summary — multi-aggregate hash agg with a
  // pushed-down timestamp filter. Scale: partial aggregation on 2-value
  // group keys makes the shuffle tiny regardless of input size; the filter
  // reaches the parquet scan (PushedFilters).
  def q10PricingSummary(spark: SparkSession, dir: String): DataFrame =
    pricingSummaryAgg(t(spark, dir, "lineitem"))

  /** The q10 aggregation body over any lineitem-shaped frame — shared by
    * the batch query, q126's incremental partial fold (its oracle), and
    * the streaming parity spec: a complete-mode micro-batch aggregation
    * of this exact operator IS the incremental-maintenance loop, state
    * bounded by the group-key count (exact decimal sums merge by sum).
    */
  def pricingSummaryAgg(li: DataFrame): DataFrame =
    li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base"),
        sum(col("l_extendedprice").cast("decimal(18,4)") *
          (lit(1).cast("decimal(18,4)") - col("l_discount").cast("decimal(18,4)")))
          .cast("double").as("sum_disc"),
        count(lit(1)).as("cnt"))

  // q11: revenue by nation — lineitem ⋈ orders (big-big, shuffled on the
  // join key) with customer/nation/region broadcast. Scale: dims stay
  // broadcast-sized at any SF (nation/region are fixed); the one real
  // shuffle is lineitem⋈orders on orderkey, AQE-handled.
  def q11RevenueByNation(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(spark, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(spark, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(spark, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"), col("r_name"))
      .agg(
        sum(col("l_extendedprice").cast("decimal(18,4)") *
          (lit(1).cast("decimal(18,4)") - col("l_discount").cast("decimal(18,4)")))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))

  // q12: left-semi join — customers having at least one open ('O') order.
  // Scale: semi-join never duplicates the left side; Catalyst picks
  // broadcast or shuffled-hash based on size.
  def q12SemiJoin(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .join(
        t(spark, dir, "orders").filter(col("o_orderstatus") === "O"),
        col("c_custkey") === col("o_custkey"),
        "left_semi")
      .select("c_custkey", "c_name")

  // q39: explicitly-salted skew join — orders⋈customer through
  // SkewJoin.saltedJoin (hot keys fan out over 8 salt sub-keys), folded
  // to a per-segment aggregate. Salting is join-semantics-neutral, so
  // the oracle is the PLAIN join — the driver check proves the salted
  // plan changes the shuffle layout and nothing else.
  def q39SaltedJoin(spark: SparkSession, dir: String): DataFrame =
    graft.operators.SkewJoin.saltedJoin(
      t(spark, dir, "orders").withColumnRenamed("o_custkey", "c_custkey"),
      t(spark, dir, "customer"),
      "c_custkey",
      saltFactor = 8)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("sum_price"))

  // q13: left-anti join — customers with no orders at all.
  def q13AntiJoin(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .join(t(spark, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")

  // q14: window top-N — top-3 orders per customer by (totalprice desc,
  // orderkey asc). Scale: single hash exchange on o_custkey + in-partition
  // sort; rank filter prunes before any further stage.
  def q14WindowTopN(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    t(spark, dir, "orders")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(
        col("o_custkey"),
        col("o_orderkey"),
        col("rk"),
        col("o_totalprice").cast("decimal(18,4)").cast("double").as("totalprice"))
  }

  // q15: rollup over (returnflag, linestatus) — grouping sets with 'ALL'
  // labels derived from grouping() so the oracle compare has no NULL
  // ambiguity.
  def q15Rollup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("cnt"),
        grouping(col("l_returnflag")).as("g_rf"),
        grouping(col("l_linestatus")).as("g_ls"))
      .select(
        when(col("g_rf") === 1, lit("ALL")).otherwise(col("l_returnflag")).as("returnflag"),
        when(col("g_ls") === 1, lit("ALL")).otherwise(col("l_linestatus")).as("linestatus"),
        col("sum_qty"), col("cnt"))

  // q16: relational set ops — nations that have customers vs suppliers,
  // via EXCEPT / INTERSECT (distinct semantics), tagged and unioned.
  def q16SetOps(spark: SparkSession, dir: String): DataFrame = {
    val nation = t(spark, dir, "nation")
    val custN = t(spark, dir, "customer")
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .select("n_name").distinct()
    val suppN = t(spark, dir, "supplier")
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .select("n_name").distinct()
    custN.except(suppN).withColumn("side", lit("customer_only"))
      .unionByName(suppN.except(custN).withColumn("side", lit("supplier_only")))
      .unionByName(custN.intersect(suppN).withColumn("side", lit("both")))
  }

  // q17: scalar-function surface — date parts, string ops, modular math.
  // All built-in codegen'd expressions; whole query is one narrow stage.
  def q17ScalarFuncs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("d"),
        upper(substring(col("o_orderpriority"), 1, 4)).as("pri4"),
        length(col("o_orderstatus")).as("st_len"),
        concat_ws("-", col("o_orderstatus"), col("o_orderpriority")).as("tag"),
        pmod(col("o_orderkey"), lit(7)).as("bucket7"),
        greatest(col("o_totalprice").cast("decimal(18,4)"), lit(1000).cast("decimal(18,4)"))
          .cast("double").as("price_floor"))

  // q18: as-of join — for each click event, the most recent prior-or-equal
  // purchase by the same user (AsOfJoin operator: union+window, one shuffle
  // on user_id, no cross product; see operators/AsOfJoin.scala).
  def q18AsOf(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts"))
    // dedupe purchases to one per (user, ts) with max event_id so the
    // as-of pick is total-ordered
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts").as("pts"))
      .agg(max(col("event_id")).as("purchase_id"))
    AsOfJoin(clicks, purchases, "user_id", "ts", "pts", Seq("purchase_id"))
      .select(
        col("click_id"),
        col("user_id"),
        col("asof_purchase_id").as("purchase_id"))
  }

  // q19: range join — bucket events into value tiers via a broadcast
  // non-equi join against a 3-row bounds table. Scale: the small side is
  // constant-sized → BroadcastNestedLoopJoin is the right physical plan.
  def q19RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tiers = Seq(
      (Double.NegativeInfinity, 10.0, "low"),
      (10.0, 100.0, "mid"),
      (100.0, Double.PositiveInfinity, "high")).toDF("lo", "hi", "tier")
    events(spark, dir)
      .join(broadcast(tiers), col("value") >= col("lo") && col("value") < col("hi"))
      .groupBy(col("event_type"), col("tier"))
      .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sum_value"))
  }

  // q50: tumbling 1-hour event-time windows per event_type — the batch
  // expression of the Structured Streaming windowed agg (streaming/
  // IncrementalIndex uses the same plan shape with a watermark).
  def q50HourlyWindows(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sum_value"))
      .select(
        col("w.start").as("hour_start"),
        col("event_type"), col("cnt"), col("sum_value"))

  // q95: Z-order (Morton) clustering key over (user_id, hour bucket) —
  // the multi-dimensional data-skipping layout: write the table
  // sorted/sortWithinPartitions by zkey and rows close in BOTH
  // dimensions share parquet row groups, so min/max stats prune 2-D
  // predicates (user × time) that a single-column sort only prunes on
  // its leading column. The key itself is a narrow shuffle-free
  // projection (PlanSpec-guarded) — the query verifies the key
  // bit-for-bit; the write-side sort is the caller's one line.
  def q95ZorderLayout(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(
        col("event_id"), col("user_id"),
        expr("unix_micros(ts) DIV 3600000000").as("hour_bucket"))
      .withColumn("zkey",
        graft.functions.ZOrderKey(col("user_id"), col("hour_bucket")))

  // q51: gap-based sessionization (30-min inactivity) as a batch window
  // computation: lag + running sum of session-start flags. One shuffle on
  // user_id; the same semantics as the streaming state operator.
  def q51Sessions(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    events(spark, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn(
        "new_session",
        when(
          col("prev_ts").isNull ||
            unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800L * 1000000L,
          1).otherwise(0))
      .groupBy("user_id")
      .agg(
        sum(col("new_session")).as("n_sessions"),
        count(lit(1)).as("n_events"))
  }

  // q107: SLIDING event-time windows — window(ts, 2h, 30m): every event
  // lands in exactly 4 overlapping windows (length/slide), the standard
  // smoothed-rate view a monitoring pipeline reads. Epoch-aligned window
  // starts (Spark's origin) are mirrored arithmetically by the oracle;
  // money sums go through exact decimal before the double cast (q50's
  // rule), so overlap replication stays order-invariant.
  def q107SlidingWindows(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(window(col("ts"), "2 hours", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sum_value"))
      .select(
        col("w.start").as("win_start"),
        col("event_type"), col("cnt"), col("sum_value"))

  // q108: native session_window (Spark's built-in session operator —
  // the same 30-minute inactivity gap as the lag-based q51, which
  // serves as its independent oracle formulation): one row per
  // (user, session) with start / end (= last event + gap) / size.
  def q108SessionWindow(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("user_id"),
        col("sw.start").as("sess_start"),
        col("sw.end").as("sess_end"),
        col("n_events"))

  // q111: view→click attribution within 4 hours — the BATCH twin of
  // the watermarked stream-STREAM interval join
  // (StreamingOps.attributeWithin — the same operator runs both; stream/
  // batch parity asserted in StreamingSpec). Equi-key on user plus an
  // event-time range; in batch this plans as one shuffled equi-join with
  // the range as a post-join filter. The 4-hour window matches the
  // fixture's per-user event density (~1 event / 7 h), keeping the
  // oracle comparison non-trivial.
  def q111ClickAttribution(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
    graft.streaming.StreamingOps.attributeWithin(
      e.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts")),
      e.filter(col("event_type") === "click")
        .select(col("user_id").as("click_user"), col("event_id").as("click_id"),
          col("ts").as("click_ts")),
      gapMinutes = 240)
  }

  // q122: ordered conversion funnel (signup → view → click → purchase,
  // each step within 24 h of the previous) — each step is the FIRST
  // qualifying event strictly after the previous step's timestamp and
  // inside the conversion window, computed as a cascade of user-keyed
  // min-aggs. The events table is scanned once per step with the step's
  // type filter pushed to the parquet scan; every post-step-1 relation
  // is |users|-sized (orders of magnitude below |events| at any SF), so
  // the step joins broadcast under AQE. No events×events self-join
  // exists in the plan — the classic funnel anti-pattern of a 4-way
  // event self-join would explode candidate combinations; here shuffled
  // bytes after step 1 are user-distinct step timestamps only.
  def q122Funnel(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir).select("user_id", "event_type", "ts")
    val s1 = e.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("ts")).as("t1"))
    // each step relation is referenced twice (as the next step's seed and
    // in the final assembly join); persist the user-sized results so the
    // cascade runs each events scan ONCE instead of recomputing the whole
    // prefix chain per reference (10 scans → 4). Runner owns the cache
    // lifecycle (clearCache per query).
    def step(prev: DataFrame, prevCol: String, evType: String, outCol: String): DataFrame =
      e.filter(col("event_type") === evType)
        .join(prev.select(col("user_id"), col(prevCol)), Seq("user_id"))
        .filter(col("ts") > col(prevCol)
          && col("ts") <= col(prevCol) + expr("INTERVAL 24 HOURS"))
        .groupBy("user_id").agg(min(col("ts")).as(outCol))
        .persist()
    val s2 = step(s1.persist(), "t1", "view", "t2")
    val s3 = step(s2, "t2", "click", "t3")
    val s4 = step(s3, "t3", "purchase", "t4")
    s1.join(s2, Seq("user_id"), "left")
      .join(s3, Seq("user_id"), "left")
      .join(s4, Seq("user_id"), "left")
      .select(
        col("user_id"),
        (lit(1)
          + when(col("t2").isNotNull, 1).otherwise(0)
          + when(col("t3").isNotNull, 1).otherwise(0)
          + when(col("t4").isNotNull, 1).otherwise(0)).cast("int").as("steps"),
        unix_micros(col("t1")).as("signup_us"),
        unix_micros(col("t2")).as("view_us"),
        unix_micros(col("t3")).as("click_us"),
        unix_micros(col("t4")).as("purchase_us"))
  }

  // q123: weekly cohort retention on the conversion event — cohort = ISO
  // week (Monday-truncated) of a user's first purchase; one row per
  // (cohort, week offset) counting distinct users who purchased again.
  // The (user, week) activity grid is deduped FIRST (one hash agg over a
  // 2-column projection with the event-type filter pushed to the scan),
  // so the cohort join and final agg run on at most |users|×|weeks| rows
  // regardless of the per-user event volume — the 100 TB shape is scan →
  // tiny grid → tiny agg, never a count(DISTINCT) over raw events. The
  // offset division is exact: both timestamps are Monday-aligned so the
  // micros delta is an exact multiple of 604800000000.
  def q123Retention(spark: SparkSession, dir: String): DataFrame = {
    val wk = events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), date_trunc("week", col("ts")).as("week"))
      .distinct()
    val cohort = wk.groupBy("user_id").agg(min(col("week")).as("cohort_week"))
    wk.join(cohort, Seq("user_id"))
      .groupBy(
        col("cohort_week"),
        ((unix_micros(col("week")) - unix_micros(col("cohort_week")))
          / lit(604800000000L)).cast("int").as("week_offset"))
      // wk is (user, week)-distinct and a user has one cohort week, so
      // each user hits a (cohort, offset) cell at most once: plain count
      // IS the distinct-user count, no count(DISTINCT) shuffle needed.
      .agg(count(lit(1)).as("n_users"))
      .select(
        unix_micros(col("cohort_week")).as("cohort_us"),
        col("week_offset"), col("n_users"))
  }

  // q125: SCD type-2 dimension build — per-user validity intervals of the
  // current event_type, the gaps-and-islands pattern every warehouse
  // ingest needs. One shuffle on user_id; the change-flag lag, the
  // running version sum and the interval-close lead all reuse that same
  // (user_id, ts) sort. Run rows (user × version) are change-count-sized,
  // far below |events|, so the second window is cheap. valid_to is NULL
  // for the open (current) interval.
  def q125Scd2(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    val lagType = lag(col("event_type"), 1).over(w)
    val marked = events(spark, dir)
      .select("user_id", "event_id", "event_type", "ts")
      .withColumn("chg",
        when(lagType.isNull || lagType =!= col("event_type"), 1).otherwise(0))
      .withColumn("version",
        sum(col("chg")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // event_type is constant within a run, so grouping BY it (rather than
    // min()-aggregating it) is semantics-identical — and keeps the agg a
    // HashAggregate: a min(string) has an immutable buffer, which demotes
    // the whole groupBy to SortAggregate plus an extra full sort of the
    // events-sized input (measured 10× slower at the 10× scale sweep).
    val runs = marked.groupBy(col("user_id"), col("version"), col("event_type"))
      .agg(
        min(col("ts")).as("valid_from"),
        count(lit(1)).as("n_events"))
    val w2 = Window.partitionBy("user_id").orderBy(col("version").asc)
    runs.select(
      col("user_id"),
      col("version").cast("int").as("version"),
      col("event_type"),
      unix_micros(col("valid_from")).as("valid_from_us"),
      unix_micros(lead(col("valid_from"), 1).over(w2)).as("valid_to_us"),
      col("n_events"))
  }

  // q126: incremental aggregate maintenance (materialized-view refresh) —
  // the q10 pricing summary maintained as persisted base partials FOLDED
  // with a delta batch's partials, instead of a full recompute. This is
  // the 100 TB operating mode for standing aggregates: the base partial
  // table is group-key-sized (a few rows here), so refreshing after an
  // append touches ONLY the delta — cost is O(|delta|), not O(|table|).
  // Works because every aggregate is algebraic (sum/count merge by sum);
  // all money math stays exact-decimal until the final double cast, so
  // the two-level fold is bit-identical to q10's one-level aggregation —
  // and the oracle IS q10's full recompute, making the refresh-equals-
  // recompute contract driver-verified. The 10%-of-orderkeys delta split
  // is deterministic (modulo), standing in for an append batch.
  def q126IncrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
    val isDelta = col("l_orderkey") % 10 === 0
    def partials(df: DataFrame): DataFrame =
      df.groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("decimal(18,4)")).as("pqty"),
          sum(col("l_extendedprice").cast("decimal(18,4)")).as("pbase"),
          sum(col("l_extendedprice").cast("decimal(18,4)") *
            (lit(1).cast("decimal(18,4)") - col("l_discount").cast("decimal(18,4)")))
            .as("pdisc"),
          count(lit(1)).as("pcnt"))
    partials(li.filter(!isDelta))
      .unionByName(partials(li.filter(isDelta)))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("pqty")).cast("double").as("sum_qty"),
        sum(col("pbase")).cast("double").as("sum_base"),
        sum(col("pdisc")).cast("double").as("sum_disc"),
        sum(col("pcnt")).as("cnt"))
  }

  // q128: equi-DEPTH histogram (the statistics a cost-based optimizer
  // and a data-skipping layout both want) without the global sort an
  // ntile() window would need: quartile boundaries come from ONE exact
  // percentile aggregation (sketch-swappable at 100 TB — q58 documents
  // the approx_percentile twin), broadcast back as a 1-row table, and
  // bucket assignment is a codegen'd projection. Scale: no shuffle ever
  // carries the fact table; the only exchanges are the boundary agg and
  // the 4-group final agg.
  def q128EquidepthHistogram(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val bounds = li.agg(
      expr("percentile(l_extendedprice, array(0.25, 0.5, 0.75))").as("b"))
      .select(
        round(element_at(col("b"), 1), 6).as("b1"),
        round(element_at(col("b"), 2), 6).as("b2"),
        round(element_at(col("b"), 3), 6).as("b3"))
    li.select("l_extendedprice").crossJoin(broadcast(bounds))
      .select(
        when(col("l_extendedprice") <= col("b1"), 1)
          .when(col("l_extendedprice") <= col("b2"), 2)
          .when(col("l_extendedprice") <= col("b3"), 3)
          .otherwise(4).as("bucket"),
        col("l_extendedprice"))
      .groupBy("bucket")
      .agg(
        count(lit(1)).as("n"),
        round(min(col("l_extendedprice")), 6).as("lo"),
        round(max(col("l_extendedprice")), 6).as("hi"))
  }

  // q129: explicit GROUPING SETS through the SQL parser path (rollup q15
  // and cube q56 cover the DataFrame API; this one exercises spark.sql —
  // the text → LogicalPlan → same Expand operator route a SQL user
  // takes). gid is composed as 2·grouping(a)+grouping(b) because that
  // arithmetic is portable to the oracle; one Expand + one hash agg, the
  // shuffle carries only group keys.
  def q129GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "lineitem").createOrReplaceTempView("lineitem_q129")
    spark.sql(
      """SELECT
        |  CASE WHEN grouping(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS returnflag,
        |  CASE WHEN grouping(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS linestatus,
        |  CAST(2 * grouping(l_returnflag) + grouping(l_linestatus) AS INT) AS gid,
        |  count(*) AS cnt
        |FROM lineitem_q129
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
        |                        (l_returnflag, l_linestatus))""".stripMargin)
  }

  // q130: string-similarity self-join (fuzzy entity matching) WITHOUT a
  // cross product — customer names within Hamming distance 1, candidates
  // from SymSpell-style WILDCARD-POSITION keys: every string emits L
  // variants with one position masked out, and two strings at distance
  // ≤ 1 necessarily share the key masked at their (single) differing
  // position. Selectivity is exact — a bucket holds only strings
  // identical everywhere but the masked slot, so candidates ≈ answers
  // and the join volume is L·N key rows, never pair-quadratic. (Two
  // rejected designs, both measured: half-string pigeonhole banding
  // degenerates because every name shares the constant "Customer#" half
  // — one bucket IS the cross product, minutes at sf0.1; a PPJoin
  // rarest-q-gram prefix filter stays complete but over-generates 29×
  // on this dense serial key space because the (d·q+1)-th rarest gram
  // still has df ~N/10³.) Generalizes to Hamming ≤ d by masking the
  // (L choose d) position sets, and to edit distance via deletion
  // neighborhoods. The verify is a codegen'd higher-order filter; the
  // candidate join is key-equality, PlanSpec-guarded cross-product-free.
  def q130NameMatch(spark: SparkSession, dir: String): DataFrame = {
    val names = t(spark, dir, "customer")
      .select(col("c_custkey").as("id"), col("c_name").as("name"))
    val keyed = names
      .select(col("id"), col("name"), explode(expr(
        "transform(sequence(1, length(name)), i -> " +
          "concat(substring(name, 1, i - 1), chr(1), substring(name, i + 1)))"))
        .as("k"))
    val cand = keyed.select(col("k"), col("id").as("id_a"), col("name").as("name_a"))
      .join(keyed.select(col("k"), col("id").as("id_b"), col("name").as("name_b")), Seq("k"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "name_a", "name_b").distinct()
    cand
      .withColumn("n_diff", expr(
        "size(filter(sequence(1, length(name_a)), " +
          "i -> substring(name_a, i, 1) <> substring(name_b, i, 1)))"))
      .filter(col("n_diff") <= 1)
      .select(col("id_a"), col("id_b"), col("name_a"), col("name_b"), col("n_diff"))
  }

  // q133: association rules over the per-user event-type basket —
  // support / confidence / lift for every directional type pair, the
  // market-basket primitive. The (user, type) grid is deduped first (one
  // hash agg), so the co-occurrence self-join fans out at most
  // |types|² per user — bounded by the type vocabulary, never by event
  // volume. All counts are exact longs; the three ratios are derived
  // with identical expressions in the oracle.
  def q133AssociationRules(spark: SparkSession, dir: String): DataFrame = {
    val grid = events(spark, dir).select("user_id", "event_type").distinct().persist()
    val totals = grid.agg(countDistinct(col("user_id")).as("n_users"))
    val supp = grid.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val co = grid.select(col("user_id"), col("event_type").as("antecedent"))
      .join(grid.select(col("user_id"), col("event_type").as("consequent")), Seq("user_id"))
      .filter(col("antecedent") =!= col("consequent"))
      .groupBy("antecedent", "consequent").agg(count(lit(1)).as("n_ab"))
    co
      .join(supp.select(col("event_type").as("antecedent"), col("n").as("n_a")), "antecedent")
      .join(supp.select(col("event_type").as("consequent"), col("n").as("n_b")), "consequent")
      .crossJoin(broadcast(totals))
      .select(
        col("antecedent"), col("consequent"), col("n_ab"),
        round(col("n_ab") / col("n_users"), 6).as("support"),
        round(col("n_ab") / col("n_a"), 6).as("confidence"),
        round((col("n_ab") * col("n_users")) / (col("n_a") * col("n_b")), 6).as("lift"))
  }

  // q131: linear multi-touch attribution — every view in the 24 h before
  // a purchase shares the conversion credit equally (round(1/n, 6)).
  // The q111 interval-join shape with the roles reversed, plus one
  // per-purchase count window to split the credit; integer counts make
  // the fractional credits deterministic. Scale: equi-join on user with
  // the time range as a post-join filter (exactly the watermark-bounded
  // stream-stream join's batch twin), window partitions are per-purchase
  // touch lists — bounded by the attribution window, not event volume.
  def q131MultiTouch(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = events(spark, dir)
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
    views.join(purchases, Seq("user_id"))
      .filter(col("view_ts") < col("purchase_ts")
        && col("view_ts") >= col("purchase_ts") - expr("INTERVAL 24 HOURS"))
      .withColumn("n_touches",
        count(lit(1)).over(Window.partitionBy(col("purchase_id"))))
      .select(
        col("user_id"), col("purchase_id"), col("view_id"),
        unix_micros(col("view_ts")).as("view_us"),
        col("n_touches"),
        round(lit(1.0) / col("n_touches"), 6).as("credit"))
  }

  // q132: ratio-to-report — each nation's share of its REGION's revenue,
  // the classic percent-of-total window over the q11 star join. The
  // window re-sums the already-exact per-nation revenues through decimal
  // so the region total is partition-order-invariant (a raw double
  // window sum would flake the oracle hash); the window partitions are
  // |regions|-sized, negligible at any SF.
  def q132RevenueShare(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    q11RevenueByNation(spark, dir)
      .withColumn("region_revenue",
        sum(col("revenue").cast("decimal(18,4)"))
          .over(Window.partitionBy(col("r_name"))).cast("double"))
      .select(
        col("n_name"), col("r_name"), col("revenue"), col("n_items"),
        col("region_revenue"),
        round(col("revenue") / col("region_revenue"), 6).as("region_share"))
  }

  // q52: running-total window frame — cumulative spend per customer in
  // order-date order (rowsBetween unbounded preceding → current). One
  // shuffle on o_custkey; frame evaluation is streaming within the sorted
  // partition.
  def q52RunningTotal(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(spark, dir, "orders")
      .select(
        col("o_custkey"), col("o_orderkey"),
        sum(col("o_totalprice").cast("decimal(18,4)")).over(w)
          .cast("double").as("cum_spend"))
  }

  // q53: full-outer join — per-nation customer vs supplier counts, nations
  // with only one side present kept with zero on the other.
  def q53FullOuter(spark: SparkSession, dir: String): DataFrame = {
    val nation = t(spark, dir, "nation")
    val cn = t(spark, dir, "customer")
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("cn_name")).agg(count(lit(1)).as("c_cnt"))
    val sn = t(spark, dir, "supplier")
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("sn_name")).agg(count(lit(1)).as("s_cnt"))
    cn.join(sn, col("cn_name") === col("sn_name"), "full_outer")
      .select(
        coalesce(col("cn_name"), col("sn_name")).as("n_name"),
        coalesce(col("c_cnt"), lit(0L)).as("c_cnt"),
        coalesce(col("s_cnt"), lit(0L)).as("s_cnt"))
  }

  // q54: arg-max aggregation — each user's latest event (max_by on the
  // event-time; deterministic because (ts, event_id) is unique per user).
  def q54LastEvent(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy("user_id")
      .agg(
        max_by(col("event_id"), col("ts")).as("last_event_id"),
        unix_micros(max(col("ts"))).as("last_ts_us"))

  // q55: semi-structured scalar functions — parse the JSON props column
  // and aggregate the extracted field. get_json_object is codegen'd; no
  // UDF, the JSON never leaves the projection.
  def q55JsonExtract(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(
        col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(sum(col("k")).as("sum_k"), count(col("k")).as("n_with_k"))

  // q74: semi-structured VARIANT surface (Spark 4) — props parsed ONCE
  // into the binary variant encoding, fields then extracted with typed
  // variant_get. Same answer as q55's per-path get_json_object, but the
  // parse cost is paid once per row regardless of how many fields are
  // read — the right shape when extracting many fields at 100 TB.
  def q74VariantJson(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(
        col("event_type"),
        expr("variant_get(parse_json(props), '$.k', 'long')").as("k"))
      .groupBy("event_type")
      .agg(
        sum(col("k")).as("sum_k"),
        max(col("k")).as("max_k"),
        count(col("k")).as("n_with_k"))

  // q56: CUBE over (returnflag, linestatus) — all four grouping sets with
  // 'ALL' labels (completes the grouping-sets surface next to q15 rollup).
  def q56Cube(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("cnt"),
        grouping(col("l_returnflag")).as("g_rf"),
        grouping(col("l_linestatus")).as("g_ls"))
      .select(
        when(col("g_rf") === 1, lit("ALL")).otherwise(col("l_returnflag")).as("returnflag"),
        when(col("g_ls") === 1, lit("ALL")).otherwise(col("l_linestatus")).as("linestatus"),
        col("cnt"))

  // q57: pivot — events-per-type counts widened to columns per user.
  // The pivot value list is explicit (deterministic column set; an
  // inferred list would need an extra distinct pass over the data).
  def q57Pivot(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .toDF("user_id", "n_click", "n_view", "n_purchase", "n_signup", "n_error")

  // q28: scalar-aggregate subquery shape — customers whose total spend
  // exceeds the all-customer average. The average compare is done in
  // exact decimal integer form (spend × n > total) so no double rounding
  // can flip boundary rows; the one-row global aggregate joins back via
  // broadcast (the physical plan of a scalar subquery). Precision bound:
  // the product is decimal(18,4) × decimal(12,0) → decimal(31,4), under
  // Spark's 38-digit cap, so it stays EXACT while any one customer's
  // spend < 10^14 and customer count < 10^12 (raw sum(decimal) precision
  // would be 28, and 28-digit × bigint exceeds the cap and silently
  // loses precision where DuckDB's hugeint-backed decimals don't). The
  // down-cast overflows loudly, never silently.
  def q28BigSpenders(spark: SparkSession, dir: String): DataFrame = {
    val spend = t(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,4)")).as("spend_d"))
    val tot = spend.agg(
      sum(col("spend_d")).as("tot"), count(lit(1)).as("n_cust"))
    spend.crossJoin(broadcast(tot))
      .filter(
        col("spend_d").cast("decimal(18,4)") * col("n_cust").cast("decimal(12,0)")
          > col("tot"))
      .select(
        col("o_custkey").as("c_custkey"),
        col("spend_d").cast("double").as("spend"))
  }

  // q58: exact quantiles — linearly-interpolated percentiles of extended
  // price per returnflag (Spark `percentile` == DuckDB `quantile_cont`,
  // both h = (n-1)p interpolation). Exact ordering of doubles is
  // deterministic; only the interpolation produces non-input values, and
  // those are rounded to 6dp on both sides. Scale note: exact percentile
  // collects per-group sorted state — right for low-cardinality groups
  // like this; the high-cardinality scale path is approx_percentile
  // (t-digest sketch, mergeable map-side), asserted against this exact
  // result in the spec rather than the oracle.
  def q58Quantiles(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        round(expr("percentile(l_extendedprice, 0.25)"), 6).as("p25"),
        round(expr("percentile(l_extendedprice, 0.5)"), 6).as("p50"),
        round(expr("percentile(l_extendedprice, 0.75)"), 6).as("p75"),
        round(expr("percentile(l_extendedprice, 0.9)"), 6).as("p90"),
        count(lit(1)).as("cnt"))

  // q59: string-distance scalar surface — Levenshtein edit distance over
  // all nation-name pairs (the fuzzy-match primitive for entity
  // resolution). The pair space is dimension-sized so the cross join is
  // broadcast; at corpus scale fuzzy matching goes through a blocking
  // join (LSH/prefix) first, same shape as the dedup candidate pipeline.
  def q59EditDistance(spark: SparkSession, dir: String): DataFrame = {
    val nation = t(spark, dir, "nation")
    val a = nation.select(col("n_nationkey").as("k_a"), col("n_name").as("name_a"))
    val b = nation.select(col("n_nationkey").as("k_b"), col("n_name").as("name_b"))
    a.crossJoin(broadcast(b))
      .filter(col("k_a") < col("k_b"))
      .select(
        col("name_a"), col("name_b"),
        levenshtein(col("name_a"), col("name_b")).as("dist"))
  }

  // q116: join-cardinality estimation via count-min sketch inner
  // product (Cormode & Muthukrishnan 2005 §4.2) — the optimizer-style
  // |A ⋈ B| estimate a planner uses to pick join order/strategy WITHOUT
  // shuffling either table by key. Each side folds to a d×w counter
  // grid (4×1024 longs here, constant at ANY table size) via a
  // map-side-combinable agg on the bounded (row, bucket) key — the only
  // keyed shuffle is over ≤ d·w rows. estimate = min over rows of the
  // sketch inner product Σ_b a[r][b]·b[r][b]; collisions only ADD
  // non-negative mass, so est >= exact always (spec-pinned). The exact
  // per-key join count is computed as the AUDIT column (that one does
  // pay the keyed shuffle — it exists to show the error, not as the
  // production path). Deterministic end to end: md5 buckets + integer
  // sums, replayed verbatim by the oracle.
  def q116JoinCardinality(spark: SparkSession, dir: String): DataFrame = {
    val D = 4
    val W = 1024
    def sketch(df: DataFrame, key: Column, cName: String): DataFrame = {
      val rb = explode(array((0 until D).map(r =>
        struct(
          lit(r).as("r"),
          (conv(substring(md5(concat(lit(s"$r|"), key.cast("string"))), 1, 8), 16, 10)
            .cast("long") % W).as("b"))): _*))
      df.select(rb.as("rb"))
        .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
        .agg(count(lit(1)).as(cName))
    }
    val li = t(spark, dir, "lineitem")
    val ord = t(spark, dir, "orders")
    val est = sketch(li, col("l_orderkey"), "ca")
      .join(sketch(ord, col("o_orderkey"), "cb"), Seq("r", "b"))
      .groupBy("r").agg(sum(col("ca") * col("cb")).as("ip"))
      .agg(min(col("ip")).as("est_pairs"))
    val exact = li.groupBy(col("l_orderkey").as("k")).agg(count(lit(1)).as("na"))
      .join(ord.groupBy(col("o_orderkey").as("k")).agg(count(lit(1)).as("nb")), "k")
      .agg(sum(col("na") * col("nb")).as("exact_pairs"))
    est.crossJoin(exact)
      .select(
        col("est_pairs"), col("exact_pairs"),
        round(col("est_pairs").cast("double") / col("exact_pairs").cast("double") - 1.0, 6)
          .as("rel_err"))
  }

  // q119: runtime semi-join reduction (Bloom join pruning) — the
  // 100 TB join technique: when the probe side is huge and the build
  // side is SELECTIVE (here: top-price orders, ~4% of the table), a
  // Bloom sketch of the build side's keys is built DISTRIBUTED
  // (stat.bloomFilter tree-aggregates partial sketches; the driver
  // holds only the merged bytes) and pushed onto the probe scan as a
  // native codegen'd predicate — only matching (+ false-positive) rows
  // leave the scan, so the downstream exchange moves ~4% of lineitem
  // instead of all of it. The exact join removes false positives, so
  // the sketch is SEMANTICS-NEUTRAL: the oracle is the plain join with
  // no sketch at all, and the result must hash-equal it (the same
  // "must equal the unoptimized plan" contract as salted q39). At
  // fixture scale Spark broadcasts the filtered side anyway; the
  // pruning exists for the regime where the selective side exceeds the
  // broadcast threshold — the predicate composes with either strategy.
  def q119BloomJoinPrune(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val hi = t(spark, dir, "orders")
      .filter(col("o_totalprice") > 480000.0)
      .select(col("o_orderkey"), col("o_totalprice")).persist()
    val sketch = {
      val bloom = hi.stat.bloomFilter("o_orderkey", math.max(hi.count(), 1L), 0.001)
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    li.filter(graft.functions.MightContainLong(col("l_orderkey"), sketch))
      .join(hi, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderkey", "o_totalprice")
      .agg(count(lit(1)).as("n_items"), dsum(col("l_extendedprice")).as("revenue"))
  }

  // q120: percentile winsorization — clip a numeric feature to its
  // per-group [P1, P99] band (the standard outlier-robust feature
  // cleaning step before training). Bounds are ONE tiny grouped
  // aggregate (exact interpolated percentile — q58's established
  // Spark`percentile` == DuckDB `quantile_cont` parity) that joins
  // back by broadcast; the clip itself is a narrow codegen'd
  // projection. Bounds are 6dp-rounded BEFORE the clip on both
  // engines, so the comparison operands are bit-identical.
  def q120Winsorize(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val bounds = ev.groupBy("event_type").agg(
      round(expr("percentile(value, 0.01)"), 6).as("lo"),
      round(expr("percentile(value, 0.99)"), 6).as("hi"))
    ev.join(broadcast(bounds), Seq("event_type"))
      .select(
        col("event_id"), col("event_type"), col("value"),
        round(least(greatest(col("value"), col("lo")), col("hi")), 6).as("clipped"))
  }

  // q134: CDC MERGE (upsert+delete) — the Delta/Iceberg `MERGE INTO`
  // shape without a table format. The changelog (events) is first
  // COMPACTED to one row per key (latest by (ts, event_id) — a single
  // window on the merge key), then merged into the base snapshot with
  // one full-outer hash join: base-only rows are kept, matched rows take
  // the change's value ('updated'), changelog-only rows insert, and a
  // latest-change tombstone ('error' here) deletes whether or not the
  // base row exists. Scale: both the compaction window and the merge
  // join hash-partition on the SAME key, so the exchange is paid once
  // and reused; no broadcast needed on either side — this is the
  // big-base × big-changelog regime.
  def q134MergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val last = events(spark, dir)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(
        col("user_id").as("key"),
        col("event_type").as("op_type"),
        col("value").as("new_bal"))
    // base keys 50..200 straddle the changelog's key range (0..149), so
    // kept / updated / inserted / deleted all occur on the fixture
    val base = t(spark, dir, "customer").filter(col("c_custkey").between(50, 200))
      .select(col("c_custkey").as("bkey"), col("c_name"), col("c_acctbal"))
    base.join(last, col("bkey") === col("key"), "full_outer")
      .filter(col("op_type").isNull || col("op_type") =!= "error")
      .select(
        coalesce(col("bkey"), col("key")).as("c_custkey"),
        coalesce(col("c_name"), concat(lit("cust#"), col("key").cast("string")))
          .as("name"),
        when(col("op_type").isNull, lit("kept"))
          .when(col("bkey").isNull, lit("inserted"))
          .otherwise(lit("updated")).as("action"),
        when(col("op_type").isNull, col("c_acctbal"))
          .otherwise(col("new_bal")).as("balance"))
  }

  // q135: snapshot reconciliation — keyed diff of two snapshots of the
  // same aggregate (per-customer order count/spend before a cutoff vs
  // now), the table-diff primitive behind data-quality reconciliation
  // and incremental-load validation. Two partial-aggregated scans and
  // ONE full-outer join on the key; change detection compares the EXACT
  // decimal sums, never the double projections, so 'unchanged' can't
  // flip on rounding. Scale: the diff never materializes row-level
  // state — only the aggregate per key crosses the exchange.
  def q135SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    def snap(df: DataFrame): DataFrame =
      df.groupBy(col("o_custkey").as("key"))
        .agg(
          count(lit(1)).as("cnt"),
          sum(col("o_totalprice").cast("decimal(18,4)")).as("spend_d"))
    val s1 = snap(o.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp")))
      .select(col("key").as("k1"), col("cnt").as("old_cnt"), col("spend_d").as("old_d"))
    val s2 = snap(o)
      .select(col("key").as("k2"), col("cnt").as("new_cnt"), col("spend_d").as("new_d"))
    s1.join(s2, col("k1") === col("k2"), "full_outer")
      .select(
        coalesce(col("k2"), col("k1")).as("o_custkey"),
        coalesce(col("old_cnt"), lit(0L)).as("old_cnt"),
        coalesce(col("new_cnt"), lit(0L)).as("new_cnt"),
        coalesce(col("old_d").cast("double"), lit(0.0)).as("old_spend"),
        coalesce(col("new_d").cast("double"), lit(0.0)).as("new_spend"),
        when(col("k1").isNull, lit("added"))
          .when(col("old_cnt") === col("new_cnt") && col("old_d") === col("new_d"),
            lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  // q137: time-series gap fill + trailing moving average — per-type
  // hourly event counts on a DENSE hour grid (missing hours become
  // explicit zeros via `sequence` explode over the observed bounds),
  // then a 24-row trailing mean. Without the fill, a frame of "last 24
  // ROWS" silently spans gaps and the average is wrong — the densify
  // step is the operator. Scale: the grid is (types × hours) —
  // time-bounded, independent of event volume; the only full-data pass
  // is the partial-aggregated hourly count, and the window partitions
  // are per-type hour sequences. Counts are integers, so the moving
  // mean (exact integer sum / 24) is deterministic.
  def q137GapfillMa(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = events(spark, dir)
    val hourly = ev
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("cnt"))
    val bounds = ev.agg(
      date_trunc("hour", min(col("ts"))).as("lo"),
      date_trunc("hour", max(col("ts"))).as("hi"))
    val grid = ev.select("event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select(
        col("event_type"),
        explode(expr("sequence(lo, hi, interval 1 hour)")).as("hour"))
    val filled = grid.join(hourly, Seq("event_type", "hour"), "left")
      .na.fill(0L, Seq("cnt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour").asc)
      .rowsBetween(-23, Window.currentRow)
    filled.select(
      col("event_type"),
      unix_micros(col("hour")).as("hour_us"),
      col("cnt"),
      round(avg(col("cnt")).over(w), 6).as("ma24"))
  }

  // q139: Markov transition matrix over per-user event sequences — the
  // next-action model behind clickstream analysis: P(next | current) =
  // transitions(cur→nxt) / transitions(cur→*). One window exchange on
  // user_id orders each user's history (lead(1)); the transition counts
  // then fold to a |types|²-bounded aggregate, so everything after the
  // first exchange is vocabulary-sized. Probabilities are exact integer
  // ratios rounded at 6dp.
  def q139MarkovTransitions(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val tr = events(spark, dir)
      .select(
        col("event_type").as("cur"),
        lead(col("event_type"), 1).over(w).as("nxt"))
      .filter(col("nxt").isNotNull)
      .groupBy("cur", "nxt").agg(count(lit(1)).as("cnt"))
    val wt = Window.partitionBy(col("cur"))
    tr.withColumn("total", sum(col("cnt")).over(wt))
      .select(
        col("cur"), col("nxt"), col("cnt"), col("total"),
        round(col("cnt").cast("double") / col("total").cast("double"), 6).as("p"))
  }

  // q141: z-score feature standardization + outlier flag — the ML
  // preprocessing twin of q120's winsorization. Per-type mean/std come
  // from ONE pass of exact integer moments: values quantize to 1e-6
  // fixed point, Σx fits a long, Σx² accumulates in decimal (Spark) /
  // int128 (oracle) — both exact, so the derived doubles (mean, std,
  // z) are bit-identical on both engines (every step from the exact
  // integers is a correctly-rounded IEEE op: cast, divide, sqrt). The
  // per-row standardize is a broadcast join of the |types|-row stats
  // table + a narrow projection. A naive double Σx² would be partition-
  // order-dependent and flake the hash — the fixed-point moments are
  // the operator's whole design.
  def q141Standardize(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir).select(
      col("event_id"), col("event_type"), col("value"),
      round(col("value") * 1e6).cast("long").as("vq"))
    val stats = ev.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      sum(col("vq")).as("s"),
      sum(col("vq").cast("decimal(19,0)") * col("vq").cast("decimal(19,0)")).as("ss"))
    val st = stats.select(
      col("event_type"),
      (col("s").cast("double") / col("n").cast("double")).as("mean_q"),
      sqrt(
        (col("n").cast("decimal(38,0)") * col("ss")
          - col("s").cast("decimal(38,0)") * col("s").cast("decimal(38,0)"))
          .cast("double")
          / (col("n") * col("n")).cast("double")).as("std_q"))
    ev.join(broadcast(st), Seq("event_type"))
      .select(
        col("event_id"), col("event_type"), col("value"),
        round((col("vq").cast("double") - col("mean_q")) / col("std_q"), 6).as("z"),
        (abs((col("vq").cast("double") - col("mean_q")) / col("std_q")) > 3.0)
          .as("is_outlier"))
  }

  // q142: referential-integrity audit — orphan counts for every FK edge
  // of the star schema (the data-quality gate a warehouse runs after
  // every load). Each edge is a left-anti join of child against parent
  // keys (Catalyst broadcasts the parent side when it fits; the check
  // never duplicates child rows) folded to ONE row; four one-row frames
  // union. Scale: the anti-join is the semi-join-reduction shape — at
  // 100 TB the parent key set rides a broadcast/Bloom, and the audit's
  // output stays 4 rows regardless of input volume.
  def q142RefIntegrity(spark: SparkSession, dir: String): DataFrame = {
    def audit(rel: String, child: DataFrame, ck: String,
              parent: DataFrame, pk: String): DataFrame = {
      val orphans = child.join(parent, child(ck) === parent(pk), "left_anti")
      child.agg(count(lit(1)).as("n_rows"))
        .crossJoin(orphans.agg(count(lit(1)).as("n_orphans")))
        .select(lit(rel).as("relationship"), col("n_rows"), col("n_orphans"))
    }
    val li = t(spark, dir, "lineitem")
    val ord = t(spark, dir, "orders")
    audit("lineitem->orders", li, "l_orderkey", ord, "o_orderkey")
      .unionByName(audit("lineitem->part", li, "l_partkey",
        t(spark, dir, "part"), "p_partkey"))
      .unionByName(audit("lineitem->supplier", li, "l_suppkey",
        t(spark, dir, "supplier"), "s_suppkey"))
      .unionByName(audit("orders->customer", ord, "o_custkey",
        t(spark, dir, "customer"), "c_custkey"))
  }

  // q143: per-entity EWMA (α = ½) — exponential smoothing of each
  // user's event values in event-time order, the sequential-state
  // statistic a streaming scorer keeps per key. The fold is genuinely
  // order-dependent, so it runs over the user's SORTED event array
  // (state bounded per key, the flatMapGroupsWithState shape in batch):
  // e₁ = x₁, eᵢ = xᵢ/2 + eᵢ₋₁/2. α = ½ makes every halving exact and
  // each step one correctly-rounded IEEE add — the oracle replays the
  // identical fold (list_reduce over the identically-sorted list), so
  // the result is bit-deterministic even though the recurrence doesn't
  // commute. Scale: one hash exchange on user_id; the array is one
  // user's history (the per-key state bound), never a global structure.
  def q143Ewma(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("ts"), col("event_id"), col("value"))))
        .as("xs"))
      .select(
        col("user_id"),
        size(col("xs")).as("n_events"),
        round(expr(
          """aggregate(
            |  slice(transform(xs, p -> p.value), 2, size(xs) - 1),
            |  element_at(transform(xs, p -> p.value), 1),
            |  (acc, x) -> acc / 2 + x / 2)""".stripMargin), 6).as("ewma"))

  // q144: Pareto frontier (skyline) — parts no other part beats on BOTH
  // unit price (lower) and volume (higher). The frontier is computed
  // with the q119/q39 "semantics-neutral optimization" contract: a
  // coarse 64-bucket price grid prunes candidates first (per-bucket max
  // volume → prefix-max over the tiny bucket table → keep rows beating
  // every strictly-cheaper bucket's best; conservative, never drops a
  // true frontier point because prefix-max over lower buckets is a
  // lower bound of the true cheaper-side max), and only the SURVIVORS
  // enter the exact single-partition window — so the global sort runs
  // over the pruned set, not |parts| rows, while the oracle is the
  // naive full-window formulation and the result must hash-equal it.
  // Tie rule: among equal (price, volume) the lowest partkey wins.
  def q144ParetoFrontier(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pa = t(spark, dir, "lineitem")
      .groupBy(col("l_partkey"))
      .agg(
        sum(col("l_quantity").cast("decimal(18,4)")).as("qty_d"),
        sum(col("l_extendedprice").cast("decimal(18,4)")).as("spend_d"),
        count(lit(1)).as("n_sales"))
      .select(
        col("l_partkey"),
        col("qty_d").cast("double").as("total_qty"),
        (col("spend_d").cast("double") / col("qty_d").cast("double"))
          .as("unit_price"),
        col("n_sales"))
      .persist()
    val mm = pa.agg(min(col("unit_price")).as("lo"), max(col("unit_price")).as("hi"))
    val bucketed = pa.crossJoin(broadcast(mm))
      .withColumn("bucket",
        when(col("hi") === col("lo"), lit(0))
          .otherwise(least(floor((col("unit_price") - col("lo"))
            / ((col("hi") - col("lo")) / 64.0)), lit(63.0)).cast("int")))
    val bucketBest = bucketed.groupBy("bucket")
      .agg(max(col("total_qty")).as("bqty"))
      .withColumn("prev_best",
        max(col("bqty")).over(
          Window.orderBy(col("bucket").asc)
            .rowsBetween(Window.unboundedPreceding, -1)))
    val survivors = bucketed
      .join(broadcast(bucketBest.select(col("bucket"), col("prev_best"))), Seq("bucket"))
      .filter(col("prev_best").isNull || col("total_qty") > col("prev_best"))
    val w = Window
      .orderBy(col("unit_price").asc, col("total_qty").desc, col("l_partkey").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    survivors
      .withColumn("best_prev", max(col("total_qty")).over(w))
      .filter(col("best_prev").isNull || col("total_qty") > col("best_prev"))
      .select(
        col("l_partkey"),
        round(col("unit_price"), 6).as("unit_price"),
        col("total_qty"), col("n_sales"))
  }

  // q145: session path mining — the per-session event-type sequence
  // (q51's 30-minute sessionization) folded to path strings, then path
  // frequencies — the "common journeys" report. Per-session path
  // assembly is bounded by session length (the same state bound the
  // streaming sessionizer holds); the path-frequency agg is key-hashed
  // on the path string with map-side partials. Ordering inside a path
  // is total ((ts, event_id) sort before the join), so identical on
  // both engines.
  def q145SessionPaths(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val sess = events(spark, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800L * 1000000L,
          1).otherwise(0))
      .withColumn("sid",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sess.groupBy("user_id", "sid")
      .agg(array_join(
        transform(
          sort_array(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
          p => p.getField("event_type")), ">").as("path"))
      .groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .filter(col("n_sessions") >= 5)
  }

  // q146: OHLC bars — per (type, hour): opening/closing value (first/
  // last by the total (ts, event_id) order), high, low, volume — the
  // time-series downsampling shape every monitoring/finance pipeline
  // runs. Open/close come from TWO row_number passes (asc + desc) over
  // the SAME partition keys — one exchange, two in-partition sorts —
  // because composite-key arg_min isn't portable to the oracle; the
  // group-by then rides the window's partitioning. Scale: bars are
  // (types × hours)-bounded; everything map-side-combines after the one
  // exchange.
  def q146OhlcBars(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keys = Seq(col("event_type"), col("hour"))
    val wAsc = Window.partitionBy(keys: _*)
      .orderBy(col("ts").asc, col("event_id").asc)
    val wDesc = Window.partitionBy(keys: _*)
      .orderBy(col("ts").desc, col("event_id").desc)
    events(spark, dir)
      .withColumn("hour", date_trunc("hour", col("ts")))
      .withColumn("rna", row_number().over(wAsc))
      .withColumn("rnd", row_number().over(wDesc))
      .groupBy(col("event_type"), col("hour"))
      .agg(
        max(when(col("rna") === 1, col("value"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(when(col("rnd") === 1, col("value"))).as("close"),
        count(lit(1)).as("volume"))
      .select(
        col("event_type"), unix_micros(col("hour")).as("hour_us"),
        col("open"), col("high"), col("low"), col("close"), col("volume"))
  }

  // q147: MAD robust outliers — median absolute deviation scoring, the
  // outlier detector that (unlike q141's z-score) a few extreme points
  // can't poison: robust_z = (x − median) / MAD. Two exact-percentile
  // passes (the established Spark `percentile` == DuckDB `quantile_cont`
  // parity): the per-type median, then the median of |x − med| over the
  // deviations; both 6dp-rounded BEFORE the score (q120's rule) so both
  // engines score identical operands. Stats tables are |types|-sized →
  // broadcast joins; the score is a narrow projection.
  def q147MadOutliers(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val med = ev.groupBy("event_type")
      .agg(round(expr("percentile(value, 0.5)"), 6).as("med"))
    val dev = ev.join(broadcast(med), Seq("event_type"))
      .withColumn("adev", abs(col("value") - col("med")))
    val mad = dev.groupBy("event_type")
      .agg(round(expr("percentile(adev, 0.5)"), 6).as("mad"))
    dev.join(broadcast(mad), Seq("event_type"))
      .select(
        col("event_id"), col("event_type"), col("value"),
        col("med"), col("mad"),
        round((col("value") - col("med")) / col("mad"), 6).as("robust_z"),
        (abs((col("value") - col("med")) / col("mad")) > lit(3.5)).as("is_outlier"))
  }

  // q148: co-purchase recommendations — item-item cosine similarity
  // over order baskets (cᵃᵇ/√(cᵃ·cᵇ)), top-5 per part: the classic
  // "customers also bought" collaborative filter. The pair generator is
  // the basket self-join on the ORDER key — fanout bounded by Σ|basket|²
  // (baskets average ~4 items), never a cross product (PlanSpec-
  // guarded); pair counts and item frequencies are item²-/item-bounded
  // aggregates. cᵃ·cᵇ is an exact integer product, so √ and the divide
  // are single correctly-rounded ops — deterministic ranking with the
  // (cosine desc, rec asc) total tie-break.
  def q148CopurchaseRecs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val b = t(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val freq = b.groupBy(col("pk")).agg(count(lit(1)).as("c")).persist()
    val pairs = b.select(col("ok"), col("pk").as("pa"))
      .join(b.select(col("ok"), col("pk").as("pb")), Seq("ok"))
      .filter(col("pa") < col("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("cab"))
    val sym = pairs.unionByName(
      pairs.select(col("pb").as("pa"), col("pa").as("pb"), col("cab")))
    val scored = sym
      .join(freq.select(col("pk").as("pa"), col("c").as("ca")), Seq("pa"))
      .join(freq.select(col("pk").as("pb"), col("c").as("cb")), Seq("pb"))
      .withColumn("cosine",
        col("cab").cast("double") / sqrt((col("ca") * col("cb")).cast("double")))
    val w = Window.partitionBy(col("pa"))
      .orderBy(col("cosine").desc, col("pb").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      .select(
        col("pa").as("part"), col("rank"), col("pb").as("rec"),
        col("cab"), col("ca"), col("cb"),
        round(col("cosine"), 6).as("cosine"))
  }

  // q149: join-key skew profiler — the diagnostic that decides WHEN to
  // reach for q39's salted join: per-key row counts on the probe side,
  // the global shape (keys, rows, max) in one extra fold, and the
  // top-10 hottest keys with their skew factor (count ÷ mean count =
  // cnt·n_keys/n_rows, an exact integer ratio). Scale: the per-key count
  // partial-aggregates map-side; the top-10 is a TakeOrdered, never a
  // full sort; the one-row stats table broadcasts back.
  def q149SkewProfile(spark: SparkSession, dir: String): DataFrame = {
    val counts = t(spark, dir, "lineitem")
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("cnt")).persist()
    val stats = counts.agg(
      count(lit(1)).as("n_keys"), sum(col("cnt")).as("n_rows"))
    counts
      .orderBy(col("cnt").desc, col("l_orderkey").asc).limit(10)
      .crossJoin(broadcast(stats))
      .select(
        col("l_orderkey"), col("cnt"), col("n_keys"), col("n_rows"),
        round(col("cnt").cast("double") * col("n_keys").cast("double")
          / col("n_rows").cast("double"), 6).as("skew_factor"))
  }

  // q150: triangle counting — the graph-analytics cohesion statistic,
  // run on the co-purchase graph (shared build: Edges.coPurchase —
  // basket-local pair generation, two exchanges, no self-join) through
  // Edges.triangleCount's DEGREE-ORIENTED wedge extension: edges point
  // low-(degree, id) → high, wedges form only at each triangle's
  // minimum vertex, and out-degree is O(√|E|) under this orientation,
  // so a power-law hub contributes no quadratic wedge fanout (the
  // OperatorsSpec star-graph stress pins wedge volume at zero for a
  // pure hub). The count is orientation-invariant — the oracle's
  // id-ordered enumeration hashes identically.
  def q150TriangleCount(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.operators.Edges.coPurchase(spark, dir).persist()
    val nodes = e.select(col("a").as("n")).unionByName(e.select(col("b").as("n")))
      .distinct().agg(count(lit(1)).as("n_nodes"))
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(nodes))
      .crossJoin(broadcast(graft.operators.Edges.triangleCount(e)))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"))
  }

  // q151: LOCF backfill (last observation carried forward) — per-user
  // daily last values on a DENSE day grid, gaps filled by carrying the
  // most recent observation forward: the standard time-series
  // imputation before feature windows. Day-level last values reuse the
  // q146 row_number idiom; the grid is (users × days)-bounded (q137's
  // densify); the carry is one `last(..., ignoreNulls)` frame per user.
  def q151LocfBackfill(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = events(spark, dir)
    val wDesc = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val daily = ev.withColumn("day", date_trunc("day", col("ts")))
      .withColumn("rnd", row_number().over(wDesc))
      .filter(col("rnd") === 1)
      .select(col("user_id"), col("day"), col("value").as("obs"))
    val bounds = ev.agg(
      date_trunc("day", min(col("ts"))).as("lo"),
      date_trunc("day", max(col("ts"))).as("hi"))
    val grid = ev.select("user_id").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("user_id"),
        explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
    val carry = Window.partitionBy(col("user_id")).orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq("user_id", "day"), "left")
      .select(
        col("user_id"), unix_micros(col("day")).as("day_us"),
        last(col("obs"), ignoreNulls = true).over(carry).as("value_filled"),
        col("obs").isNotNull.as("is_observed"))
  }

  // q157: population-stability-index drift monitor — the distribution-
  // drift gate a production pipeline runs between a reference window and
  // a live window before trusting new data (here: order prices before vs
  // from 1998-01-01, 10 equal-width bins of the GLOBAL price range).
  // PSI term per bin: (pa - pb)·ln(pa/pb), proportions clamped at 1e-6
  // (the standard empty-bin guard). The bin edges are a broadcast one-row
  // min/max aggregate recomputed identically by the oracle, so bin
  // boundaries can never drift between engines. Scale shape: one scan +
  // one 10-group aggregate; counts are exact integers — the only doubles
  // are the final per-bin closed form (order-independent).
  def q157PsiDrift(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val bounds = o.agg(
      min(col("o_totalprice")).as("mn"), max(col("o_totalprice")).as("mx"))
    val g = o.crossJoin(broadcast(bounds))
      .withColumn("bin",
        least(floor((col("o_totalprice") - col("mn"))
          / ((col("mx") - col("mn")) / lit(10.0))), lit(9L)).cast("int"))
      .groupBy("bin")
      .agg(
        count(when(col("o_orderdate") < lit("1998-01-01").cast("date"), 1))
          .as("n_a"),
        count(when(col("o_orderdate") >= lit("1998-01-01").cast("date"), 1))
          .as("n_b"))
    val tot = g.agg(
      sum(col("n_a")).cast("double").as("ta"),
      sum(col("n_b")).cast("double").as("tb"))
    val pa = col("n_a").cast("double") / col("ta")
    val pb = col("n_b").cast("double") / col("tb")
    g.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_a"), col("n_b"),
        round((pa - pb) * log(greatest(pa, lit(1e-6))
          / greatest(pb, lit(1e-6))), 6).as("psi_term"))
  }

  // q158: numeric-profile correlation matrix — pairwise Pearson
  // correlations of the lineitem measures, the feature-redundancy scan of
  // a dataset profiler. One single-pass aggregate computes every moment
  // (n, Σx, Σx², Σxy) with the pack's exact-decimal contract (products
  // formed in double — IEEE-identical in both engines — then cast to
  // DECIMAL(38,8) so the SUM is order-independent); the 6 pair
  // correlations are a closed form over that one broadcast row. Scale
  // shape: one scan, one map-side-combinable aggregate, constant output.
  def q158CorrMatrix(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    def dsum38(c: Column): Column = sum(c.cast("decimal(38,8)")).cast("double")
    val moments =
      cols.map(c => dsum38(col(c)).as(s"s_$c")) ++
        cols.map(c => dsum38(col(c) * col(c)).as(s"s_${c}_$c")) ++
        cols.combinations(2).map { case Seq(a, b) =>
          dsum38(col(a) * col(b)).as(s"s_${a}_$b")
        }
    val m = t(spark, dir, "lineitem")
      .agg(count(lit(1)).cast("double").as("n"), moments: _*)
    val pairs = cols.combinations(2).map { case Seq(a, b) =>
      val n = col("n")
      val corr = (n * col(s"s_${a}_$b") - col(s"s_$a") * col(s"s_$b")) /
        sqrt((n * col(s"s_${a}_$a") - col(s"s_$a") * col(s"s_$a")) *
          (n * col(s"s_${b}_$b") - col(s"s_$b") * col(s"s_$b")))
      struct(lit(a).as("col_x"), lit(b).as("col_y"),
        round(corr, 6).as("corr"))
    }.toSeq
    m.select(explode(array(pairs: _*)).as("p"))
      .select(col("p.col_x").as("col_x"), col("p.col_y").as("col_y"),
        col("p.corr").as("corr"))
  }

  // q161: two-proportion A/B conversion test — users split into variants
  // by user_id parity (deterministic, not rng), conversion = any
  // high-value purchase (value > 80 — a plain "any purchase" saturates
  // the fixture corpus to p = 1 and zeroes the pooled-z denominator); outputs both rates, the absolute lift, and the
  // pooled two-proportion z statistic — the experiment-readout query of
  // an event pipeline. All inputs to the closed form are exact integer
  // counts from ONE user-grain aggregate (map-side combinable), so the
  // doubles are a deterministic function of four longs. Scale shape: one
  // event scan, one user-keyed agg, one 2-row agg — no window, no join.
  def q161AbTest(spark: SparkSession, dir: String): DataFrame = {
    val perUser = events(spark, dir)
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase" && col("value") > 80.0, 1L)
        .otherwise(0L)).as("conv"))
    val g = perUser
      .groupBy((col("user_id") % 2).cast("int").as("variant"))
      .agg(count(lit(1)).as("n_users"), sum(col("conv")).as("n_conv"))
    val one = g.agg(
      sum(when(col("variant") === 0, col("n_users"))).as("n_a"),
      sum(when(col("variant") === 0, col("n_conv"))).as("c_a"),
      sum(when(col("variant") === 1, col("n_users"))).as("n_b"),
      sum(when(col("variant") === 1, col("n_conv"))).as("c_b"))
    val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
    val pa = col("c_a").cast("double") / na
    val pb = col("c_b").cast("double") / nb
    val pp = (col("c_a") + col("c_b")).cast("double") / (na + nb)
    one.select(
      col("n_a"), col("c_a"), col("n_b"), col("c_b"),
      round(pa, 6).as("rate_a"), round(pb, 6).as("rate_b"),
      round(pa - pb, 6).as("lift"),
      round((pa - pb)
        / sqrt(pp * (lit(1.0) - pp) * (lit(1.0) / na + lit(1.0) / nb)), 6)
        .as("z"))
  }

  // q163: time-to-conversion profile — per user, the lag from the FIRST
  // view to the first purchase AFTER it; one summary row with exact
  // count/mean and rank-picked p50/p90 (percentile_disc semantics: the
  // value at rank ⌈q·n⌉ under the lag order — a VALUE FROM THE DATA,
  // no interpolation, so no engine-specific quantile arithmetic can
  // drift). The rank pick is deterministic even under lag ties: any tie
  // order yields the same lag value at a fixed rank. Scale shape: two
  // user-keyed aggs + one join; the ranking window is over the
  // USER-grain lag table (not events) — one serialized sort of
  // |converted users| rows, the standard exact-quantile trade (swap in
  // the equi-depth histogram q128 shape if even that is too large).
  def q163ConversionLag(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = events(spark, dir)
    val firstView = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("t_view"))
    val lag = e.filter(col("event_type") === "purchase")
      .join(firstView, "user_id")
      .filter(col("ts") > col("t_view"))
      .groupBy(col("user_id"), col("t_view"))
      .agg(min(col("ts")).as("t_buy"))
      .select(col("user_id"),
        (unix_micros(col("t_buy")) - unix_micros(col("t_view"))).as("lag_us"))
    // global rank via Quantiles.withGlobalRank (range exchange + pid
    // window + broadcast offsets) — no single-partition sort of the
    // user-grain lag table; n joins back from a 1-row broadcast
    val ranked = graft.operators.Quantiles
      .withGlobalRank(lag, Seq(col("lag_us").asc, col("user_id").asc), "rn")
    val nDf = ranked.agg(count(lit(1)).as("n"))
    ranked.crossJoin(broadcast(nDf)).agg(
      count(lit(1)).as("n_users"),
      round(sum(col("lag_us")).cast("double") / count(lit(1)) / lit(1e6), 6)
        .as("avg_sec"),
      round(max(when(col("rn") === ceil(col("n") * lit(0.5)),
        col("lag_us"))).cast("double") / lit(1e6), 6).as("p50_sec"),
      round(max(when(col("rn") === ceil(col("n") * lit(0.9)),
        col("lag_us"))).cast("double") / lit(1e6), 6).as("p90_sec"))
  }

  // q167: group-wise ordinary least squares — per return-flag slope +
  // intercept of extendedprice ~ quantity, the per-segment trend fit of a
  // dataset profiler (q158's correlation pack gives direction; this
  // gives the line). One map-side-combinable aggregate computes every
  // moment with the pack's exact-decimal contract; slope/intercept are a
  // closed form per group row. Scale: one scan, |groups| output rows.
  def q167GroupwiseOls(spark: SparkSession, dir: String): DataFrame = {
    def dsum38(c: Column): Column = sum(c.cast("decimal(38,8)")).cast("double")
    val m = t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).cast("double").as("n"),
        dsum38(col("l_quantity")).as("sx"),
        dsum38(col("l_extendedprice")).as("sy"),
        dsum38(col("l_quantity") * col("l_extendedprice")).as("sxy"),
        dsum38(col("l_quantity") * col("l_quantity")).as("sxx"))
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    m.select(col("l_returnflag"),
      col("n").cast("long").as("n_rows"),
      round(slope, 6).as("slope"),
      round((col("sy") - slope * col("sx")) / col("n"), 6).as("intercept"))
  }

  // q168: Benford first-digit audit of order totals — the fraud/synthetic-
  // data screen of a data-quality suite. The first significant digit is
  // taken from the INTEGER cents (round(p·100) as BIGINT rendered as a
  // string), never from log10 arithmetic — a log-based digit extraction
  // can flip at power-of-ten boundaries by one ulp between engines.
  // Expected shares are the closed-form log10(1 + 1/d). Scale: one scan,
  // 9 output rows.
  def q168Benford(spark: SparkSession, dir: String): DataFrame = {
    val g = t(spark, dir, "orders")
      .filter(col("o_totalprice") > 0)
      .select(substring(round(col("o_totalprice") * 100).cast("long")
        .cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val tot = g.agg(sum(col("n")).as("tot"))
    g.crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        round(col("n").cast("double") / col("tot"), 6).as("obs_share"),
        round(log(10.0, lit(1.0) + lit(1.0) / col("digit")), 6)
          .as("exp_share"))
  }

  // q169: Gini coefficient of per-customer revenue — the concentration
  // statistic (how much of the corpus/revenue mass the top accounts
  // hold; the same computation audits per-source document mass in a
  // training mix). Per-customer revenue is an exact decimal sum; the
  // rank formula G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n keeps Σ(i·xᵢ) in
  // decimal (rank · exact revenue), so both engines divide the same
  // exact quantities once at the end. The ranking window sorts the
  // CUSTOMER-grain table (not orders) — ties broken by custkey, though
  // any tie order yields the same Σ(i·xᵢ) only when amounts are equal,
  // which the (rev, custkey) total order makes deterministic anyway.
  // Scale shape: the global rank runs through Quantiles.withGlobalRank
  // (range exchange + pid-partitioned window + broadcast offsets) — no
  // single-partition sort of the customer-grain table; the rank values
  // are identical to row_number() over the global ORDER BY.
  def q169Gini(spark: SparkSession, dir: String): DataFrame = {
    val rev = t(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,4)")).as("rev"))
    val ranked = graft.operators.Quantiles.withGlobalRank(
      rev, Seq(col("rev").asc, col("o_custkey").asc), "i")
    ranked.agg(
      count(lit(1)).as("n"),
      sum(col("rev")).as("srev"),
      sum(col("i").cast("decimal(38,6)") * col("rev")).as("sirev"))
      .select(col("n").as("n_customers"),
        round(lit(2.0) * col("sirev").cast("double")
          / (col("n") * col("srev").cast("double"))
          - (col("n") + lit(1L)).cast("double") / col("n"), 6).as("gini"))
  }

  // q171: CUSUM changepoint scan — daily error-event counts, cumulative
  // sum of deviations from the period mean; the day where |CUSUM| peaks
  // is the most likely level-shift point (the incident-onset locator of
  // an ops pipeline). DETERMINISM: the prefix sum is kept INTEGER by
  // scaling — Σ_{i≤t}(nᵢ·D − T) where D = #days, T = total — because an
  // ordered double prefix sum is engine-dependent (DuckDB's windowed SUM
  // aggregates via a segment tree, Spark incrementally — different
  // association orders); the scaled integer divides by D once per row at
  // the end. Scale shape: one event scan → |days| rows; the window runs
  // over the tiny daily table.
  def q171CusumChangepoint(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events(spark, dir)
      .filter(col("event_type") === "error")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val tot = daily.agg(sum(col("n")).as("t"), count(lit(1)).as("d"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.crossJoin(broadcast(tot))
      .withColumn("cusum_fp", sum(col("n") * col("d") - col("t")).over(w))
      .select(
        unix_date(col("day")).as("day_num"), col("n"),
        round(col("cusum_fp").cast("double") / col("d"), 6).as("cusum"))
  }

  // q172: day-of-week seasonality index — mean purchase value per
  // weekday over the grand mean (ratio-to-mean decomposition, the
  // traffic-shaping profile of an event pipeline). Sums are exact
  // decimals; each index is a ratio of two exact ratios, computed once
  // per output row. Day numbering pinned to 0=Sunday in both engines.
  // Scale: one scan, 7 output rows.
  def q172DowSeasonality(spark: SparkSession, dir: String): DataFrame = {
    val p = events(spark, dir).filter(col("event_type") === "purchase")
      .select((dayofweek(col("ts")) - 1).as("dow"),
        col("value").cast("decimal(18,4)").as("v"))
    val g = p.groupBy("dow").agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    val tot = g.agg(sum(col("n")).as("tn"), sum(col("sv")).as("tv"))
    g.crossJoin(broadcast(tot))
      .select(col("dow"), col("n"),
        round(col("sv").cast("double") / col("n"), 6).as("mean_value"),
        round((col("sv").cast("double") / col("n"))
          / (col("tv").cast("double") / col("tn")), 6).as("seasonality"))
  }

  // q173: RFM customer segmentation — recency (days since last order,
  // vs the corpus max date), frequency (order count), monetary (exact
  // decimal revenue), each cut into quintiles, rolled up to per-cell
  // counts + mean spend (the marketing-segmentation workhorse).
  // DETERMINISM: every quintile runs over a TOTAL order (metric,
  // custkey) so bucket assignment is unique; both engines share SQL
  // ntile semantics (first ⌈n/5⌉-sized buckets absorb the remainder);
  // the monetary quintile orders on the exact DECIMAL sum, never a
  // double. Scale shape: one order scan → customer-grain agg (map-side
  // combinable); each quintile is Quantiles.ntileExact — a range
  // exchange + pid-partitioned row_number + broadcast rank offsets,
  // bit-equal to ntile but with NO single-partition sort of the
  // customer-grain table (the oracle keeps the ntile formulation as
  // the correctness pin). Output ≤ 5³ cells.
  def q173RfmSegments(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Quantiles.ntileExact
    val o = t(spark, dir, "orders")
    val maxd = o.agg(max(to_date(col("o_orderdate"))).as("maxd"))
    val per = o.groupBy("o_custkey")
      .agg(
        max(to_date(col("o_orderdate"))).as("lastd"),
        count(lit(1)).as("f"),
        sum(col("o_totalprice").cast("decimal(18,4)")).as("m"))
      .crossJoin(broadcast(maxd))
      .select(col("o_custkey"),
        datediff(col("maxd"), col("lastd")).as("r_days"),
        col("f"), col("m"))
    val q3 = ntileExact(
      ntileExact(
        ntileExact(per, 5, Seq(col("r_days").asc, col("o_custkey").asc), "r_q"),
        5, Seq(col("f").desc, col("o_custkey").asc), "f_q"),
      5, Seq(col("m").desc, col("o_custkey").asc), "m_q")
    q3
      .groupBy("r_q", "f_q", "m_q")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("m")).as("sm"))
      .select(col("r_q"), col("f_q"), col("m_q"), col("n_customers"),
        round(col("sm").cast("double") / col("n_customers"), 6)
          .as("avg_monetary"))
  }

  // q174: trailing 7-day revenue — daily exact-decimal revenue with a
  // RANGE frame (6 preceding days .. current DAY VALUE, not 6 preceding
  // ROWS: calendar gaps shrink the window, the semantics ROWS frames
  // get wrong on sparse days). DETERMINISM: the windowed sum runs over
  // DECIMAL values — exact regardless of the engines' different
  // window-aggregation association orders (segment tree vs incremental,
  // the q171 hazard). Scale shape: one scan → |days| rows; the RANGE
  // window runs over the tiny daily table. Per-key series would add a
  // partitionBy and stay shuffle-parallel.
  def q174RollingRevenue(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = t(spark, dir, "orders")
      .groupBy(unix_date(to_date(col("o_orderdate"))).as("day_num"))
      .agg(sum(col("o_totalprice").cast("decimal(18,4)")).as("rev"))
    val w = Window.orderBy("day_num").rangeBetween(-6, 0)
    daily
      .withColumn("rev7", sum(col("rev")).over(w))
      .withColumn("nd7", count(lit(1)).over(w))
      .select(col("day_num"),
        col("rev").cast("double").as("rev"),
        col("rev7").cast("double").as("rev7"),
        col("nd7"))
  }

  // q175: Kaplan-Meier survival curve of customer lifetime — duration =
  // days between a customer's first and last order; the last order is a
  // churn EVENT if it falls ≥30 days before the corpus max date, else
  // the customer is CENSORED (still alive at observation end) — the
  // standard right-censored survival estimator, over orders. S(t) =
  // Π_{s≤t}(1 − d_s/n_s) over event times s. DETERMINISM: the product
  // is exp of a prefix sum of ln((n−d)/n) terms QUANTIZED to 1e9
  // fixed-point longs before the window sum (q170's idiom — a double
  // prefix sum would depend on the engines' window association order);
  // n_s (at-risk) derives from exact integer cumulative counts. A group
  // where everyone at risk churns (n = d) pins survival to exactly 0
  // via a −1e15 sentinel term (exp → 0 in both engines). Scale shape:
  // customer-grain agg to the |distinct durations|-sized risk table,
  // then BOTH running totals (at-risk counts and the log-term prefix)
  // go through Quantiles.prefixSums (range exchange + pid window +
  // broadcast offsets) — duration grain is bounded today, but nothing
  // here serializes through one task even if it weren't: the exclusive
  // at-risk sum is the inclusive prefix minus the row's own m.
  def q175KaplanMeier(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val maxd = o.agg(max(to_date(col("o_orderdate"))).as("maxd"))
    val per = o.groupBy("o_custkey")
      .agg(min(to_date(col("o_orderdate"))).as("firstd"),
        max(to_date(col("o_orderdate"))).as("lastd"))
      .crossJoin(broadcast(maxd))
      .select(
        datediff(col("lastd"), col("firstd")).as("dur"),
        (datediff(col("maxd"), col("lastd")) >= 30).cast("long").as("obs"))
    val grp = per.groupBy("dur")
      .agg(count(lit(1)).as("m"), sum(col("obs")).as("d"))
    val tot = grp.agg(sum(col("m")).as("n_total"))
    val risk = graft.operators.Quantiles
      .prefixSums(grp.crossJoin(broadcast(tot)), Seq(col("dur").asc),
        Seq("m" -> "cum_m"))
      .withColumn("n_risk", col("n_total") - (col("cum_m") - col("m")))
      .filter(col("d") >= 1)
      .withColumn("term_fp",
        when(col("n_risk") === col("d"), lit(-1000000000000000L))
          .otherwise(round(log(
            (col("n_risk") - col("d")).cast("double") / col("n_risk"))
            * lit(1e9)).cast("long")))
    graft.operators.Quantiles
      .prefixSums(risk, Seq(col("dur").asc), Seq("term_fp" -> "s_fp"))
      .select(col("dur").as("dur_days"), col("n_risk"), col("d").as("n_events"),
        (col("m") - col("d")).as("n_censored"),
        round(exp(col("s_fp").cast("double") / lit(1e9)), 6).as("survival"))
  }

  // q176: inter-arrival burstiness per user — gaps between consecutive
  // events in integer seconds (floored µs division, identical in both
  // engines), then the Goh–Barabási burstiness B = (σ−μ)/(σ+μ) and the
  // coefficient of variation σ/μ: B→−1 periodic, 0 Poisson, →1 bursty —
  // the traffic-shape profile of an event pipeline. DETERMINISM: gap
  // order within a user is pinned by (ts, event_id); σ² =
  // (n·Σx²−(Σx)²)/n² over exact integer-second sums carried as
  // DECIMAL(38,6) (n·Σx² can exceed a long); sqrt is IEEE
  // correctly-rounded in both engines. Degenerate all-equal-gap users
  // (σ=0) emit B=−1 exactly. Scale shape: the lag window partitions by
  // user (shuffle-parallel, no global sort); one user-grain agg after.
  def q176Burstiness(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gaps = events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .filter(col("prev_us").isNotNull)
      .select(col("user_id"),
        expr("(unix_micros(ts) - prev_us) div 1000000").as("gap_s"))
    val agg = gaps.groupBy("user_id")
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("gap_s")).as("sx"),
        sum(col("gap_s").cast("decimal(38,6)") * col("gap_s")).as("sxx"))
      .filter(col("n_gaps") >= 2)
    val n = col("n_gaps").cast("decimal(38,6)")
    val varE = (n * col("sxx") - (col("sx").cast("decimal(38,6)")
      * col("sx"))) / (n * n)
    agg
      .withColumn("mu", col("sx").cast("double") / col("n_gaps"))
      .withColumn("sigma", sqrt(varE.cast("double")))
      .select(col("user_id"), col("n_gaps"),
        round(col("mu"), 6).as("mean_gap_s"),
        when(col("mu") > 0, round(col("sigma") / col("mu"), 6)).as("cv"),
        when(col("sigma") + col("mu") > 0,
          round((col("sigma") - col("mu")) / (col("sigma") + col("mu")), 6))
          .as("burstiness"))
  }

  // q178: sorted-neighborhood record linkage — sort customers on the
  // name key, compare each record against only its next w=2 neighbors
  // (lead windows, NOT a self-join), keep candidate pairs within edit
  // distance 2: the classic blocking strategy that turns O(n²) fuzzy
  // matching into O(n·w) (q130's wildcard-key join is the other
  // blocking family). DETERMINISM: the sort order is the total order
  // (c_name, c_custkey); Levenshtein distance is exact integer in both
  // engines. Scale shape: the w-neighborhood runs through
  // Quantiles.withNextRows — range exchange + pid-partitioned leads +
  // a broadcast boundary patch of ≤ w rows per partition on either
  // side (the range-partition + boundary-overlap SNM plan); no
  // single-partition sort of the customer grain, and still no fuzzy
  // self-join: candidate volume stays O(n·w).
  def q178SortedNeighborhood(spark: SparkSession, dir: String): DataFrame = {
    val c = graft.operators.Quantiles.withNextRows(
      t(spark, dir, "customer").select("c_custkey", "c_name"),
      Seq(col("c_name").asc, col("c_custkey").asc), 2, "nbrs")
    c.select(col("c_custkey").as("id_a"), col("c_name").as("name_a"),
        explode(col("nbrs")).as("nb"))
      .select(col("id_a"), col("nb.c_custkey").as("id_b"),
        levenshtein(col("name_a"), col("nb.c_name")).as("dist"))
      .filter(col("dist") <= 2)
  }

  // q180: Lorenz curve of customer revenue concentration — revenue
  // deciles (ascending exact-decimal revenue, custkey tie-break) with
  // each decile's share and the cumulative share: the curve behind
  // q169's single Gini number ("the bottom 50% of customers hold 18%
  // of revenue"). DETERMINISM: decile sums stay DECIMAL until the one
  // final division (decimal addition is exact, so any accumulation
  // order gives the same cumulative value). Scale shape: decile
  // assignment through Quantiles.ntileExact (range exchange +
  // pid-partitioned row_number, bit-equal to SQL ntile, no
  // single-partition sort of the customer grain); the cumulative share
  // is a broadcast ≤-self-join of the 10-row decile table (the q179
  // idiom) — the whole plan is free of unpartitioned windows.
  def q180LorenzCurve(spark: SparkSession, dir: String): DataFrame = {
    val rev = t(spark, dir, "orders").groupBy("o_custkey")
      .agg(sum(col("o_totalprice").cast("decimal(18,4)")).as("rev"))
    val dec = graft.operators.Quantiles
      .ntileExact(rev, 10, Seq(col("rev").asc, col("o_custkey").asc), "decile")
      .groupBy("decile")
      .agg(count(lit(1)).as("n_customers"), sum(col("rev")).as("drev"))
      .persist()
    val tot = dec.agg(sum(col("drev")).as("trev"))
    val cum = dec.select(col("decile").as("dc"))
      .join(broadcast(dec.select(col("decile").as("d2"), col("drev").as("dr2"))),
        col("d2") <= col("dc"))
      .groupBy(col("dc")).agg(sum(col("dr2")).as("crev"))
    dec.join(broadcast(cum), col("decile") === col("dc"))
      .crossJoin(broadcast(tot))
      .select(col("decile"), col("n_customers"),
        round(col("drev").cast("double") / col("trev").cast("double"), 6)
          .as("rev_share"),
        round(col("crev").cast("double") / col("trev").cast("double"), 6)
          .as("cum_share"))
  }

  // q183: five-number summary + Tukey outlier count per event type —
  // min/Q1/median/Q3/max with quartiles under percentile_disc semantics
  // (the value at rank ⌈q·n⌉ — a VALUE FROM THE DATA, q163's idiom, so
  // no interpolation arithmetic can drift), then the 1.5·IQR fence
  // count. DETERMINISM: rank picks are exact integers; the fences are
  // two IEEE ops (one multiply, one subtract/add) on the SAME two
  // quartile doubles in both engines — bit-identical, so the outlier
  // comparisons agree exactly. Scale shape: the rank window partitions
  // by event_type (shuffle-parallel); the fence count re-joins the tiny
  // per-type quartile table broadcast onto one more scan.
  def q183FiveNumber(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = events(spark, dir).select(col("event_type"), col("value"),
      col("event_id"))
    val w = Window.partitionBy("event_type")
      .orderBy(col("value"), col("event_id"))
    val ranked = e
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
    val q = ranked.groupBy("event_type")
      .agg(max(col("n")).as("n"),
        min(col("value")).as("vmin"),
        max(when(col("rn") === ceil(col("n") * 0.25), col("value"))).as("q1"),
        max(when(col("rn") === ceil(col("n") * 0.5), col("value"))).as("med"),
        max(when(col("rn") === ceil(col("n") * 0.75), col("value"))).as("q3"),
        max(col("value")).as("vmax"))
      .withColumn("lo", col("q1") - (col("q3") - col("q1")) * 1.5)
      .withColumn("hi", col("q3") + (col("q3") - col("q1")) * 1.5)
    val out = e.join(broadcast(q), Seq("event_type"))
      .filter(col("value") < col("lo") || col("value") > col("hi"))
      .groupBy("event_type").agg(count(lit(1)).as("n_outliers"))
    q.join(out, Seq("event_type"), "left")
      .select(col("event_type"), col("n"), col("vmin"), col("q1"),
        col("med"), col("q3"), col("vmax"),
        coalesce(col("n_outliers"), lit(0L)).as("n_outliers"))
  }

  // q184: DAU / trailing-7-day WAU / stickiness per day — the
  // engagement dashboard readout. WAU is computed WITHOUT a range
  // self-join: each distinct (user, day) fans out to the 7 window
  // targets it serves (day .. day+6) and a distinct-count lands per
  // target day — linear 7× expansion, shuffle-parallel, the q137
  // densify trick applied to a sliding COUNT DISTINCT (a RANGE frame
  // can't deduplicate users; this can). Targets are inner-joined back
  // to real activity days so no phantom trailing days appear.
  // DETERMINISM: pure integer counts; one final division. Scale shape:
  // two user-day-grain aggs + the 7× explode; no window at all.
  def q184Stickiness(spark: SparkSession, dir: String): DataFrame = {
    val ud = events(spark, dir)
      .select(col("user_id"), unix_date(to_date(col("ts"))).as("day_num"))
      .distinct()
    val dau = ud.groupBy("day_num").agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"),
        explode(sequence(col("day_num"), col("day_num") + 6)).as("day_num"))
      .distinct()
      .groupBy("day_num").agg(count(lit(1)).as("wau"))
    dau.join(wau, "day_num")
      .select(col("day_num"), col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau"), 6).as("stickiness"))
  }

  // q185: new vs returning users per day — a user's first-ever activity
  // day marks them new exactly once; every later active day counts them
  // returning (the acquisition/retention split of a growth dashboard).
  // DETERMINISM: min(day) is an exact integer agg; margins are counts.
  // Scale shape: user-day dedup agg + a user-grain min-agg broadcast
  // back (both map-side combinable); no window.
  def q185NewReturning(spark: SparkSession, dir: String): DataFrame = {
    val ud = events(spark, dir)
      .select(col("user_id"), unix_date(to_date(col("ts"))).as("day_num"))
      .distinct()
    val first = ud.groupBy("user_id").agg(min(col("day_num")).as("first_day"))
    ud.join(first, "user_id")
      .groupBy("day_num")
      .agg(count(lit(1)).as("n_users"),
        sum((col("day_num") === col("first_day")).cast("long")).as("n_new"))
      .select(col("day_num"), col("n_users"), col("n_new"),
        (col("n_users") - col("n_new")).as("n_returning"))
  }

  /** q188: Spearman rank correlation of quantity vs extended price per
    * return flag — the monotone-association companion of q167's OLS
    * slope and q158's Pearson matrix (robust to the price outliers that
    * bend Pearson). Tie handling is the textbook average-rank rule,
    * carried EXACTLY: avg-rank×2 = 2·rank() + tie_count − 1 is an
    * integer, so both regressors are integers and rho is q167's
    * closed-form Pearson over DECIMAL(38,0) moment sums — one double
    * division at the end. Scale shape: two windows over the same
    * flag-partition (one sort each, flag cardinality bounds skew at 3),
    * then a 3-row moment agg; no driver state.
    */
  def q188Spearman(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = t(spark, dir, "lineitem").select(col("l_returnflag").as("flag"),
      col("l_quantity").as("x"), col("l_extendedprice").as("y"))
    val ranked = li
      .withColumn("rx",
        lit(2L) * rank().over(Window.partitionBy("flag").orderBy("x")) +
          count(lit(1)).over(Window.partitionBy("flag", "x")) - 1)
      .withColumn("ry",
        lit(2L) * rank().over(Window.partitionBy("flag").orderBy("y")) +
          count(lit(1)).over(Window.partitionBy("flag", "y")) - 1)
    def d38(c: Column): Column = c.cast("decimal(38,0)")
    val m = ranked.groupBy("flag").agg(
      count(lit(1)).as("n"),
      sum(d38(col("rx"))).as("sx"), sum(d38(col("ry"))).as("sy"),
      sum(d38(col("rx")) * col("ry")).as("sxy"),
      sum(d38(col("rx")) * col("rx")).as("sxx"),
      sum(d38(col("ry")) * col("ry")).as("syy"))
    val n = d38(col("n"))
    val num = (n * col("sxy") - col("sx") * col("sy")).cast("double")
    val dx = (n * col("sxx") - col("sx") * col("sx")).cast("double")
    val dy = (n * col("syy") - col("sy") * col("sy")).cast("double")
    m.select(col("flag").as("l_returnflag"), col("n").as("n_rows"),
      round(num / sqrt(dx * dy), 6).as("spearman_rho"))
  }

  /** q189: Mann–Kendall trend test over the daily-revenue series — the
    * nonparametric "is revenue trending" readout (S = Σ_{i<j}
    * sign(rev_j − rev_i) over date order, plus Kendall's tau-a against
    * time). DETERMINISM: daily revenue is an exact DECIMAL sum, sign
    * comparisons are exact decimal compares, S is an integer sum; one
    * division for tau. Scale shape: the series is DAY-grain — bounded
    * by the calendar, not the data — so the i<j pair join is a
    * broadcast of a tiny table against itself (~n²/2 day pairs,
    * independent of row count); the only corpus-sized work is the
    * one map-side-combinable date agg.
    */
  def q189MannKendall(spark: SparkSession, dir: String): DataFrame = {
    val day = t(spark, dir, "orders")
      .groupBy(col("o_orderdate").as("d"))
      .agg(sum(col("o_totalprice").cast("decimal(18,4)")).as("rev"))
      .persist()
    val a = day.select(col("d").as("d_i"), col("rev").as("r_i"))
    val b = day.select(col("d").as("d_j"), col("rev").as("r_j"))
    val s = a.join(broadcast(b), col("d_i") < col("d_j"))
      .agg(sum(when(col("r_j") > col("r_i"), 1L)
        .when(col("r_j") < col("r_i"), -1L).otherwise(0L)).as("s_stat"))
    val n = day.agg(count(lit(1)).as("n_days"))
    n.crossJoin(s).select(col("n_days"), col("s_stat"),
      round(col("s_stat").cast("double") /
        (col("n_days") * (col("n_days") - 1) / 2), 6).as("tau_a"))
  }

  /** q190: autocorrelation function of the daily-revenue series at lags
    * 1–7 — the seasonality fingerprint read before fitting any forecast
    * (a weekly cycle shows as a lag-7 peak; q172 then explains it).
    * DETERMINISM: revenue is exact integer cents; every moment in the
    * textbook estimator r_k = Σ(x_t−x̄)(x_{t−k}−x̄) / Σ(x_t−x̄)² is
    * carried mean-free via the n²-scaled closed form (n²c_k = n²Σx_t·x_{t−k}
    * − nS(Σ_a+Σ_b) + m_k·S², all DECIMAL(38,0) integer sums), so the
    * only doubles are the 7 final divisions. Scale shape: one
    * map-side-combinable date agg is the only corpus-sized work; the
    * series itself is DAY-grain (calendar-bounded), so the single
    * 7-lag window and the 1-row moment agg are O(days) regardless of
    * row count.
    */
  def q190Acf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val maxLag = 7
    val day = t(spark, dir, "orders")
      .groupBy(col("o_orderdate").as("d"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("x"))
    val w = Window.orderBy("d")
    val lagged = day.select(
      col("x") +: (1 to maxLag).map(k => lag(col("x"), k).over(w).as(s"l$k")): _*)
    def d38(c: Column): Column = c.cast("decimal(38,0)")
    val aggs: Seq[Column] =
      Seq(count(lit(1)).as("n"), sum(d38(col("x"))).as("s"),
        sum(d38(col("x")) * col("x")).as("sxx")) ++
        (1 to maxLag).flatMap { k =>
          Seq(
            sum(d38(col("x")) * col(s"l$k")).as(s"sp$k"),
            sum(when(col(s"l$k").isNotNull, d38(col("x")))).as(s"sa$k"),
            sum(d38(col(s"l$k"))).as(s"sb$k"),
            count(col(s"l$k")).as(s"m$k"))
        }
    val m = lagged.agg(aggs.head, aggs.tail: _*)
    val n = d38(col("n"))
    val c0 = (n * (n * col("sxx") - col("s") * col("s"))).cast("double")
    val rows = (1 to maxLag).map { k =>
      val ck = (n * n * col(s"sp$k")
        - n * col("s") * (col(s"sa$k") + col(s"sb$k"))
        + d38(col(s"m$k")) * col("s") * col("s")).cast("double")
      struct(lit(k).as("lag"), col(s"m$k").as("n_pairs"),
        round(ck / c0, 6).as("acf"))
    }
    m.select(explode(array(rows: _*)).as("p"))
      .select(col("p.lag").as("lag"), col("p.n_pairs").as("n_pairs"),
        col("p.acf").as("acf"))
  }

  /** q192: FIFO allocation of each customer's account balance across
    * their orders in date order — the classic settlement/matching
    * kernel (payments-to-invoices, credit-to-shipments): order i gets
    * clamp(balance − spend_before_i, 0, price_i). DETERMINISM: pure
    * integer-cents arithmetic over a total order (date, orderkey); no
    * doubles at all. Scale shape: ONE hash exchange on o_custkey feeds
    * both the customer join and the per-customer running-sum window
    * (AQE broadcasts the customer side below threshold); per-partition
    * state is one running sum — streaming-friendly and skew-bounded by
    * orders-per-customer.
    */
  def q192FifoAllocation(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cust = t(spark, dir, "customer")
      .select(col("c_custkey"), round(col("c_acctbal") * 100).cast("long").as("bal"))
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, -1)
    t(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        round(col("o_totalprice") * 100).cast("long").as("price"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .withColumn("spent", coalesce(sum(col("price")).over(w), lit(0L)))
      .select(col("o_orderkey"), col("o_custkey"),
        greatest(lit(0L), least(col("bal") - col("spent"), col("price")))
          .as("alloc_cents"),
        col("price").as("price_cents"))
      .filter(col("alloc_cents") > 0)
      .withColumn("fully_covered", (col("alloc_cents") === col("price_cents")).cast("int"))
  }

  /** q195: ABC inventory classification — parts ranked by discounted
    * revenue; class A carries the first 80% of cumulative revenue, B
    * the next 15%, C the tail (the warehouse-ops twin of q180's Lorenz
    * curve: same cumulative machinery, but the deliverable is the CLASS
    * ASSIGNMENT summary a stocking policy consumes). DETERMINISM:
    * revenue is exact decimal END TO END — the running total goes
    * through Quantiles.prefixSumsDecimal (range exchange +
    * pid-partitioned decimal window + exact BigDecimal offsets), so
    * there is no scaled-long encoding to overflow at catalog scale
    * (rev·10⁴ as a long wraps 2⁶³ around SF ~4000); class boundaries
    * compare cum·100 ≤ total·80 / total·95 in EXACT decimal; the final
    * shares are the only doubles. Scale shape: part-grain agg →
    * decimal prefix sum, no single-partition window — → 3-row agg.
    */
  def q195AbcClasses(spark: SparkSession, dir: String): DataFrame = {
    val rev = t(spark, dir, "lineitem")
      .groupBy(col("l_partkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,4)") *
        (lit(1).cast("decimal(18,4)") - col("l_discount").cast("decimal(18,4)")))
        .as("rev"))
    val tot = rev.agg(sum(col("rev")).as("trev"))
    graft.operators.Quantiles
      .prefixSumsDecimal(rev, Seq(col("rev").desc, col("l_partkey").asc),
        Seq("rev" -> "cum"))
      .crossJoin(broadcast(tot))
      .withColumn("abc_class",
        when(col("cum") * 100 <= col("trev") * 80, "A")
          .when(col("cum") * 100 <= col("trev") * 95, "B")
          .otherwise("C"))
      .groupBy("abc_class")
      .agg(count(lit(1)).as("n_parts"),
        sum(col("rev")).as("class_rev"),
        max(col("trev")).as("trev"))
      .select(col("abc_class"), col("n_parts"),
        round(col("class_rev").cast("double"), 2).as("revenue"),
        round((col("class_rev") / col("trev")).cast("double"), 6).as("rev_share"))
  }

  /** q196: Wald–Wolfowitz runs test on daily revenue — is the sequence
    * of above/below-median days random, or does revenue cluster in
    * streaks (autocorrelation q190 then quantifies)? DETERMINISM: the
    * median is carried DOUBLED in integer cents (sum of the two middle
    * order statistics — no fractional median), days equal to the
    * median are excluded per the standard treatment, the run count is
    * an integer lag-compare sum, and the z-score's μ/σ are evaluated
    * once from integer counts. Scale shape: corpus-sized work is the
    * one date agg; everything after runs on the calendar-bounded day
    * series (two windows + a 1-row agg).
    */
  def q196RunsTest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val day = t(spark, dir, "orders")
      .groupBy(col("o_orderdate").as("d"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("x"))
      .persist()
    val n = day.count()
    val k1 = ((n + 1) / 2).toInt
    val k2 = ((n + 2) / 2).toInt
    val med2 = day
      .withColumn("r", row_number().over(Window.orderBy(col("x"), col("d"))))
      .filter(col("r") === k1 || col("r") === k2)
      .agg((sum(col("x")) * when(lit(k1) === k2, 2).otherwise(1)).as("med2"))
    val signed = day.crossJoin(broadcast(med2))
      .filter(col("x") * 2 =!= col("med2"))
      .withColumn("s", (col("x") * 2 > col("med2")).cast("int"))
    val runs = signed
      .withColumn("prev", lag(col("s"), 1).over(Window.orderBy("d")))
      .agg(
        sum(when(col("prev").isNull || col("prev") =!= col("s"), 1L)
          .otherwise(0L)).as("runs"),
        sum(col("s").cast("long")).as("n1"),
        sum(lit(1L) - col("s")).as("n2"))
    val n1 = col("n1").cast("double")
    val n2 = col("n2").cast("double")
    val mu = lit(2.0) * n1 * n2 / (n1 + n2) + 1
    val sig = sqrt(lit(2.0) * n1 * n2 * (lit(2.0) * n1 * n2 - n1 - n2) /
      ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1)))
    runs.select(col("n1"), col("n2"), col("runs"),
      round((col("runs").cast("double") - mu) / sig, 6).as("z"))
  }

  /** q197: Hill tail-index estimator over customer revenue — the
    * power-law exponent of the spend distribution's upper tail
    * (k = 100 top spenders), the statistic that says whether "whales"
    * follow a Pareto tail and how heavy (the parametric companion of
    * q169's Gini / q180's Lorenz). DETERMINISM: revenues are exact
    * integer cents; each ln is quantized to a 1e9 fixed-point long
    * (q181's idiom) so the Hill sum is exact integer arithmetic with
    * one final division. Scale shape: customer-grain agg, then a
    * k+1-row TakeOrdered (`orderBy().limit(k+1)` plans
    * `TakeOrderedAndProjectExec` — k+1 rows per partition merged on
    * the driver, NO corpus-grain sort through one task; the q5/q254
    * idiom), the tail row by a second 101-row TakeOrdered, and a 1-row
    * agg over the bounded set: `Σ_topk lnx − k·ln_tail =
    * Σ_all − (k+1)·ln_tail`, so the tail never needs a rank column.
    */
  def q197HillTail(spark: SparkSession, dir: String): DataFrame = {
    val k = 100
    val rev = t(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("x"))
      .filter(col("x") > 0)
    // bounded: exactly k+1 = 101 rows; persisted so the tail pass and
    // the sum pass share one corpus scan (runner owns the sweep)
    val top = rev
      .orderBy(col("x").desc, col("o_custkey").asc)
      .limit(k + 1)
      .withColumn("lnx", round(log(col("x").cast("double")) * 1e9).cast("long"))
      .persist()
    // the (k+1)-th row is the LAST of the 101 in (x desc, custkey asc)
    // order = the first in the reversed order — a 101-row TakeOrdered
    val tail = top.orderBy(col("x").asc, col("o_custkey").desc).limit(1)
      .select(col("x").as("x_tail"), col("lnx").as("ln_tail"))
    top
      .agg(sum(col("lnx")).as("s_all"), count(lit(1)).as("n_all"))
      .crossJoin(broadcast(tail))
      // fewer than k+1 tail customers -> no estimate (the oracle's
      // WHERE r = k+1 yields zero rows there; without this guard the
      // TakeOrdered form would emit a bogus 1-row answer — and a 0/0
      // NaN at n = 1)
      .filter(col("n_all") === k + 1)
      .select((col("n_all") - 1).as("k"), col("x_tail").as("x_kplus1_cents"),
        round((col("n_all") - 1).cast("double") * 1e9 /
          (col("s_all") - col("n_all") * col("ln_tail")).cast("double"), 6)
          .as("hill_alpha"))
  }

  /** q199: synchronous label-propagation communities (5 rounds) on the
    * co-purchase graph — the community-detection companion of q150's
    * triangle count and q37's connected components: LPA finds DENSE
    * neighborhoods (each node adopts its neighbors' majority label),
    * not mere reachability, and the fixed round count makes it
    * deterministic AND bounded — the properties a scheduled corpus job
    * needs. Ties break to the smallest label (argmax carried as
    * max(struct(count, −label)), exact integers). Scale shape: each
    * round is ONE edge⋈labels equi-join + two hash aggs — 5 rounds =
    * 5 bounded shuffles (q37's CC analysis applies); the edge list is
    * reused across rounds from one persist.
    */
  /** q260: cohort lifetime-value curve — customers cohorted by their
    * first-order month; per (cohort, month offset), cohort size,
    * cumulative revenue and cumulative LTV per customer. The
    * subscription/retention economics readout (q123's retention
    * triangle with revenue as the measure). DETERMINISM: revenue is
    * integer cents end to end; the cumulative sum is a window over
    * month offsets PARTITIONED by cohort (bounded partitions — the
    * calendar span), divisions happen once in the final projection.
    * Scale shape: one orders scan → customer-grain first-order agg →
    * one custkey equi-join back → (cohort, offset) agg; every exchange
    * is keyed, no global sort, and the cohort output grid is
    * months²-bounded.
    */
  def q260CohortLtv(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = t(spark, dir, "orders").select(col("o_custkey"),
      date_trunc("month", col("o_orderdate")).cast("date").as("mon"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val fo = o.groupBy("o_custkey").agg(min(col("mon")).as("cohort")).persist()
    val sz = fo.groupBy("cohort").agg(count(lit(1)).as("n_customers"))
    val mr = o.join(fo, Seq("o_custkey"))
      .groupBy(col("cohort"),
        months_between(col("mon"), col("cohort")).cast("long").as("offset_m"))
      .agg(sum(col("cents")).as("rev"))
    mr.withColumn("cum_cents", sum(col("rev")).over(
        Window.partitionBy("cohort").orderBy("offset_m")))
      .join(sz, Seq("cohort"))
      .select(date_format(col("cohort"), "yyyy-MM").as("cohort"),
        col("offset_m"), col("n_customers"),
        round(col("cum_cents") / 100.0, 2).as("cum_revenue"),
        round(col("cum_cents") / 100.0 / col("n_customers"), 6)
          .as("ltv_per_customer"))
  }

  /** q261: event-sequence perplexity — per user, the mean negative log
    * likelihood of their event-type sequence under the corpus MLE
    * first-order Markov model (q139's transition matrix): the sequence
    * anomaly score that flags bot-like or broken navigation paths.
    * DETERMINISM: each transition's −ln P(next|cur) is 1e9-quantized
    * to an integer BEFORE the per-user sum (order-free exact
    * addition), one division at the end. Scale shape: one
    * user-partitioned lead window builds transitions; the transition
    * matrix is a |types|²-bounded agg broadcast back onto the
    * transition stream; the per-user rollup is one keyed hash agg.
    * No global sort, no driver state beyond the tiny matrix.
    */
  def q261SeqPerplexity(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val tr = events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .select(col("user_id"), col("event_type").as("cur"), col("next_type"))
      .persist()
    val mat = tr.groupBy("cur", "next_type").agg(count(lit(1)).as("c"))
      .withColumn("ct", sum(col("c")).over(Window.partitionBy("cur")))
      .select(col("cur"), col("next_type"),
        round(-log(col("c").cast("double") / col("ct")) * 1e9, 0)
          .cast("long").as("nll_q"))
    tr.join(broadcast(mat), Seq("cur", "next_type"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_transitions"), sum(col("nll_q")).as("s"))
      .select(col("user_id"), col("n_transitions"),
        round(col("s") / 1e9 / col("n_transitions"), 6).as("avg_nll"))
  }

  /** q262: right-to-be-forgotten cascade audit — the deletion-impact
    * report a governance pipeline produces BEFORE purging: for the
    * deterministic forget set (customers with custkey % 97 = 0), the
    * rows that would be removed from customer, orders (by custkey) and
    * lineitem (via the purged orders), per table beside its survivor
    * count. DETERMINISM: pure integer counting. Scale shape: the
    * forget predicate is a pushed-down scan filter on customer and
    * orders; lineitem's cascade is ONE semi-join against the purged
    * orderkeys (never a full orders⋈lineitem materialization); the
    * report is three 1-row aggs unioned.
    */
  def q262ForgetAudit(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer").select(col("c_custkey"))
    val o = t(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val li = t(spark, dir, "lineitem").select(col("l_orderkey"))
    val cGone = cust.filter(col("c_custkey") % 97 === 0)
    val oGone = o.filter(col("o_custkey") % 97 === 0).persist()
    val liGone = li.join(oGone.select(col("o_orderkey")),
      li("l_orderkey") === col("o_orderkey"), "left_semi")
    val cRow = cust.agg(count(lit(1)).as("n_total"))
      .crossJoin(cGone.agg(count(lit(1)).as("n_purged")))
      .select(lit("customer").as("table_name"), col("n_total"), col("n_purged"))
    val oRow = o.agg(count(lit(1)).as("n_total"))
      .crossJoin(oGone.agg(count(lit(1)).as("n_purged")))
      .select(lit("orders").as("table_name"), col("n_total"), col("n_purged"))
    val lRow = li.agg(count(lit(1)).as("n_total"))
      .crossJoin(liGone.agg(count(lit(1)).as("n_purged")))
      .select(lit("lineitem").as("table_name"), col("n_total"), col("n_purged"))
    cRow.unionByName(oRow).unionByName(lRow)
      .select(col("table_name"), col("n_total"), col("n_purged"),
        (col("n_total") - col("n_purged")).as("n_kept"),
        round(col("n_purged").cast("double") / col("n_total"), 6)
          .as("purge_frac"))
  }

  /** q283: delete-1 jackknife for a ratio metric — the overall
    * purchase-per-view ratio with its jackknife standard error over
    * daily blocks: ratio metrics (CTR, conversion, revenue-per-user)
    * violate the iid-row assumption behind q161's z-test, and the
    * block jackknife is the standard correct variance — this is the
    * readout an experimentation platform places beside every ratio
    * metric. DETERMINISM: daily counts are exact integers; each
    * leave-one-day-out pseudo-ratio is ONE mirrored double division
    * 1e12-QUANTIZED to an integer before the order-free moment sums;
    * the SE closed form is a fixed double expression. Scale shape:
    * one events scan → day-grain agg; the pseudo-value pass is
    * day-grain with the totals broadcast; moments are one 1-row agg.
    */
  def q283JackknifeRatio(spark: SparkSession, dir: String): DataFrame = {
    val day = events(spark, dir)
      .groupBy(col("ts").cast("date").as("d"))
      .agg(sum((col("event_type") === "purchase").cast("long")).as("x"),
        sum((col("event_type") === "view").cast("long")).as("y"))
    val tot = day.agg(sum(col("x")).as("sx"), sum(col("y")).as("sy"))
    val pseudo = day.crossJoin(broadcast(tot))
      .filter(col("sy") - col("y") > 0)
      .select(col("sx"), col("sy"),
        round((col("sx") - col("x")).cast("double") /
          (col("sy") - col("y")) * 1e12, 0).cast("long").as("rq"))
    pseudo
      .groupBy("sx", "sy")
      .agg(count(lit(1)).as("n_days"),
        sum(col("rq")).as("s1"),
        sum(col("rq").cast("decimal(38,0)") * col("rq")).as("s2"))
      .withColumn("s1d", col("s1").cast("double") / 1e12)
      .withColumn("s2d", col("s2").cast("double") / 1e24)
      .select(col("n_days"),
        round(col("sx").cast("double") / col("sy"), 6).as("ratio"),
        round(sqrt((col("s2d") - col("s1d") * col("s1d") / col("n_days"))
          * (col("n_days") - 1) / col("n_days")), 6).as("jackknife_se"))
  }

  /** q281: YoY price-volume-mix decomposition — for each consecutive
    * year pair and the parts traded in BOTH years, the revenue change
    * split into price effect (Δp·q₀), volume effect (p₀·Δq) and the
    * cross/mix term (Δp·Δq), beside the actual integer-cents delta:
    * the FP&A bridge that says whether revenue moved because prices
    * moved or because volumes did (q228's Laspeyres index is the
    * ratio cousin; this is the additive bridge). DETERMINISM: yearly
    * (part) revenue/quantity are exact integers; unit prices are
    * mirrored double divisions and each part's three effects are
    * ROUNDED TO INTEGER CENTS before the cross-part sums (order-free);
    * the actual delta never touches doubles. Scale shape: one
    * (year, part) hash agg, one part-keyed self-join between adjacent
    * years, one year-pair rollup.
    */
  def q281PriceVolumeMix(spark: SparkSession, dir: String): DataFrame = {
    val yp = t(spark, dir, "lineitem")
      .select(year(col("l_shipdate")).as("y"), col("l_partkey"),
        col("l_quantity").cast("long").as("q"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("r"))
      .groupBy("y", "l_partkey")
      .agg(sum(col("q")).as("q"), sum(col("r")).as("r"))
    val a = yp.select(col("y").as("y0"), col("l_partkey"),
      col("q").as("q0"), col("r").as("r0"))
    val b = yp.select((col("y") - 1).as("y0"), col("l_partkey"),
      col("q").as("q1"), col("r").as("r1"))
    a.join(b, Seq("y0", "l_partkey"))
      .withColumn("p0", col("r0").cast("double") / col("q0"))
      .withColumn("p1", col("r1").cast("double") / col("q1"))
      .select(col("y0"), col("l_partkey"), col("q0"), col("q1"),
        col("r0"), col("r1"),
        round((col("p1") - col("p0")) * col("q0"), 0).cast("long").as("pe"),
        round(col("p0") * (col("q1") - col("q0")), 0).cast("long").as("ve"),
        round((col("p1") - col("p0")) * (col("q1") - col("q0")), 0)
          .cast("long").as("ce"))
      .groupBy("y0")
      .agg(count(lit(1)).as("n_parts"),
        sum(col("pe")).as("spe"), sum(col("ve")).as("sve"),
        sum(col("ce")).as("sce"),
        sum(col("r1") - col("r0")).as("sd"))
      .select(col("y0").as("year_from"), (col("y0") + 1).as("year_to"),
        col("n_parts"),
        round(col("spe") / 100.0, 2).as("price_effect"),
        round(col("sve") / 100.0, 2).as("volume_effect"),
        round(col("sce") / 100.0, 2).as("mix_effect"),
        round(col("sd") / 100.0, 2).as("actual_delta"))
  }

  /** q278: open-order aging sweep — per calendar day, how many
    * lineitem lines are ordered-but-not-yet-shipped and the cents
    * value in flight: each line opens at its order date and closes at
    * its ship date, and the daily snapshot is the boundary-sweep
    * running sum (+1/−1, +cents/−cents) — the q202 sweep idea carried
    * to supply-chain backlog, NEVER an interval-vs-day join. Only
    * lines with ship date strictly after order date enter the sweep —
    * this fixture's dates are uncorrelated, and a line shipping
    * same-day-or-earlier is open in NO daily snapshot, which also
    * pins the drain-to-zero conservation the spec asserts.
    * DETERMINISM: exact integer deltas over the day order. Scale
    * shape: one orderkey equi-join, one (day) hash agg of boundary
    * deltas, then day-grain running sums (calendar-bounded window).
    */
  def q278OpenOrderAging(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val j = t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate").cast("date").as("sd"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
      .join(t(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate").cast("date").as("od")),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("sd") > col("od"))
    val b = j.select(col("od").as("d"), lit(1L).as("dl"), col("cents").as("dc"))
      .unionByName(j.select(col("sd").as("d"), lit(-1L).as("dl"),
        (-col("cents")).as("dc")))
      .groupBy("d").agg(sum(col("dl")).as("dlines"), sum(col("dc")).as("dcents"))
    val w = Window.orderBy("d")
    b.withColumn("open_lines", sum(col("dlines")).over(w))
      .withColumn("open_cents", sum(col("dcents")).over(w))
      .select(date_format(col("d"), "yyyy-MM-dd").as("day"),
        col("open_lines"),
        round(col("open_cents") / 100.0, 2).as("open_value"))
  }

  /** q274: order-invariant table checksums — per dimension table, row
    * count plus a content checksum (sum of each row's md5-prefix as a
    * 32-bit integer over its canonical key|name rendering): the
    * anti-entropy primitive two replicas/engines compare to detect
    * divergence without moving rows. DETERMINISM: md5 of explicit
    * string renderings (keys + names only — no float formatting), sum
    * of exact integers is order-free. Scale shape: one scan + 1-row
    * agg per table, map-side combinable; the checksum never shuffles
    * row content.
    */
  def q274TableChecksums(spark: SparkSession, dir: String): DataFrame = {
    def sumCk(df: DataFrame, name: String, ren: Column): DataFrame =
      df.select(conv(substring(md5(ren), 1, 8), 16, 10).cast("long").as("h"))
        .agg(count(lit(1)).as("n_rows"), sum(col("h")).as("checksum"))
        .select(lit(name).as("table_name"), col("n_rows"), col("checksum"))
    val r = sumCk(t(spark, dir, "region"), "region",
      concat_ws("|", col("r_regionkey"), col("r_name")))
    val n = sumCk(t(spark, dir, "nation"), "nation",
      concat_ws("|", col("n_nationkey"), col("n_name"), col("n_regionkey")))
    val c = sumCk(t(spark, dir, "customer"), "customer",
      concat_ws("|", col("c_custkey"), col("c_name"), col("c_nationkey")))
    val s = sumCk(t(spark, dir, "supplier"), "supplier",
      concat_ws("|", col("s_suppkey"), col("s_name"), col("s_nationkey")))
    val p = sumCk(t(spark, dir, "part"), "part",
      concat_ws("|", col("p_partkey"), col("p_name")))
    r.unionByName(n).unionByName(c).unionByName(s).unionByName(p)
  }

  /** q275: k-core peeling — four rounds of removing nodes with degree
    * < 3 from the co-purchase graph (edges restricted to survivors
    * each round), reporting nodes/edges per round: the dense-core
    * extraction that isolates the hub subgraph community detection
    * and recommendation quality depend on (degree q268 tells you the
    * distribution; this tells you what survives it). DETERMINISM:
    * pure integer degree counting, fixed round count. Scale shape:
    * each round is one degree hash agg + two semi-joins on the node
    * id over the persisted shrinking edge set — the bounded-rounds
    * family (CC/BFS/label propagation); survivor sets only shrink.
    */
  def q275KCore(spark: SparkSession, dir: String): DataFrame = {
    val k = 3
    var edges = graft.operators.Edges.coPurchaseUndirected(spark, dir).persist()
    val out = collection.mutable.Buffer.empty[(Int, Long, Long)]
    for (r <- 1 to 4) {
      val keep = edges.groupBy("a").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("a").as("node"))
      val next = edges
        .join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
        .persist()
      val ne = next.count() // materializes before releasing the parent
      val nn = next.select(col("a")).distinct().count()
      edges.unpersist()
      edges = next
      out += ((r, nn, ne / 2))
    }
    edges.unpersist()
    import spark.implicits._
    out.toSeq.toDF("round", "n_nodes", "n_edges")
  }

  /** q276: A/B sample-size planning (power analysis) — per customer
    * segment, the per-arm sample size needed to detect a 1% lift in
    * mean order value at α = 0.05 / 80% power (the 16·σ²/δ² rule):
    * the experiment-design op that closes the loop with the readouts
    * (z-test q161, Welch q224). DETERMINISM: mean and variance come
    * from exact DECIMAL(38) moment sums; the final formula is a
    * handful of double ops, round 6. Scale shape: one scan → one
    * |segments|-row moment agg; nothing else.
    */
  def q276PowerAnalysis(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
      .join(broadcast(t(spark, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    o.groupBy("segment")
      .agg(count(lit(1)).as("n"),
        sum(col("cents")).as("sc"),
        sum(col("cents").cast("decimal(38,0)") * col("cents")).as("sc2"))
      .withColumn("s", col("sc").cast("double") / 100.0)
      .withColumn("sxx", col("sc2").cast("double") / 10000.0)
      .select(col("segment"), col("n"),
        round(col("s") / col("n"), 6).as("mean_value"),
        round((col("sxx") - col("s") * col("s") / col("n"))
          / (col("n") - 1), 6).as("variance"),
        ceil(lit(16.0) *
          ((col("sxx") - col("s") * col("s") / col("n")) / (col("n") - 1)) /
          (col("s") / col("n") * 0.01 * (col("s") / col("n")) * 0.01))
          .cast("long").as("required_n_per_arm"))
  }

  /** q270: STL-lite seasonal decomposition — the daily revenue series
    * split into trend (centered 7-day moving average over DAY NUMBERS,
    * calendar-gap-correct RANGE frame), weekday seasonal (mean
    * detrended value per day-of-week), and residual: the
    * trend/seasonality/noise readout an anomaly monitor consumes.
    * DETERMINISM: the series is integer cents; trend is one double
    * division of exact sums; the detrended value is 1e6-QUANTIZED to
    * an integer before the per-weekday mean (order-free integer sum),
    * so the seasonal means are one division of exact integers; the
    * weekday key is dn % 7 (pure integer arithmetic — no engine
    * dayofweek convention). Scale shape: day-grain throughout after
    * one orders rollup; the RANGE window and the 7-row seasonal join
    * are calendar-bounded.
    */
  def q270StlDecompose(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val day = t(spark, dir, "orders")
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
      .withColumn("dn", datediff(col("d"), lit("1970-01-01").cast("date"))
        .cast("long"))
    val w = Window.orderBy("dn").rangeBetween(-3, 3)
    val tr = day
      .withColumn("tsum", sum(col("cents")).over(w))
      .withColumn("tcnt", count(lit(1)).over(w))
      .withColumn("trend", col("tsum").cast("double") / col("tcnt"))
      .withColumn("dq",
        round((col("cents") - col("trend")) * 1e6, 0).cast("long"))
      .withColumn("dow", col("dn") % 7)
      .persist()
    val seas = tr.groupBy("dow")
      .agg((sum(col("dq")).cast("double") / count(lit(1)) / 1e6).as("seasonal"))
    tr.join(broadcast(seas), Seq("dow"))
      .select(date_format(col("d"), "yyyy-MM-dd").as("day"),
        round(col("cents") / 100.0, 2).as("revenue"),
        round(col("trend") / 100.0, 6).as("trend"),
        round(col("seasonal") / 100.0, 6).as("seasonal"),
        round((col("cents") - col("trend") - col("seasonal")) / 100.0, 6)
          .as("residual"))
  }

  /** q271: weighted median — per return flag, the revenue-weighted
    * median quantity (each row weighted by its extended price in
    * cents): "the quantity at which half the MONEY sits below", the
    * robust center for dollar-weighted distributions where the plain
    * median (q58) weights every line equally. DETERMINISM: weights
    * and cumulative weights are exact integers over the total
    * (quantity, orderkey, linenumber) order; the median is the first
    * row where 2·cumw ≥ W — pure integer selection. Scale shape: the
    * corpus-sized work is ONE (flag, qty) hash aggregation (map-side
    * combinable); the cumulative window then runs on the
    * |flags|×|distinct qty| HISTOGRAM (150 rows here), never on row
    * grain — the grouped first-crossing qty equals the row-level one
    * exactly, and the oracle keeps the row-level formulation as the
    * correctness pin (the q214 two-pass selection idea with an exact
    * histogram instead of bins).
    */
  def q271WeightedMedian(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = t(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity").cast("long").as("qty"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("wc"))
      .groupBy("l_returnflag", "qty").agg(sum(col("wc")).as("w"))
    h.withColumn("cumw", sum(col("w")).over(
        Window.partitionBy("l_returnflag").orderBy("qty")))
      .withColumn("tot", sum(col("w")).over(
        Window.partitionBy("l_returnflag")))
      .filter(col("cumw") * 2 >= col("tot"))
      .groupBy("l_returnflag")
      .agg(min(col("qty")).as("w_median_qty"),
        max(col("tot")).as("total_weight_cents"))
  }

  /** q273: incremental join-view maintenance — the q126 idea for JOIN
    * views: with orders and lineitem each split into a base and a
    * delta batch (by order/ship date), the monthly-revenue join view
    * is computed as the four-way delta algebra
    * base⋈base ∪ Δo⋈base ∪ base⋈Δl ∪ Δo⋈Δl and must equal the
    * from-scratch full join (the oracle) — the refresh-equals-
    * recompute contract that lets a 100 TB warehouse join only the
    * nightly delta against the standing sides instead of rejoining
    * history. DETERMINISM: exact decimal revenue. Scale shape: four
    * keyed equi-joins whose inputs are date-pruned scans (pushed
    * filters); the union feeds one month-grain agg — at production
    * scale three of the four legs are delta-sized.
    */
  def q273IncrementalJoin(spark: SparkSession, dir: String): DataFrame = {
    val cut = "1998-06-01"
    val o = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"))
    val li = t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"),
        (col("l_extendedprice").cast("decimal(18,4)") *
          (lit(1) - col("l_discount").cast("decimal(18,4)"))).as("rev"))
    val (ob, od) = (o.filter(col("o_orderdate") < cut),
      o.filter(col("o_orderdate") >= cut))
    val (lb, ld) = (li.filter(col("l_shipdate") < cut),
      li.filter(col("l_shipdate") >= cut))
    def leg(os: DataFrame, ls: DataFrame): DataFrame =
      os.join(ls, os("o_orderkey") === ls("l_orderkey"))
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
          col("rev"))
    leg(ob, lb).unionByName(leg(od, lb))
      .unionByName(leg(ob, ld)).unionByName(leg(od, ld))
      .groupBy("month")
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("rev")).cast("double"), 2).as("revenue"))
  }

  /** q268: co-purchase degree distribution — nodes of the support-2
    * co-purchase graph bucketed by ⌊log2 degree⌋ (q235's integer
    * `length(bin(x)) − 1` idiom, no floating log): per bucket, node
    * count, edge-endpoint mass and mean degree. The power-law readout
    * that says whether the graph queries' frontier joins will meet
    * hubs — the capacity check before running q150/q199/q203 at scale.
    * DETERMINISM: pure integer counting. Scale shape: rides the shared
    * [[graft.operators.Edges]] build (two exchanges); degrees are one
    * hash agg on the node id; the histogram is a ≤64-row rollup.
    */
  def q268DegreeHistogram(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Edges.coPurchaseUndirected(spark, dir)
      .groupBy(col("a").as("node")).agg(count(lit(1)).as("deg"))
      .select(col("deg"), (length(bin(col("deg"))) - 1).cast("long").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("total_degree"))
      .select(
        expr("shiftleft(CAST(1 AS BIGINT), CAST(bucket AS INT))").as("deg_lo"),
        col("n_nodes"), col("total_degree"),
        round(col("total_degree").cast("double") / col("n_nodes"), 6)
          .as("mean_degree"))

  /** q266: Markov removal-effect attribution — the data-driven
    * multi-touch model beyond q217's positional heuristics: build the
    * first-order journey chain (START → pre-first-purchase touch
    * sequence → CONV/NULL), and score each channel by how much the
    * chain's 12-step conversion probability from START drops when that
    * channel is removed (its transitions redirected to NULL) — the
    * Shapley-flavored "what actually drives conversion" readout.
    * DETERMINISM: the chain iterates in 1e9 fixed point with integer
    * division by each state's exact out-degree — every iterate is an
    * exact integer on any engine; the horizon is a constant (12), so
    * the metric is the DEFINED 12-step absorption probability, not a
    * convergence-dependent limit. Scale shape: journeys/transitions
    * are two user-partitioned windows + one hash agg (corpus-sized,
    * keyed); the chain itself is a ≤|types|²-row driver solve (the
    * kmeans bounded-state pattern) — scenarios × states × 12 rounds of
    * scalar arithmetic, corpus-size-independent.
    */
  def q266MarkovAttribution(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val pos = events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("pos", row_number().over(w))
    val cut = pos.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(min(col("pos")).as("cut"))
    val pre = pos.join(cut, Seq("user_id"), "left")
      .filter(col("cut").isNull || col("pos") < col("cut"))
      .select(col("user_id"), col("event_type"), col("pos"), col("cut"))
    val w2 = Window.partitionBy("user_id").orderBy("pos")
    val steps = pre
      .withColumn("nxt", lead(col("event_type"), 1).over(w2))
      .withColumn("rk", row_number().over(w2))
    val tr = steps.filter(col("nxt").isNotNull)
      .select(col("event_type").as("s"), col("nxt").as("t"))
      .unionByName(steps.filter(col("rk") === 1)
        .select(lit("START").as("s"), col("event_type").as("t")))
      .unionByName(steps.filter(col("nxt").isNull)
        .select(col("event_type").as("s"),
          when(col("cut").isNotNull, lit("CONV")).otherwise(lit("NULL")).as("t")))
      .unionByName(cut // purchased with ZERO pre-purchase touches
        .join(pre.select("user_id").distinct(), Seq("user_id"), "left_anti")
        .select(lit("START").as("s"), lit("CONV").as("t")))
    val tc = tr.groupBy("s", "t").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val states = tc.keys.map(_._1).toSeq.distinct.sorted // transient only
    val n = states.map(s => s -> tc.collect { case ((`s`, _), c) => c }.sum).toMap
    // 12 fixed-point rounds of v(s) <- (Σ c(s,t)·v(t) + c(s,CONV)·1e9) / n(s)
    def solve(removed: Option[String]): Long = {
      var v = states.map(_ -> 0L).toMap
      for (_ <- 1 to 12) {
        v = states.map { s =>
          if (removed.contains(s)) s -> 0L
          else {
            val acc = tc.collect {
              case ((`s`, t), c) if !removed.contains(t) =>
                c * (if (t == "CONV") 1000000000L
                     else v.getOrElse(t, 0L)) // NULL and absent -> 0
            }.sum
            s -> acc / n(s)
          }
        }.toMap
      }
      v("START")
    }
    val base = solve(None)
    import spark.implicits._
    states.filter(_ != "START")
      .map(ch => (ch, base, solve(Some(ch))))
      .toDF("channel", "bv", "rv")
      .select(col("channel"),
        round(col("bv") / 1e9, 6).as("conv_prob"),
        round(col("rv") / 1e9, 6).as("conv_prob_removed"),
        round((col("bv") - col("rv")) * lit(1.0) / col("bv"), 6)
          .as("removal_effect"))
  }

  /** q265: daily-active and cumulative-unique users — per day: DAU,
    * first-time users, and the running total of distinct users ever
    * seen (the growth-accounting triplet every product dashboard
    * leads with). Computing cumulative uniques naively needs a
    * distinct over an ever-growing prefix per day; this plan gets it
    * exactly from first-seen dates: cum_users(d) = Σ new_users(≤d).
    * DETERMINISM: pure integer counting over exact dates (UTC
    * session). Scale shape: ONE (user, day) dedup agg is the only
    * corpus-sized exchange; DAU and first-seen fold from it; the
    * running sum is a day-grain window (calendar-bounded partition).
    */
  def q265CumulativeUniques(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val du = events(spark, dir)
      .select(col("user_id"), col("ts").cast("date").as("d"))
      .distinct().persist()
    val daily = du.groupBy("d").agg(count(lit(1)).as("daily_active"))
    val nw = du.groupBy("user_id").agg(min(col("d")).as("d"))
      .groupBy("d").agg(count(lit(1)).as("new_users"))
    daily.join(nw, Seq("d"), "left")
      .na.fill(0L, Seq("new_users"))
      .withColumn("cum_users", sum(col("new_users")).over(
        Window.orderBy("d")))
      .select(date_format(col("d"), "yyyy-MM-dd").as("day"),
        col("daily_active"), col("new_users"), col("cum_users"))
  }

  /** q254: bipartite HITS over the customer→part purchase graph — two
    * hub/authority rounds (customers are hubs, parts authorities) with
    * max-normalization after every half-step, reporting the top-15
    * authority parts (the "consensus bestsellers" bought by the
    * broadest high-activity customers — degree q148 reweighted by WHO
    * buys). Same bounded-rounds family as PageRank q240 / label
    * propagation q199, but bipartite with per-half-step renorm.
    * DETERMINISM: scores are 1e9 fixed-point longs; every half-step is
    * an exact integer sum followed by integer division by the max (a
    * 1-row broadcast), so results are partition-order invariant and
    * engine-replayable bit-for-bit. Scale shape: the edge build is one
    * orderkey equi-join + distinct (corpus-grain, two exchanges,
    * persisted across rounds); each half-step is an equi-join of edges
    * with a node-grain score table + a hash agg — never a cross
    * product; normalization broadcasts one scalar. The top-15 is a
    * TakeOrdered, never a full sort.
    */
  def q254Hits(spark: SparkSession, dir: String): DataFrame =
    q254Hits(spark, dir, saltBuckets = 1)

  /** [[q254Hits]] with the per-half-step propagation joins routed
    * through [[graft.operators.Edges.saltedPropagate]] — the explicit
    * hub-skew relief (AQE cannot split these joins: the score side
    * carries its aggregation above the exchange; see saltedPropagate's
    * doc and Round10Spec's measured pin). `saltBuckets = 1` (the
    * registered query) is the plain join; Round10Spec proves salt
    * invariance and the hot-partition split on a Zipfian hub.
    */
  def q254Hits(spark: SparkSession, dir: String, saltBuckets: Int): DataFrame = {
    import graft.operators.Edges.saltedPropagate
    // shared bipartite build (Edges.customerPart), persisted across the
    // three half-steps. The catalog table is bucketed on c — the
    // half-step-3 join key; the p-keyed half (the a1 aggregation and
    // the half-step-2 join) reads a SECOND view pre-partitioned on p
    // (VERDICT r16 item 3): one in-query edge exchange, after which no
    // half-step moves edge-grain data at all.
    val edges = graft.operators.Edges.customerPart(spark, dir).persist()
    val edgesByP = edges.repartition(col("p")).persist()
    // half-step 1: auth <- Σ hub0 (hub0 = 1e9 for every customer).
    // Each score table feeds both its own max (the renorm scalar) and
    // the next join — persist so the aggregation runs once, not twice.
    val a1 = edgesByP.groupBy("p")
      .agg((count(lit(1)) * lit(1000000000L)).as("a")).persist()
    val a1n = a1.crossJoin(broadcast(a1.agg(max(col("a")).as("am"))))
      .select(col("p"),
        expr("(CAST(a AS DECIMAL(38,0)) * 1000000000) div am").as("a"))
    // half-step 2: hub <- Σ auth over the customer's parts. SHUFFLE_HASH
    // on the NODE-grain score side (the q289 discipline): without the
    // hint the planner broadcast the EDGE table into both propagation
    // joins (the cached edge relation has known stats under the 10 MB
    // threshold while the aggregated score side has none — guide §3.1's
    // "estimates are often badly wrong after aggregation"; measured:
    // two 500k-row hash relations built + probed at 10-12 s CPU each).
    // The edge side streams over its pre-partitioned layout — zero
    // exchange, no sort — and only the score side shuffles; at 100 TB
    // neither node table fits the broadcast cap, so this is also the
    // only shape that scales.
    val h1 = saltedPropagate(edgesByP, a1n.hint("shuffle_hash"), "p", col("c"), saltBuckets)
      .groupBy("c").agg(sum(col("a")).as("h"))
      .persist()
    val h1n = h1.crossJoin(broadcast(h1.agg(max(col("h")).as("hm"))))
      .select(col("c"),
        expr("(CAST(h AS DECIMAL(38,0)) * 1000000000) div hm").as("h"))
    // half-step 3: auth round 2 from the renormalized hubs (same
    // node-grain SHUFFLE_HASH shape; the bucketed-on-c scan is the
    // pre-partitioned edge side here)
    val a2 = saltedPropagate(edges, h1n.hint("shuffle_hash"), "c", col("p"), saltBuckets)
      .groupBy("p")
      .agg(sum(col("h")).as("a2"), count(lit(1)).as("n_buyers")).persist()
    a2.crossJoin(broadcast(a2.agg(max(col("a2")).as("am2"))))
      .select(col("p").as("l_partkey"), col("n_buyers"),
        expr("(CAST(a2 AS DECIMAL(38,0)) * 1000000000) div am2")
          .as("authority_fp"))
      .orderBy(col("authority_fp").desc, col("l_partkey").asc)
      .limit(15)
      .withColumn("authority", round(col("authority_fp") / 1e9, 6))
  }

  /** q302: bipartite SALSA authorities — one full SALSA authority round
    * over the shared customer→part purchase graph: h(c) = Σ_{p∈N(c)}
    * a₀(p)/deg(p), a₁(p) = Σ_{c∈N(p)} h(c)/deg(c), a₀ ≡ 1. Where HITS
    * (q254) lets a mega-customer dominate (its full hub weight reaches
    * every part it buys), SALSA's DEGREE normalization splits each
    * node's mass over its neighbors — the random-walk variant serving
    * stacks prefer for popularity de-biasing; reported as the top-15
    * parts (salsa desc, partkey asc). DETERMINISM: 1e9 fixed point,
    * every step an exact integer `div` (q289's discipline; the oracle
    * unrolls the identical rounds with `//`). Scale shape: the shared
    * persisted edge build + two node-grain degree aggs joined back
    * onto edges (keyed equi-joins, hub skew relieved the saltedPropagate
    * way if ever needed — same join shape as q254, same measured
    * AQE finding), each half-step one join + one hash agg; top-15 is a
    * TakeOrdered.
    */
  def q302Salsa(spark: SparkSession, dir: String): DataFrame = {
    val edges = graft.operators.Edges.customerPart(spark, dir).persist()
    val degP = edges.groupBy("p").agg(count(lit(1)).as("dp"))
    val degC = edges.groupBy("c").agg(count(lit(1)).as("dc"))
    val h1 = edges.join(degP, Seq("p"))
      .select(col("c"), expr("CAST(1000000000 AS BIGINT) div dp").as("m"))
      .groupBy("c").agg(sum(col("m")).as("h"))
    edges.join(h1, Seq("c")).join(degC, Seq("c"))
      .select(col("p"), expr("h div dc").as("m"))
      .groupBy("p").agg(sum(col("m")).as("salsa_fp"), count(lit(1)).as("n_buyers"))
      .orderBy(col("salsa_fp").desc, col("p").asc)
      .limit(15)
      .select(col("p").as("l_partkey"), col("n_buyers"), col("salsa_fp"),
        round(col("salsa_fp") / 1e9, 6).as("salsa"))
  }

  /** q303: per-user additive Holt-Winters (level, trend, seasonal)
    * batch fold — α = β = γ = ½, period 4 by event index: the
    * three-variable completion of the recursive-fold family (EWMA
    * q267's one variable, Holt q251/q284's two) and the batch oracle
    * its streaming twin q304 is gated against. Update at 0-based step
    * n with s = seas(n mod 4): l' = (x − s + l + b)/2,
    * b' = (l' − l + b)/2, seas(n mod 4) ← (x − l' + s)/2 — each a
    * single IEEE division of a left-to-right sum, replayed in the
    * identical order by the DuckDB recursive CTE (the q284 engine-
    * difference discipline: a coupled fold cannot be a DuckDB list
    * lambda, so the oracle recurses). DETERMINISM: the fold order is
    * the total (ts, event_id) sort; IEEE ops are engine-identical.
    * Scale shape: ONE user-keyed collect_list agg (state bounded by
    * per-user history — same contract as q176/q251) + a per-row
    * `aggregate` HOF; no window, no join.
    */
  def q303HoltWintersBatch(spark: SparkSession, dir: String): DataFrame = {
    val per = events(spark, dir)
      .groupBy("user_id")
      .agg(expr(
        """transform(
          |  array_sort(collect_list(struct(unix_micros(ts) AS t,
          |                                 event_id AS e, value AS v))),
          |  x -> x.v)""".stripMargin).as("xs"))
    per.withColumn("st", expr(
      """aggregate(
        |  slice(xs, 2, size(xs) - 1),
        |  named_struct('l', element_at(xs, 1), 'b', CAST(0 AS DOUBLE),
        |               'seas', array_repeat(CAST(0 AS DOUBLE), 4), 'n', 1L),
        |  (acc, x) -> named_struct(
        |    'l', (x - element_at(acc.seas, CAST(acc.n % 4 AS INT) + 1)
        |          + acc.l + acc.b) / 2,
        |    'b', ((x - element_at(acc.seas, CAST(acc.n % 4 AS INT) + 1)
        |           + acc.l + acc.b) / 2 - acc.l + acc.b) / 2,
        |    'seas', transform(acc.seas, (s, i) ->
        |      IF(i = CAST(acc.n % 4 AS INT),
        |         (x - (x - s + acc.l + acc.b) / 2 + s) / 2, s)),
        |    'n', acc.n + 1L))""".stripMargin))
      .select(col("user_id"), col("st.n").as("n_events"),
        col("st.l").as("level"), col("st.b").as("trend"),
        element_at(col("st.seas"), 1).as("s0"),
        element_at(col("st.seas"), 2).as("s1"),
        element_at(col("st.seas"), 3).as("s2"),
        element_at(col("st.seas"), 4).as("s3"))
  }

  /** q291: local clustering coefficient — per co-purchase node, how
    * close its neighborhood is to a clique: 2·T(v) / (deg(v)·(deg(v)−1))
    * with T(v) the node's triangle participation, reported as the
    * top-15 (coeff desc, partkey asc) over degree-≥2 nodes. The
    * node-level refinement of q150's global census (community cores vs
    * bridge nodes — the structure label-propagation q199 and k-core
    * q275 consume). DETERMINISM: T and deg are exact integers; the
    * coefficient is one double division of exact ints, round 6. Scale
    * shape: the same degree-oriented triple plan as q150
    * (Edges.trianglesPerNode — wedge volume O(Σ outdeg²) with the
    * O(√|E|) orientation bound) + one explode + node-keyed agg; top-15
    * is a TakeOrdered.
    */
  def q291ClusteringCoefficient(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.operators.Edges.coPurchase(spark, dir).persist()
    val deg = e.select(col("a").as("node"))
      .unionByName(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    deg.filter(col("deg") >= 2)
      .join(graft.operators.Edges.trianglesPerNode(e), Seq("node"), "left")
      .select(col("node").as("l_partkey"), col("deg").as("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_triangles"),
        round(lit(2.0) * coalesce(col("n_tri"), lit(0L)) /
          (col("deg") * (col("deg") - 1)), 6).as("clustering"))
      .orderBy(col("clustering").desc, col("l_partkey").asc)
      .limit(15)
  }

  /** q312: Adamic–Adar link prediction over the support-2 co-purchase
    * graph — for every NON-adjacent part pair, the sum over common
    * neighbors w of 1/ln(deg(w)) (rarer shared neighbors weigh more),
    * the classic "which edge forms next" scorer; reported as the top-100
    * predicted links (score desc, a, b). Complements the existing graph
    * family: q148 ranks EXISTING co-purchase edges, q312 ranks ABSENT
    * ones.
    *
    * DETERMINISM: the per-center weight is quantized to 1e9 fixed point
    * BEFORE the pair fan-out and summed as BIGINT (the q289/q302
    * discipline) — an exact associative sum, immune to partition order
    * (a raw double Σ 1/ln(d) would drift with aggregation order); ln on
    * an integer degree is equal across engines well inside the
    * quantization. Centers with one neighbor (where 1/ln(1) diverges)
    * emit zero pairs, so the weight is never evaluated there. The
    * readable `aa_score` is one shared-operand division off the fixed
    * point, identical IEEE both engines.
    *
    * Scale shape: see [[graft.operators.Edges.adamicAdar]] (one
    * collect_set agg, in-place wedge generator under the ENFORCED
    * 256-neighbor hub cap — the last unbounded C(deg,2) fanout in the
    * graph family, closed with q290's mega-cart precedent and mirrored
    * in the oracle; never binds on the fixtures, whose max degree is
    * 13 — then an (a,b)-grain hash agg and keyed anti-join,
    * hand-graph-pinned in Round10Spec, cap-pinned in Round11Spec);
    * here only the TakeOrdered top-100 and the readable score are
    * added. No window anywhere.
    */
  def q312AdamicAdar(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Edges
      .adamicAdar(graft.operators.Edges.coPurchase(spark, dir).persist())
      .orderBy(col("aa_fp").desc, col("a"), col("b"))
      .limit(100)
      .withColumn("aa_score", round(col("aa_fp") / 1e9, 6))

  /** q289: personalized PageRank (random walk with restart) over the
    * shared bipartite customer→part graph ([[graft.operators.Edges
    * .customerPart]]) — "parts relevant to THESE customers", the
    * recommendation scorer that degree (q148) and global HITS (q254)
    * cannot give because it is seed-conditioned. Seeds are the 3
    * lowest-id customers (deterministic); 4 rounds of
    * r' = e div 2 + (Σ_in r(u) div outdeg(u)) div 2 over the
    * namespaced node set (customer c → node 2c, part p → node 2p+1, so
    * the two key spaces cannot collide). DETERMINISM: 1e9 fixed point,
    * every step an exact integer division — the oracle unrolls the
    * identical four rounds with `//`. Scale shape: the edge build is
    * the shared bipartite builder with the out-degree folded in ONCE
    * before the loop (persisted, pre-partitioned on src — the loop
    * previously re-paid the degree join every round); each round is
    * one edges⋈scores equi-join (via saltedPropagate, S = 1 default)
    * + hash agg, the 3-row teleport riding the same agg as a union;
    * no driver state beyond the seed literals; the top-10 is a
    * TakeOrdered. The frontier starts at 3 nodes and only reaches the
    * walk's neighborhood, so early-round tables are tiny.
    */
  def q289PersonalizedPagerank(spark: SparkSession, dir: String): DataFrame =
    q289PersonalizedPagerank(spark, dir, saltBuckets = 1)

  /** [[q289PersonalizedPagerank]] with each round's edges⋈scores inflow
    * join routed through [[graft.operators.Edges.saltedPropagate]] —
    * the identical non-AQE-splittable propagation shape as q199/q254
    * (aggregation above the score-side exchange ⇒ OptimizeSkewedJoin
    * bails; see saltedPropagate's doc), so hub-skew relief is explicit
    * here too. `saltBuckets = 1` (the registered query) is the plain
    * equi-join; Round11Spec pins bit-identical scores at S = 8.
    */
  def q289PersonalizedPagerank(spark: SparkSession, dir: String, saltBuckets: Int): DataFrame = {
    val cp = graft.operators.Edges.customerPart(spark, dir)
    // pre-partitioned on the per-round join key before the persist (the
    // CC discipline): all four propagation joins hit the persisted
    // partitioning, so only the node-grain score side shuffles per round
    // namespacing in BIGINT throughout: keys widen to long BEFORE the
    // ×2 shift (no silent 32-bit wrap if the catalog loads them as
    // INT), and the decode below is integral `div`, matching the
    // oracle's exact // semantics at any key scale
    val c2 = col("c").cast("long") * 2
    val p2 = col("p").cast("long") * 2 + 1
    // one-pass edge build (r16 optimization, measured result-identical):
    // symmetrize by explode instead of union (ONE scan of the bipartite
    // table, not two), and fold the out-degree in with a count window
    // OVER the src partitioning instead of a groupBy+self-join — the
    // window's one exchange IS the src pre-partitioning every
    // propagation round joins against, so the build drops from
    // 2 scans + 2 exchanges + 1 join to 1 scan + 1 exchange. Degree
    // values are identical (count of rows per src either way); per-src
    // window state is the node's degree list — the same hub-skew bound
    // as the previous repartition(src).
    val edges = cp
      .select(explode(array(
        struct(c2.as("src"), p2.as("dst")),
        struct(p2.as("src"), c2.as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .withColumn("d", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("src")))
      .persist()
    val seeds = cp.select(col("c")).distinct().orderBy(col("c").asc).limit(3)
      .select(c2.as("node"), lit(1000000000L).as("e"))
      .persist()
    var r = seeds.select(col("node"), col("e").as("score"))
    for (_ <- 1 to 4) {
      // r' = e div 2 + inflow div 2, written as a UNION + one hash agg
      // (no teleport join at all): the inflow half fans each score over
      // the persisted pre-partitioned (src, dst, d) edges — through the
      // S-way salted join, routed by dst so a hub's edge rows split
      // across S tasks — the 3-row seed half rides along, and one
      // node-keyed agg sums the two halves
      // SHUFFLE_HASH on the score side (r17): the static planner was
      // broadcasting the persisted EDGE relation (known ~MB stats at
      // fixture scale) into every round's join — three 1M-row hash
      // relations built per run, and the src pre-partitioning this
      // build exists for went unused. The hint pins the scale-correct
      // shape: edges stream over their persisted hash(src) layout with
      // ZERO per-round exchange, only the node-grain score side
      // shuffles, and the per-partition hash build is score-sized.
      // (broadcast(scores) would also fix the inversion locally but is
      // wrong at 100 TB, where node-grain tables exceed the broadcast
      // cap; guide §3.1's "pick the strategy deliberately".)
      val inflow = graft.operators.Edges
        .saltedPropagate(edges,
          r.withColumnRenamed("node", "src").hint("shuffle_hash"), "src",
          col("dst"), saltBuckets)
        .select(col("dst").as("node"), expr("score div d").as("m"))
        .groupBy("node").agg(expr("sum(m) div 2").as("half"))
      r = inflow
        .unionByName(seeds.select(col("node"), expr("e div 2").as("half")))
        .groupBy("node").agg(sum(col("half")).as("score"))
    }
    r.filter(col("node") % 2 === 1)
      .select(expr("(node - 1) div 2").as("l_partkey"),
        col("score").as("ppr_fp"))
      .orderBy(col("ppr_fp").desc, col("l_partkey").asc)
      .limit(10)
      .withColumn("ppr", round(col("ppr_fp") / 1e9, 6))
  }

  /** q290: item-item co-visitation recommender — per part, the top-5
    * other parts by SHARED-CUSTOMER count (ties: lower partkey), the
    * "customers who bought this also bought" serving table, built on
    * the shared bipartite edge set. Pair generation is CUSTOMER-local
    * (group each customer's distinct parts, emit a<b pairs with the
    * same in-basket generator as Edges.coPurchase — C(|parts|,2) per
    * customer, never a corpus self-join) with an ENFORCED history cap:
    * customers holding more than 256 distinct parts are excluded from
    * pair generation (ngramJaccard's df-cap trade — a mega-cart
    * contributes C(n,2) noise pairs and no signal; the cap is in the
    * oracle too, and never binds on the fixtures, whose max basket is
    * 105 even at the 10× replica). Then one pair-grain hash agg and a
    * window PARTITIONED by part (high-cardinality key, no global sort).
    * Measured trade vs the bounded TopKAgg (q121/q234's shape) at the
    * 10× replica: the window reads 39 s, TopKAgg 101 s — the typed
    * aggregator's per-row buffer maintenance over 262M symmetric pairs
    * costs far more CPU than the window's vectorized sort saves, while
    * TopKAgg's win is NETWORK volume (5 rows/part/partition vs the full
    * pair table through the exchange) — the right choice on a
    * bandwidth-bound cluster, the wrong one on a single box; both are
    * bit-identical, and the choice is a parameter of the 3-arg overload
    * (Round10Spec pins parity). DETERMINISM: exact integer counts over
    * a total order.
    */
  def q290CoVisitation(spark: SparkSession, dir: String): DataFrame =
    q290CoVisitation(spark, dir, "window")

  /** q290 with the top-5 selection strategy explicit — the two sides of
    * the measured single-box-vs-cluster trade documented above, both
    * bit-identical (Round10Spec pins parity):
    *   - `"window"`: rank via a part-PARTITIONED row_number window —
    *     wins on a single box (vectorized sort beats per-row typed
    *     buffer maintenance: 39 s vs 101 s at the 10× replica), but the
    *     FULL symmetric pair table crosses the exchange;
    *   - `"topk"`: rank via the bounded [[graft.functions.TopKAgg]] —
    *     ≤ 5 rows per part per partition cross the shuffle, the right
    *     side on a bandwidth-bound cluster. Counts ride as doubles
    *     inside the aggregator (exact below 2^53 — any real
    *     shared-customer count) and cast back to long on output.
    */
  def q290CoVisitation(spark: SparkSession, dir: String, strategy: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(Set("window", "topk")(strategy),
      s"q290 strategy must be 'window' or 'topk', got '$strategy'")
    val pairs = graft.operators.Edges.customerPart(spark, dir)
      .groupBy("c").agg(array_sort(collect_set(col("p"))).as("parts"))
      .filter(size(col("parts")) <= 256)
      .select(explode(expr(
        """flatten(transform(parts, (x, i) ->
          |  transform(slice(parts, i + 2, size(parts) - i - 1), y ->
          |    struct(x AS a, y AS b))))""".stripMargin)).as("e"))
      .groupBy(col("e.a").as("a"), col("e.b").as("b"))
      .agg(count(lit(1)).as("shared"))
      .persist()
    val sym = pairs.select(col("a").as("x"), col("b").as("y"), col("shared"))
      .unionByName(pairs.select(col("b").as("x"), col("a").as("y"), col("shared")))
    strategy match {
      case "window" =>
        sym.withColumn("rank", row_number().over(
            Window.partitionBy("x").orderBy(col("shared").desc, col("y").asc)))
          .filter(col("rank") <= 5)
          .select(col("x").as("l_partkey"), col("y").as("rec_partkey"),
            col("shared").as("shared_customers"), col("rank"))
      case "topk" =>
        val topk = udaf(graft.functions.TopKAgg(5))
        sym.groupBy("x")
          .agg(topk(col("shared").cast("double"), col("y")).as("tops"))
          .select(col("x"), posexplode(col("tops")).as(Seq("pos", "t")))
          .select(col("x").as("l_partkey"), col("t._2").as("rec_partkey"),
            col("t._1").cast("long").as("shared_customers"),
            (col("pos") + 1).cast("int").as("rank"))
    }
  }

  def q199LabelPropagation(spark: SparkSession, dir: String): DataFrame =
    q199LabelPropagation(spark, dir, saltBuckets = 1)

  /** [[q199LabelPropagation]] with each round's edge⋈labels join routed
    * through [[graft.operators.Edges.saltedPropagate]] — explicit
    * hub-skew relief (AQE cannot split the aggregated-label-side join;
    * see saltedPropagate's doc). `saltBuckets = 1` (the registered
    * query) is the plain join; Round10Spec proves salt invariance.
    */
  def q199LabelPropagation(spark: SparkSession, dir: String, saltBuckets: Int): DataFrame = {
    val und = graft.operators.Edges.coPurchaseUndirected(spark, dir).persist()
    var labels = und.select(col("a").as("node")).distinct()
      .withColumn("label", col("node"))
    for (_ <- 1 to 5) {
      labels = graft.operators.Edges
        .saltedPropagate(und, labels.withColumnRenamed("node", "b"), "b",
          col("a"), saltBuckets)
        .groupBy(col("a").as("node"), col("label"))
        .agg(count(lit(1)).as("c"))
        .groupBy("node")
        .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
        .select(col("node"), (-col("m.nl")).as("label"))
    }
    labels.groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_nodes"))
  }

  /** q200: unpivot/melt — the wide→long reshape (`Dataset.unpivot`,
    * Spark's native MELT) of lineitem's four measures into
    * (flag, metric, value) long form, re-aggregated per metric. The
    * relational-surface twin of q57's pivot. DETERMINISM: exact
    * decimal sums, divisions only in the final projection. Scale
    * shape: unpivot is a shuffle-free per-row generator (rows×4, no
    * exchange); the agg is a 12-group hash agg.
    */
  def q200Unpivot(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "lineitem")
      .select(col("l_returnflag"),
        col("l_quantity").cast("decimal(18,4)").as("quantity"),
        col("l_extendedprice").cast("decimal(18,4)").as("extendedprice"),
        col("l_discount").cast("decimal(18,4)").as("discount"),
        col("l_tax").cast("decimal(18,4)").as("tax"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("quantity"), col("extendedprice"), col("discount"), col("tax")),
        "metric", "value")
      .groupBy("l_returnflag", "metric")
      .agg(count(lit(1)).as("n_rows"), sum(col("value")).as("s"))
      .select(col("l_returnflag"), col("metric"), col("n_rows"),
        round(col("s").cast("double"), 2).as("total"),
        round(col("s").cast("double") / col("n_rows"), 6).as("mean"))
  }

  /** q202: peak-concurrency sweep — each event opens a 30-minute activity
    * window [ts, ts+30 min); per day, the maximum number of simultaneously
    * open windows (the "max concurrent users" capacity statistic). The
    * classic O(n log n) boundary sweep, NEVER an interval self-join:
    * windows are split at the midnight boundary (a 30-min window spans at
    * most two days), each segment emits a +1/−1 boundary pair keyed to the
    * day of ITS OWN start, and per-day concurrency is the running sum over
    * boundaries ordered (t, delta) with ends before starts — exact
    * half-open semantics. DETERMINISM: pure integer arithmetic end-to-end;
    * among equal (t, delta) ties the prefix-sum multiset is
    * order-invariant, so the per-day max is exact. Scale shape: one scan →
    * ≤2 segments/event → ≤4 boundary rows/event, ONE hash exchange on day
    * and a per-day window sort — day partitions are independent, no global
    * order anywhere.
    */
  def q202MaxConcurrency(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val DayUs = 86400000000L
    val iv = events(spark, dir)
      .select(expr("unix_micros(ts)").as("s"))
      .withColumn("e", col("s") + lit(1800000000L))
      .withColumn("bnd", col("s") - pmod(col("s"), lit(DayUs)) + lit(DayUs))
    val segs = iv.select(explode(
      when(col("e") <= col("bnd"),
        array(struct(col("s").as("t0"), col("e").as("t1"))))
        .otherwise(array(
          struct(col("s").as("t0"), col("bnd").as("t1")),
          struct(col("bnd").as("t0"), col("e").as("t1"))))).as("seg"))
    val b = segs.select(
        (col("seg.t0") - pmod(col("seg.t0"), lit(DayUs))).as("day_us"),
        explode(array(
          struct(col("seg.t0").as("t"), lit(1).as("d")),
          struct(col("seg.t1").as("t"), lit(-1).as("d")))).as("x"))
      .select(col("day_us"), col("x.t").as("t"), col("x.d").as("d"))
    val w = Window.partitionBy(col("day_us"))
      .orderBy(col("t").asc, col("d").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    b.withColumn("ld", sum(col("d")).over(w))
      .groupBy(col("day_us"))
      .agg(count(when(col("d") === 1, lit(1))).as("n_segments"),
        max(col("ld")).as("peak_concurrency"))
      .select(expr("day_us div 86400000000").as("day_num"),
        col("n_segments"), col("peak_concurrency"))
  }

  /** q203: multi-source BFS hop distances — 3 propagation rounds from the
    * 5 lowest-id nodes of the co-purchase graph (q199's edge set), each
    * node labeled with its minimum hop count; output is the per-hop node
    * census with an id checksum. The bounded-rounds frontier-join shape of
    * connected components q37 / PageRank q115: every round is one
    * equi-join (frontier ⋈ edges on the source endpoint) + one min-hash
    * agg — never a transitive-closure self-join, and state is exactly one
    * (node, hop) row per reached node. DETERMINISM: integer hops, min-agg;
    * the seed pick is a 5-row TakeOrdered on the total node order. Scale
    * shape: the frontier is the small side every round; at 100 TB the
    * edge table would be pre-partitioned on the join key once (q37's
    * trick) so rounds reuse one exchange.
    */
  def q203BfsHops(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.operators.Edges.coPurchaseUndirected(spark, dir).persist()
    val seeds = e.select(col("a").as("node")).distinct()
      .orderBy(col("node")).limit(5).withColumn("hop", lit(0))
    var dist = seeds.select(col("node"), col("hop"))
    for (h <- 1 to 3) {
      val frontier = dist.filter(col("hop") === h - 1).select(col("node").as("a"))
      val nxt = e.join(frontier, Seq("a"))
        .select(col("b").as("node")).distinct().withColumn("hop", lit(h))
      // persist per round: each round reads `dist` TWICE (frontier +
      // union), so an unpersisted lineage recomputes all earlier rounds
      // 2^h times — the actual q203 cost at sf0.1 was this blowup, not
      // the edge build. State is one (node, hop) row per reached node;
      // the runner frees the caches.
      dist = dist.unionByName(nxt)
        .groupBy("node").agg(min(col("hop")).as("hop"))
        .persist()
    }
    dist.groupBy("hop")
      .agg(count(lit(1)).as("n_nodes"), sum(col("node")).as("node_checksum"))
  }

  /** q320: multi-source WEIGHTED shortest paths — 4 Bellman–Ford
    * relaxation rounds from the 3 lowest-id nodes of the weighted
    * co-purchase graph ([[graft.operators.Edges.coPurchaseWeighted]]:
    * integer edge length 100 div support, so frequent pairings are
    * short hops), reporting the 100 nearest reached nodes in (dist,
    * node) order. q203's frontier-join shape generalized from hop
    * counting to min-plus: each round relaxes ONLY the edges leaving
    * nodes whose distance improved in the previous round — the classic
    * delta-frontier refinement, provably equal after r rounds to the
    * textbook relax-everything Bellman–Ford the oracle unrolls (an
    * edge (a,b) relaxed against a's final round-(r-1) value in either
    * scheme; a non-improved a re-contributes nothing). DETERMINISM:
    * long weights, min agg, (dist, node) total order for the limit.
    * Scale shape: per round ONE frontier⋈edges equi-join + one
    * node-keyed min agg + one full-outer merge on node — frontier is
    * the small side and SHRINKS as distances converge (the relax-all
    * formulation re-joins the whole reached set every round and only
    * widens); state is one (node, dist) row per reached node, each
    * round's result persisted so round r+1 reads a materialized
    * frontier instead of recomputing the lineage 2^r times. At 100 TB
    * the edge table is pre-partitioned on the source endpoint once
    * (q37's trick) and every round reuses that one exchange.
    */
  def q320WeightedSssp(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.operators.Edges.coPurchaseWeighted(spark, dir).persist()
    val seeds = e.select(col("a").as("node")).distinct()
      .orderBy(col("node")).limit(3).withColumn("dist", lit(0L))
    graft.operators.Edges.shortestPaths(e, seeds, rounds = 4)
      .orderBy(col("dist").asc, col("node").asc).limit(100)
  }

  /** q321: 3-truss of the co-purchase graph — 3 bounded support-peel
    * rounds ([[graft.operators.Edges.ktruss]]): every edge must sit in
    * at least k−2 = 1 triangle among SURVIVING edges, the
    * cohesive-subgraph operator between triangle counting (q150) and
    * k-core (q275) — k-core bounds degree, k-truss bounds triangle
    * support, so it prunes hub-spoke stars that k-core keeps. Output
    * is the per-round census (edges remaining + endpoint checksums)
    * for rounds 0–3. At the fixture the peel converges in one round
    * (support-1 edges lose nothing by removing triangle-free edges);
    * the CASCADE — a removal starving a neighbor edge next round — is
    * pinned on a hand graph in Round10Spec where two triangles share
    * an edge and k = 4 peels them over two rounds. DETERMINISM: exact
    * integer supports, census aggregates. Scale shape per round: the
    * degree-oriented wedge join (out-degree O(√|E|)), one edge-keyed
    * count agg, one edge-keyed semi-join; never all-pairs, each
    * round's survivor set checkpointed ([[graft.operators.Rounds]]).
    */
  def q321Ktruss(spark: SparkSession, dir: String): DataFrame = {
    val e0 = graft.operators.Edges.coPurchase(spark, dir)
    val rounds = graft.operators.Edges.ktruss(e0, k = 3, rounds = 3)
    rounds.zipWithIndex.map { case (df, r) =>
      df.agg(count(lit(1)).as("n_edges"),
        coalesce(sum(col("a")), lit(0L)).as("sum_a"),
        coalesce(sum(col("b")), lit(0L)).as("sum_b"))
        .select(lit(r).as("peel_round"), col("n_edges"),
          col("sum_a"), col("sum_b"))
    }.reduce(_ unionByName _)
  }

  /** q324: greedy maximal matching over the co-purchase graph — 3
    * mutual-minimum handshake rounds ([[graft.operators.Edges
    * .greedyMatching]]): each round every active node proposes to its
    * minimum-id active neighbor, edges matched iff both endpoints
    * proposed each other, matched nodes leave. The matching primitive
    * under pairwise dedup-merge scheduling and graph coarsening — and
    * the third bounded-round peel shape beside k-truss (q321, removes
    * EDGES by support) and k-core (q275, by degree): this one removes
    * NODES by pairing. Output = per-round census (pairs matched +
    * endpoint checksums), rounds 1–3. DETERMINISM: min-id proposals
    * are exact integer aggregates over neighbor SETS — no ties exist.
    * Scale shape per round: one node-keyed min agg + one node-grain
    * proposal self-join + two anti-joins; survivor edges checkpointed
    * per round ([[graft.operators.Rounds]]). The oracle unrolls the
    * three rounds.
    */
  def q324GreedyMatching(spark: SparkSession, dir: String): DataFrame = {
    val e0 = graft.operators.Edges.coPurchase(spark, dir)
    val rounds = graft.operators.Edges.greedyMatching(e0, rounds = 3)
    rounds.zipWithIndex.map { case (df, i) =>
      df.agg(count(lit(1)).as("n_matched"),
        coalesce(sum(col("a")), lit(0L)).as("sum_a"),
        coalesce(sum(col("b")), lit(0L)).as("sum_b"))
        .select(lit(i + 1).as("round"), col("n_matched"),
          col("sum_a"), col("sum_b"))
    }.reduce(_ unionByName _)
  }

  /** q327: maximal independent set over the co-purchase graph — 3
    * deterministic Luby rounds ([[graft.operators.Edges
    * .maximalIndependentSet]]): a node joins the MIS iff its id beats
    * every active neighbor's, winners and their neighbors leave,
    * isolated survivors join free. THE distributed symmetry-breaking
    * primitive (coloring, scheduling, and randomized matching all
    * reduce to it) and the node-side sibling of q324's edge handshake
    * — together they close the peel family: k-truss drops edges by
    * support, k-core nodes by degree, matching nodes by pairing, MIS
    * nodes by local minimality. Output = per-round census (nodes
    * admitted + id checksum). DETERMINISM: min-id comparisons, census
    * aggregates. Scale shape per round: one node-keyed min agg, one
    * MIS-sized neighbor expansion, node-keyed anti/semi-joins — never
    * all-pairs; survivors checkpointed per round
    * ([[graft.operators.Rounds]]). Oracle = three unrolled rounds.
    */
  def q327Mis(spark: SparkSession, dir: String): DataFrame = {
    val e0 = graft.operators.Edges.coPurchase(spark, dir)
    val rounds = graft.operators.Edges.maximalIndependentSet(e0, rounds = 3)
    rounds.zipWithIndex.map { case (df, i) =>
      df.agg(count(lit(1)).as("n_mis"),
        coalesce(sum(col("node")), lit(0L)).as("sum_node"))
        .select(lit(i + 1).as("round"), col("n_mis"), col("sum_node"))
    }.reduce(_ unionByName _)
  }

  /** q329: sequential-pattern support census — for every ordered
    * event-type triple (a, b, c), how many users' histories contain it
    * AS A SUBSEQUENCE (gaps allowed), support ≥ 5. The ordered
    * complement of q133's unordered association baskets and q145's
    * exact full paths (a path is one literal sequence; this counts
    * embeddings of a 3-step pattern anywhere in the history — the
    * PrefixSpan question at fixed length). THE scaling decision: never
    * enumerate C(n,3) position triples — a sequence contains (a,b,c)
    * iff GREEDY earliest matching succeeds (first a, then first b
    * after it, then any c after that; the standard subsequence-
    * containment argument: any witness can be left-shifted onto the
    * greedy one), so the plan is three linear passes: per-(user, type)
    * first positions (one hash agg), first-b-after-first-a (one
    * user-keyed join + min agg, ≤ |types| fan-out), then a c-exists
    * semi-check (one more user-keyed join + distinct) — cost
    * O(|events|·|types|) flat, where the naive positional 3-way
    * self-join is O(Σ nᵤ³). DETERMINISM: positions are row_number
    * under the per-user (ts, event_id) total order; everything after
    * is exact integer min/count. Scale shape: every join is keyed on
    * user_id; the per-user windows are user-partitioned; output is
    * ≤ |types|³ rows.
    */
  def q329SeqPatterns(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val pos = events(spark, dir)
      .select(col("user_id"), col("event_type"),
        row_number().over(w).as("p"))
      .persist()
    val fa = pos.groupBy(col("user_id"), col("event_type").as("e1"))
      .agg(min(col("p")).as("pa"))
    val fb = pos.join(fa, Seq("user_id"))
      .filter(col("p") > col("pa"))
      .groupBy(col("user_id"), col("e1"), col("event_type").as("e2"))
      .agg(min(col("p")).as("pb"))
    val tri = pos.join(fb, Seq("user_id"))
      .filter(col("p") > col("pb"))
      .select(col("user_id"), col("e1"), col("e2"),
        col("event_type").as("e3"))
      .distinct()
    tri.groupBy("e1", "e2", "e3")
      .agg(count(lit(1)).as("n_users"))
      .filter(col("n_users") >= 5)
  }

  /** q331: deterministic random-walk corpus over the co-purchase
    * graph — the DeepWalk/node2vec DATA-GENERATION op (walk sequences
    * are the "sentences" a graph-embedding trainer consumes; q289's
    * PPR is the analytic stationary view, this MATERIALIZES the
    * walks): 4 steps from the 50 lowest-id nodes, each transition
    * chosen by md5-argmin over the current node's neighbors — the
    * repo's reproducible-hash convention standing in for RNG, so the
    * walk corpus is identical across runs, partitionings, and engines
    * (a seeded sampler would be engine-specific). Output = (walk_id,
    * path, end_node). DETERMINISM: per-step winner is the (md5, id)
    * lexicographic minimum — a total order. Scale shape: the walk set
    * NEVER grows (one row per walk per step); each step is one
    * walk-keyed equi-join against the persisted symmetric edge list +
    * one walk-keyed min agg, checkpointed per step
    * ([[graft.operators.Rounds]]). At catalog
    * scale walks per node × steps is the only multiplier, and the
    * edge table is pre-partitioned once on the source endpoint (q37's
    * discipline). The oracle unrolls the same 4 hash-argmin steps.
    */
  def q331RandomWalks(spark: SparkSession, dir: String): DataFrame = {
    val ew = graft.operators.Edges.coPurchaseUndirected(spark, dir).persist()
    val seeds = ew.select(col("a").as("node")).distinct()
      .orderBy(col("node")).limit(50)
      .select(col("node").as("walk_id"), col("node"))
    graft.operators.Edges.randomWalks(ew, seeds, steps = 4)
      .select(col("walk_id"), col("path"), col("node").as("end_node"))
  }

  /** q239: declarative data-quality expectations — the dbt-test /
    * Great-Expectations-style gate a pipeline runs before publishing a
    * table: six rules (price positivity, date range, status domain,
    * quantity range, discount cap, line-key uniqueness) each reporting
    * rows checked, rows failed, and the pass rate. Complements q142's
    * referential-integrity audit (FK rules live there) and q104's
    * profile (this ASSERTS, that DESCRIBES). The fixture fails two
    * rules for real — dates past 2000 and duplicate (orderkey,
    * linenumber) pairs — so the report is non-trivial. DETERMINISM:
    * every rule is an exact predicate count; uniqueness failures are
    * n_rows − n_distinct exact longs; one division per output row.
    * Scale shape: ONE aggregate pass per table (all rules of a table
    * fold in the same scan) + one distinct-count exchange for the
    * uniqueness rule; the report explode is 6 rows.
    */
  def q239Expectations(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val li = t(spark, dir, "lineitem")
    val ofc = o.agg(
      count(lit(1)).as("o_n"),
      count(when(col("o_totalprice").isNull || col("o_totalprice") <= 0, 1))
        .as("f_price"),
      count(when(col("o_orderdate").isNull
        || col("o_orderdate") < lit("1995-01-01").cast("timestamp")
        || col("o_orderdate") >= lit("2001-01-01").cast("timestamp"), 1))
        .as("f_date"),
      count(when(col("o_orderstatus").isNull
        || !col("o_orderstatus").isin("O", "F", "P"), 1)).as("f_status"))
    val lfc = li.agg(
      count(lit(1)).as("l_n"),
      count(when(col("l_quantity").isNull
        || col("l_quantity") < 1 || col("l_quantity") > 50, 1)).as("f_qty"),
      count(when(col("l_discount").isNull
        || col("l_discount") < 0 || col("l_discount") > 0.08, 1)).as("f_disc"))
    val ufc = li.select(col("l_orderkey"), col("l_linenumber")).distinct()
      .agg(count(lit(1)).as("l_distinct"))
    def rule(name: String, checked: Column, failed: Column) =
      struct(lit(name).as("rule"), checked.as("n_checked"), failed.as("n_failed"))
    ofc.crossJoin(broadcast(lfc)).crossJoin(broadcast(ufc))
      .select(explode(array(
        rule("o_price_positive", col("o_n"), col("f_price")),
        rule("o_date_range", col("o_n"), col("f_date")),
        rule("o_status_domain", col("o_n"), col("f_status")),
        rule("l_quantity_range", col("l_n"), col("f_qty")),
        rule("l_discount_max", col("l_n"), col("f_disc")),
        rule("l_line_unique", col("l_n"), col("l_n") - col("l_distinct"))))
        .as("x"))
      .select(col("x.rule"), col("x.n_checked"), col("x.n_failed"),
        when(col("x.n_checked") > 0,
          round((col("x.n_checked") - col("x.n_failed")).cast("double")
            / col("x.n_checked"), 6))
          .otherwise(lit(0.0)).as("pass_rate"))
  }

  /** q251: Holt linear-trend forecast backtest — double exponential
    * smoothing (α = β = 1/2) folded over the day-grain revenue series
    * minus its last 7 days, then scored against those 7 held-out days
    * (MAE) beside the last-level persistence baseline — q223's
    * seasonal-naive backtest upgraded with a trend state. DETERMINISM:
    * daily revenue is exact integer cents; the fold is a SEQUENTIAL
    * higher-order `aggregate` over the sorted day array (q143's EWMA
    * idiom — both engines replay the identical left fold, and every
    * operation is a correctly-rounded IEEE op in the same order); the
    * error sums are explicit left folds too, never a parallel double
    * sum. Scale shape: one corpus scan → day-grain rollup; the fold
    * runs on the bounded |days| array (corpus-size-independent, the
    * q204/q223 bound).
    */
  def q251HoltBacktest(spark: SparkSession, dir: String): DataFrame = {
    val day = t(spark, dir, "orders")
      .groupBy(unix_date(to_date(col("o_orderdate"))).as("dn"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    day.agg(sort_array(collect_list(struct(col("dn"), col("cents")))).as("xs"))
      .select(expr(
        """named_struct(
          |  'n_days', size(xs),
          |  'st', aggregate(
          |    slice(transform(slice(xs, 1, size(xs) - 7),
          |                    x -> CAST(x.cents AS DOUBLE)),
          |          2, size(xs) - 8),
          |    named_struct(
          |      'l', CAST(element_at(xs, 1).cents AS DOUBLE), 'b', CAST(0 AS DOUBLE)),
          |    (acc, x) -> named_struct(
          |      'l', (x + acc.l + acc.b) / 2,
          |      'b', ((x + acc.l + acc.b) / 2 - acc.l + acc.b) / 2)),
          |  'test', transform(slice(xs, size(xs) - 6, 7),
          |                    x -> CAST(x.cents AS DOUBLE)))""".stripMargin).as("s"))
      .select(
        col("s.n_days").cast("long").as("n_days"),
        round(col("s.st.l") / 100.0, 6).as("level"),
        round(col("s.st.b") / 100.0, 6).as("trend"),
        round(expr(
          """aggregate(
            |  transform(sequence(1, 7),
            |    h -> abs(s.st.l + h * s.st.b - element_at(s.test, h))),
            |  CAST(0 AS DOUBLE), (a, x) -> a + x)""".stripMargin) / 7.0 / 100.0, 6)
          .as("mae_7"),
        round(expr(
          """aggregate(
            |  transform(s.test, x -> abs(s.st.l - x)),
            |  CAST(0 AS DOUBLE), (a, x) -> a + x)""".stripMargin) / 7.0 / 100.0, 6)
          .as("naive_mae_7"))
  }

  /** q252: forward as-of join — for every view event, the user's NEXT
    * purchase at-or-after it ([[graft.operators.AsOfJoin.forward]]: the
    * union-window formulation scanned in descending time — ONE hash
    * exchange on user_id, never a |views|×|purchases| product) with the
    * per-view gap: the per-IMPRESSION time-to-conversion table under
    * q163's aggregate lag percentiles. The oracle is the naive
    * min-over-qualifying-join formulation, so the driver proves the
    * window plan ≡ the quadratic definition. DETERMINISM: integer
    * microseconds; purchases deduped per (user, ts) so the carried
    * payload is unique.
    */
  def q252NextPurchase(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("view_us"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("p_us"))
      .distinct()
    graft.operators.AsOfJoin
      .forward(views, purchases, "user_id", "view_us", "p_us", Seq("p_us"))
      .select(col("user_id"), col("event_id"), col("view_us"),
        col("asof_p_us").as("next_purchase_us"),
        (col("asof_p_us") - col("view_us")).as("gap_us"))
  }

  /** q204: deterministic bootstrap confidence interval for mean daily
    * revenue — B=200 resamples-with-replacement of the DAY-GRAIN series,
    * each draw indexed by the md5 coin (q138's idiom) so both engines
    * replay the identical resample; the 95% CI is the (5th, 195th) order
    * statistic of the B resample means (⌈0.025·B⌉ / ⌈0.975·B⌉ rank-at
    * picks, q163's idiom — no interpolation arithmetic to drift).
    * DETERMINISM: draw j = md5(b|i) mod n is exact integer; per-resample
    * means divide an exact decimal sum once; the CI is selection, not
    * summation; the point estimate divides the decimal grand sum once.
    * Scale shape: the ONLY corpus-sized pass is the day rollup — the
    * resample base, its row_number index, and all B·days draw rows are
    * day-grain (corpus-size-INDEPENDENT, q189/q209's bound), so the
    * bootstrap costs the same at 100 TB as at sf0.1; resampling raw
    * orders instead would put B full corpus passes through the draw join.
    */
  def q204BootstrapCi(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val day = t(spark, dir, "orders")
      .groupBy(unix_date(to_date(col("o_orderdate"))).as("dn"))
      .agg(sum(col("o_totalprice").cast("decimal(18,4)")).as("rev"))
      .persist()
    val ranked = day
      .withColumn("rn", row_number().over(Window.orderBy(col("dn"))))
    val nDf = day.agg(count(lit(1)).as("n"))
    val draws = ranked.select(col("rn").as("i")).crossJoin(broadcast(nDf))
      .select(col("i"), col("n"),
        explode(sequence(lit(1), lit(200))).as("b"))
      .select(col("b"),
        (conv(substring(md5(concat(lit("graft-bs-"), col("b").cast("string"),
          lit("|"), col("i").cast("string"))), 1, 13), 16, 10).cast("long")
          % col("n") + 1).as("j"))
    val means = draws
      .join(ranked.select(col("rn").as("j"), col("rev")), Seq("j"))
      .groupBy("b")
      .agg(sum(col("rev")).as("sp"), count(lit(1)).as("nb"))
      .withColumn("m", col("sp").cast("double") / col("nb"))
    means
      .withColumn("rk", row_number().over(Window.orderBy(col("m"), col("b"))))
      .agg(count(lit(1)).as("b_reps"),
        round(sum(col("sp")).cast("double") / sum(col("nb")), 6).as("boot_mean"),
        round(max(when(col("rk") === 5, col("m"))), 6).as("lo95"),
        round(max(when(col("rk") === 195, col("m"))), 6).as("hi95"))
  }

  /** q205: golden-record entity resolution — q178's sorted-neighborhood
    * fuzzy-match pairs closed into clusters by connected components
    * (operators.Dedup.connectedComponents — the same pointer-doubling
    * min-label rounds as dup clusters q37), then one golden record per
    * cluster: the minimum custkey is the canonical id (exactly the CC
    * min-label, so no extra pass), its name the canonical name, plus the
    * member count and id checksum. The blocking → linkage → clustering →
    * survivorship pipeline of an MDM system, each stage the code path its
    * standalone query verifies. DETERMINISM: min-label CC is
    * order-invariant; the survivorship rule is min(custkey). Scale shape:
    * candidate pairs are O(n·w) from the window (no self-join), CC rounds
    * are equi-joins on the pre-partitioned edge key, the name join is
    * cluster-count-sized.
    */
  def q205GoldenRecord(spark: SparkSession, dir: String): DataFrame = {
    val pairs = q178SortedNeighborhood(spark, dir).select("id_a", "id_b")
    val cc = graft.operators.Dedup.connectedComponents(pairs)
    val names = t(spark, dir, "customer")
      .select(col("c_custkey").as("canon_id"), col("c_name").as("canon_name"))
    cc.groupBy(col("comp").as("canon_id"))
      .agg(count(lit(1)).as("n_members"), sum(col("id")).as("member_checksum"))
      .join(names, Seq("canon_id"))
      .select(col("canon_id"), col("canon_name"), col("n_members"),
        col("member_checksum"))
  }

  /** q206: weight-of-evidence categorical encoding + information value —
    * c_mktsegment scored against the binary target "customer has at least
    * one 'F'-status order" (the credit-scoring / feature-engineering
    * encoder for categorical predictors). WOE = ln(odds ratio) with the
    * standard 0.5 Laplace smoothing so single-class segments stay finite;
    * the IV term multiplies the class-share gap by the ROUNDED WOE so
    * both engines compose the same 6dp quantity. DETERMINISM: all counts
    * are exact integers; each WOE/IV is a per-row closed form over
    * (np, nn, tp, tn) computed once — no aggregated doubles anywhere.
    * Scale shape: one semi-join-shaped left join on custkey, a
    * |segments|-sized agg, and a broadcast one-row totals join.
    */
  def q206WoeEncoding(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
    val pos = t(spark, dir, "orders").filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("c_custkey")).distinct()
      .withColumn("is_pos", lit(1))
    val seg = cust.join(pos, Seq("c_custkey"), "left")
      .select(col("c_mktsegment"), coalesce(col("is_pos"), lit(0)).as("y"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"), sum(col("y")).as("np"))
      .withColumn("nn", col("n_customers") - col("np"))
    val tot = seg.agg(sum(col("np")).as("tp"), sum(col("nn")).as("tn"))
    seg.crossJoin(broadcast(tot))
      .withColumn("woe",
        round(log(((col("np") + lit(0.5)) * (col("tn") + lit(0.5))) /
          ((col("nn") + lit(0.5)) * (col("tp") + lit(0.5)))), 6))
      .select(col("c_mktsegment"), col("n_customers"),
        col("np").as("n_pos"), col("nn").as("n_neg"), col("woe"),
        round((col("np").cast("double") / col("tp") -
          col("nn").cast("double") / col("tn")) * col("woe"), 6).as("iv_term"))
  }

  /** q209: Theil–Sen robust slope of the daily-revenue series — the
    * median of all pairwise slopes (r_j−r_i)/(d_j−d_i), the
    * outlier-resistant trend estimator that pairs with q189's
    * Mann–Kendall significance test (MK says IF there's a trend,
    * Theil–Sen says HOW STEEP). DETERMINISM: each slope divides an exact
    * decimal difference by an exact integer day gap once; the median is
    * SELECTION, not arithmetic — the value at rank ⌈n/2⌉ under the total
    * (slope, d_i, d_j) order (q163's percentile_disc idiom). Scale shape:
    * the pair join and its rank window run on the DAY-GRAIN table —
    * O(days²) rows regardless of corpus size (q189's bound); the
    * revenue rollup is the only corpus-sized pass.
    */
  def q209TheilSen(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val day = t(spark, dir, "orders")
      .groupBy(unix_date(to_date(col("o_orderdate"))).as("dn"))
      .agg(sum(col("o_totalprice").cast("decimal(18,4)")).as("rev"))
      .persist()
    val slopes = day.select(col("dn").as("d_i"), col("rev").as("r_i"))
      .join(broadcast(day.select(col("dn").as("d_j"), col("rev").as("r_j"))),
        col("d_i") < col("d_j"))
      .select(col("d_i"), col("d_j"),
        ((col("r_j") - col("r_i")).cast("double") /
          (col("d_j") - col("d_i"))).as("slope"))
    val ranked = slopes.withColumn("rk",
      row_number().over(Window.orderBy(col("slope"), col("d_i"), col("d_j"))))
    val np = slopes.agg(count(lit(1)).as("n_pairs"))
    val med = ranked.crossJoin(broadcast(np))
      .filter(col("rk") === ceil(col("n_pairs") * lit(0.5)))
      .select(col("n_pairs"), round(col("slope"), 6).as("ts_slope"))
    day.agg(count(lit(1)).as("n_days")).crossJoin(med)
  }

  /** q210: temporal event-type co-occurrence — ordered (typeₐ → type_b)
    * pair counts for events of the SAME user within 5 minutes, capped at
    * the next w=3 events (the market-basket signal of event streams;
    * q133's association rules count whole-history baskets, this counts
    * tight temporal windows). The sorted-neighborhood trick in TIME
    * (q178's idiom): each event pairs only with its next 3 same-user
    * events via lead windows — O(n·w) candidates, NO time-range
    * self-join. DETERMINISM: the per-user order is the total
    * (ts, event_id); gaps are exact integer micros. Scale shape: one
    * user-partitioned window + a |types|²-bounded agg; no join at all.
    */
  def q210TemporalCooccur(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val e = events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
      .withColumn("t1", lead(col("event_type"), 1).over(w))
      .withColumn("u1", lead(col("us"), 1).over(w))
      .withColumn("t2", lead(col("event_type"), 2).over(w))
      .withColumn("u2", lead(col("us"), 2).over(w))
      .withColumn("t3", lead(col("event_type"), 3).over(w))
      .withColumn("u3", lead(col("us"), 3).over(w))
    e.select(col("event_type").as("type_a"), col("us"), explode(array(
        struct(col("t1").as("tb"), col("u1").as("ub")),
        struct(col("t2").as("tb"), col("u2").as("ub")),
        struct(col("t3").as("tb"), col("u3").as("ub")))).as("nb"))
      .filter(col("nb.tb").isNotNull &&
        col("nb.ub") - col("us") <= lit(300000000L))
      .groupBy(col("type_a"), col("nb.tb").as("type_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** q214: exact median via two-pass binning — the "selection without a
    * global sort" technique: pass 1 builds a 1024-bin equi-width
    * histogram (one hash agg) and locates the bin holding global rank
    * ⌈n/2⌉ from the cumulative counts; pass 2 ranks ONLY that bin's ~n/1024
    * rows and picks rank (r − cum_prev). Correct because binning is
    * monotone in the value and equal values share a bin, so within-bin
    * rank + prior-bin mass IS the global rank — the oracle is therefore
    * the NAIVE global rank-at-⌈n/2⌉ selection, making the driver compare
    * prove two-pass == naive (q119's must-equal-naive contract).
    * DETERMINISM: bin ids are floor of identical double arithmetic;
    * selection runs under the total (price, orderkey) order. Scale
    * shape: two scans + a 1024-row cumulative pass; the pass-2 sort
    * touches n/1024 rows — the recursion trick (re-bin the candidate
    * bin) extends this to any quantile at any scale, vs q58's
    * full-width rank window.
    */
  def q214BinnedMedian(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = t(spark, dir, "orders")
      .select(col("o_totalprice").as("p"), col("o_orderkey"))
    val stats = o.agg(min(col("p")).as("mn"), max(col("p")).as("mx"),
      count(lit(1)).as("n"))
    val binned = o.crossJoin(broadcast(stats))
      .withColumn("bin",
        when(col("mx") > col("mn"),
          least(floor((col("p") - col("mn")) * 1024 / (col("mx") - col("mn"))),
            lit(1023L)))
          .otherwise(lit(0L)))
      .select(col("p"), col("o_orderkey"), col("bin"))
      // three consumers (histogram, candidate-bin lookup, pass-2 rank);
      // without the persist each one re-scans orders AND re-derives the
      // min/max stats — 10 parquet scans instead of 2 (runner owns the
      // cache lifecycle and clears it per query)
      .persist()
    val hist = binned.groupBy("bin").agg(count(lit(1)).as("c"))
    // cumulative histogram through prefixSums — the grain is bounded
    // (≤1024 bins) so a plain ordered window was safe, but the shared
    // primitive keeps the whole query free of unpartitioned windows
    // (the PlanSpec guard now sees through persist boundaries)
    val cum = graft.operators.Quantiles
      .prefixSums(hist, Seq(col("bin").asc), Seq("c" -> "cum"))
    val cand = cum.crossJoin(broadcast(stats.select(col("n"))))
      .filter(col("cum") >= ceil(col("n") * lit(0.5)))
      .orderBy(col("bin")).limit(1)
      .select(col("bin").as("cbin"), (col("cum") - col("c")).as("prev"), col("n"))
    // pass-2 rank inside the candidate bin through withGlobalRank
    // (range exchange + pid window + broadcast offsets): the bin holds
    // ~n/1024 rows — bounded relative to the corpus but still
    // corpus-proportional, so it must not sort through one task
    graft.operators.Quantiles.withGlobalRank(
        binned.join(broadcast(cand), col("bin") === col("cbin")),
        Seq(col("p").asc, col("o_orderkey").asc), "rk")
      .filter(col("rk") === ceil(col("n") * lit(0.5)) - col("prev"))
      .select(col("n").as("n_rows"), col("p").as("median"))
  }

  /** q215: consistent-hashing reshard audit — what fraction of documents
    * moves when a 4-shard layout grows to 5, under (a) mod-N hashing
    * (≈ 4/5 of all keys move — every re-partition is a full reshuffle)
    * vs (b) a 32-vnode consistent-hash ring (≈ 1/5 moves — only keys
    * whose ring successor becomes a new-shard vnode). The capacity-
    * planning measurement behind bucketed-table layouts at 100 TB: mod-N
    * bucketing (Spark's default) pays a full rewrite on reshard, a ring
    * keeps N−1/N of the data in place. DETERMINISM: positions and key
    * hashes are md5-derived 52-bit integers; the ring successor is
    * argmin of an exact modular delta with the shard packed into the low
    * bits as tie-break (min(delta·8+s)). Scale shape: the 160-row vnode
    * ring is a broadcast constant — per-doc assignment is a 160-way
    * fanout into a doc-keyed map-side-combinable min-agg, then a 1-row
    * fold; no shuffle carries more than |docs| rows.
    */
  def q215ReshardAudit(spark: SparkSession, dir: String): DataFrame = {
    val Ring = 4503599627370496L // 2^52, the md5-prefix hash space
    val vn = spark.range(5).select(col("id").as("s"))
      .select(col("s"), explode(sequence(lit(0), lit(31))).as("v"))
      .select(col("s"), conv(substring(md5(concat(lit("graft-vn-"),
        col("s").cast("string"), lit("|"), col("v").cast("string"))), 1, 13),
        16, 10).cast("long").as("pos"))
    val h = Documents.read(spark, dir)
      .select(col("doc_id"), conv(substring(md5(concat(lit("graft-ring-"),
        col("doc_id").cast("string"))), 1, 13), 16, 10).cast("long").as("h"))
    val packed = ((col("pos") - col("h") + lit(Ring)) % lit(Ring)) * 8 + col("s")
    val assign = h.crossJoin(broadcast(vn))
      .groupBy("doc_id", "h")
      .agg(min(when(col("s") < 4, packed)).as("a4"), min(packed).as("a5"))
    val m = assign.agg(
      count(lit(1)).as("n"),
      count(when(col("h") % 4 =!= col("h") % 5, lit(1))).as("mod_moved"),
      count(when(col("a4") % 8 =!= col("a5") % 8, lit(1))).as("ch_moved"))
    m.select(lit("consistent").as("scheme"), col("n").as("n_docs"),
        col("ch_moved").as("n_moved"),
        round(col("ch_moved").cast("double") / col("n"), 6).as("moved_frac"))
      .unionByName(m.select(lit("mod").as("scheme"), col("n").as("n_docs"),
        col("mod_moved").as("n_moved"),
        round(col("mod_moved").cast("double") / col("n"), 6).as("moved_frac")))
  }

  /** q216: quantile estimation from a mergeable bottom-k sample — the
    * k=1024 rows with the smallest md5(orderkey) are a uniform random
    * sample that MERGES like q213's KMV sketch (the global bottom-k is
    * the bottom-k of per-partition bottom-k's — TakeOrdered, never a
    * full sort), so a 1000-executor cluster estimates any quantile from
    * k rows of state; emitted next to the EXACT median (q214's rank-at
    * selection) with the relative error as the audit column — the
    * accuracy report a pipeline checks before trusting sampled
    * percentiles. DETERMINISM: the sample is md5-selected (no RNG), both
    * medians are rank-at-⌈n/2⌉ selections under total orders. Scale
    * shape: one TakeOrdered(k) scan for the sample + q214's two-scan
    * exact path for the audit; the quantile math runs on k rows.
    */
  def q216SampleQuantile(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice").as("p"))
    val k = 1024
    val samp = o
      .withColumn("h", md5(concat(lit("graft-sq-"), col("o_orderkey").cast("string"))))
      .orderBy(col("h").asc).limit(k)
      // persisted: consumed twice below (rank window + count) — without
      // it the full orders scan + TakeOrdered runs once per consumer
      // (q214's persist discipline; the runner clears caches per query)
      .persist()
    val sMed = samp
      .withColumn("rk", row_number().over(Window.orderBy(col("p"), col("o_orderkey"))))
      .crossJoin(broadcast(samp.agg(count(lit(1)).as("ks"))))
      .filter(col("rk") === ceil(col("ks") * lit(0.5)))
      .select(col("ks").as("sample_k"), col("p").as("sample_median"))
    val eMed = q214BinnedMedian(spark, dir)
    eMed.crossJoin(sMed)
      .select(col("n_rows"), col("sample_k"), col("median").as("exact_median"),
        col("sample_median"),
        round(abs(col("sample_median") - col("median")) / col("median"), 6)
          .as("rel_err"))
  }

  /** q217: attribution-model comparison — the same 24 h touch sets as
    * q131, scored under first-touch, last-touch, and linear models and
    * rolled up by touch position (first / middle / last of each
    * conversion's touch list): the side-by-side readout a marketing team
    * uses to see how model choice shifts credit mass (first-touch puts
    * everything on the 'first' bucket by construction; linear spreads it —
    * the divergence IS the business decision). DETERMINISM: position
    * ranks are integers under the total (view_ts, view_id) per-purchase
    * order; linear credits quantize to round(1e6/n) longs before the sum
    * (q156's idiom), so every aggregate is exact integer arithmetic.
    * Scale shape: q131's user-keyed equi-join + per-purchase windows
    * (bounded by the attribution window), then a 3-row agg.
    */
  def q217AttributionModels(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = events(spark, dir)
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    val touches = views.join(purchases, Seq("user_id"))
      .filter(col("view_ts") < col("purchase_ts")
        && col("view_ts") >= col("purchase_ts") - expr("INTERVAL 24 HOURS"))
    val wr = Window.partitionBy(col("purchase_id"))
      .orderBy(col("view_ts"), col("view_id"))
    val wn = Window.partitionBy(col("purchase_id"))
    touches
      .withColumn("rk", row_number().over(wr))
      .withColumn("n", count(lit(1)).over(wn))
      .select(
        when(col("rk") === 1, "first")
          .when(col("rk") === col("n"), "last")
          .otherwise("middle").as("bucket"),
        when(col("rk") === 1, 1L).otherwise(0L).as("cf"),
        when(col("rk") === col("n"), 1L).otherwise(0L).as("cl"),
        round(lit(1e6) / col("n")).cast("long").as("cq"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_touches"),
        sum(col("cf")).as("first_credit"),
        sum(col("cl")).as("last_credit"),
        round(sum(col("cq")) / 1e6, 6).as("linear_credit"))
  }

  /** q218: retention-curve exponential fit — the earliest purchase
    * cohort's weekly retention series rate(k) = n_active(k)/cohort_size,
    * fitted as ln(rate) = a + b·k by OLS; the decay rate b and the
    * implied half-life are THE two numbers a growth model consumes from
    * q123's whole retention triangle. Restricted to the earliest cohort
    * so every point is fully observed (no right-censoring correction
    * needed — q175's Kaplan-Meier is the censoring-aware tool).
    * DETERMINISM: rates are exact integer ratios; ln terms quantize to
    * 1e9 longs before the OLS moment sums (q156's idiom), so the slope
    * divides two exact integers once. Scale shape: reuses q123's
    * aggregation; the fit runs on ≤ #weeks points.
    */
  def q218RetentionFit(spark: SparkSession, dir: String): DataFrame = {
    val r = q123Retention(spark, dir).persist()
    val c0 = r.agg(min(col("cohort_us")).as("c0"))
    val s = r.crossJoin(broadcast(c0)).filter(col("cohort_us") === col("c0"))
    val base = s.filter(col("week_offset") === 0)
      .select(col("n_users").as("n0"))
    val pts = s.filter(col("week_offset") >= 1)
      .crossJoin(broadcast(base))
      .select(col("week_offset").cast("long").as("x"),
        round(log(col("n_users").cast("double") / col("n0")) * 1e9)
          .cast("long").as("yq"))
    pts.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("yq")).as("sy"), sum(col("x") * col("yq")).as("sxy"))
      .withColumn("b",
        (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")) / 1e9)
      .select(col("n").as("n_points"), round(col("b"), 6).as("decay_rate"),
        when(col("b") < 0, round(-log(lit(2.0)) / col("b"), 6))
          .as("half_life_weeks"))
  }

  /** q219: arrival overdispersion per event type — the variance-to-mean
    * ratio (index of dispersion) of DAILY event counts over the full
    * observed day span: ≈1 is Poisson arrivals, >1 flags bursty/clumped
    * traffic (the per-type capacity sibling of q176's per-user
    * burstiness). Days with zero events count — the denominator is the
    * calendar span, and absent days contribute 0 to both moment sums, so
    * no day grid is ever materialized. DETERMINISM: dispersion =
    * (D·Σn² − (Σn)²)/(D·Σn) is ONE division of exact integers. Scale
    * shape: one scan → (type, day) hash agg → |types| moment rows + a
    * broadcast 1-row span.
    */
  def q219Overdispersion(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
      .select(col("event_type"), unix_date(to_date(col("ts"))).as("d"))
    val span = e.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
    e.groupBy("event_type", "d").agg(count(lit(1)).as("n"))
      .groupBy("event_type")
      .agg(sum(col("n")).as("sn"), sum(col("n") * col("n")).as("snn"))
      .crossJoin(broadcast(span))
      .withColumn("dd", col("d1") - col("d0") + 1)
      .select(col("event_type"), col("dd").as("n_days"),
        round(col("sn").cast("double") / col("dd"), 6).as("mean_daily"),
        round((col("dd") * col("snn") - col("sn") * col("sn")).cast("double") /
          (col("dd") * col("sn")), 6).as("dispersion"))
  }

  /** q222: engagement-to-revenue deciles — users deciled by total event
    * count (the engagement axis, from `events`) against their lifetime
    * order revenue (the monetary axis, from `orders`): the cross-DATASET
    * join that answers "does product engagement predict spend" — q179's
    * lift table with the score replaced by behavior from a different
    * table. Users with no orders stay in their decile with 0 revenue
    * (left join). DETERMINISM: deciles are ntile over the total
    * (n_events desc, user_id) order; revenue sums are exact decimal.
    * Scale shape: two grain-reducing aggs (user-grain), one user-keyed
    * left join, a 10-row rollup; the decile assignment runs as
    * [[graft.operators.Quantiles.ntileExact]] (range exchange +
    * pid-partitioned window + broadcast offsets, bit-equal to SQL
    * ntile) — no single-partition sort over the user grain, same swap
    * as its twin q179.
    */
  def q222EngagementRevenue(spark: SparkSession, dir: String): DataFrame = {
    val eng = events(spark, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
    val rev = t(spark, dir, "orders")
      .groupBy(col("o_custkey").as("user_id"))
      .agg(sum(col("o_totalprice").cast("decimal(18,4)")).as("rev"))
    val joined = eng.join(rev, Seq("user_id"), "left")
      .select(col("user_id"), col("n_events"),
        coalesce(col("rev"), lit(0).cast("decimal(18,4)")).as("rev"))
    val d = graft.operators.Quantiles.ntileExact(
      joined, 10, Seq(col("n_events").desc, col("user_id").asc), "decile")
    val g = d.groupBy("decile")
      .agg(count(lit(1)).as("n_users"), sum(col("n_events")).as("tot_events"),
        sum(col("rev")).as("srev"))
    val tot = g.agg(sum(col("srev")).as("trev"), sum(col("n_users")).as("tn"))
    g.crossJoin(broadcast(tot))
      .select(col("decile"), col("n_users"), col("tot_events"),
        round(col("srev").cast("double"), 2).as("revenue"),
        round((col("srev").cast("double") / col("n_users")) /
          (col("trev").cast("double") / col("tn")), 6).as("rev_lift"))
  }

  /** q223: seasonal-naive forecast backtest — predict each day's revenue
    * with the same-weekday-last-week value (the baseline every real
    * forecasting model must beat) and score MAE and MAPE over the
    * evaluable days: the model-eval harness of a demand pipeline, as a
    * query. DETERMINISM: the lag-7 pairing is a RANGE-free exact
    * self-join on day number (day-grain, like q190's ACF); errors are
    * exact decimal differences; MAPE terms quantize per-day to 1e9
    * longs before the mean (q156's idiom). Scale shape: one corpus
    * rollup to day grain, then day-grain joins/aggs — corpus-size-
    * independent like q189/q204/q209.
    */
  def q223ForecastBacktest(spark: SparkSession, dir: String): DataFrame = {
    val day = t(spark, dir, "orders")
      .groupBy(unix_date(to_date(col("o_orderdate"))).as("dn"))
      .agg(sum(col("o_totalprice").cast("decimal(18,4)")).as("rev"))
      .persist()
    val scored = day
      .join(day.select((col("dn") + 7).as("dn"), col("rev").as("pred")), Seq("dn"))
      .select(col("dn"), col("rev"), col("pred"),
        abs(col("rev") - col("pred")).as("ae"),
        round(abs(col("rev") - col("pred")).cast("double") /
          col("rev").cast("double") * 1e9).cast("long").as("apeq"))
    scored.agg(count(lit(1)).as("n_days"),
        sum(col("ae")).as("sae"), sum(col("apeq")).as("sapeq"))
      .select(col("n_days"),
        round(col("sae").cast("double") / col("n_days"), 2).as("mae"),
        round(col("sapeq") / 1e9 / col("n_days"), 6).as("mape"))
  }

  /** q224: pairwise Welch t-test of mean order value across market
    * segments — the unequal-variance two-sample test (q161's pooled z
    * assumes user parity; Welch is what you run when groups differ in
    * size and spread). All C(5,2)=10 segment pairs, t statistic and
    * Welch-Satterthwaite degrees of freedom from ONE moment table.
    * DETERMINISM: per-segment moments are exact (count, decimal Σx,
    * decimal Σx²); t and df are per-row closed forms over the exact
    * moments with divisions only in the final projection. Scale shape:
    * one scan → |segments| moment rows → a 10-row pair join.
    */
  def q224WelchPairs(spark: SparkSession, dir: String): DataFrame = {
    val m = t(spark, dir, "orders")
      .join(t(spark, dir, "customer").select(col("c_custkey").as("o_custkey"),
        col("c_mktsegment")), Seq("o_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,4)")).as("sx"),
        sum((col("o_totalprice").cast("decimal(18,4)") *
          col("o_totalprice").cast("decimal(18,4)")).cast("decimal(38,8)"))
          .as("sxx"))
      .select(col("c_mktsegment").as("seg"), col("n"),
        col("sx").cast("double").as("sx"), col("sxx").cast("double").as("sxx"))
    val a = m.select(col("seg").as("seg_a"), col("n").as("na"),
      col("sx").as("sxa"), col("sxx").as("sxxa"))
    val b = m.select(col("seg").as("seg_b"), col("n").as("nb"),
      col("sx").as("sxb"), col("sxx").as("sxxb"))
    a.join(b, col("seg_a") < col("seg_b"))
      .withColumn("ma", col("sxa") / col("na"))
      .withColumn("mb", col("sxb") / col("nb"))
      .withColumn("va",
        (col("sxxa") - col("sxa") * col("sxa") / col("na")) / (col("na") - 1))
      .withColumn("vb",
        (col("sxxb") - col("sxb") * col("sxb") / col("nb")) / (col("nb") - 1))
      .withColumn("se2", col("va") / col("na") + col("vb") / col("nb"))
      .select(col("seg_a"), col("seg_b"), col("na"), col("nb"),
        round((col("ma") - col("mb")) / sqrt(col("se2")), 6).as("t_stat"),
        round(col("se2") * col("se2") /
          (col("va") * col("va") / (col("na") * col("na") * (col("na") - 1)) +
            col("vb") * col("vb") / (col("nb") * col("nb") * (col("nb") - 1))), 6)
          .as("welch_df"))
  }

  /** q225: discount elasticity — per discount level: line counts, total
    * quantity, revenue; plus the ln-ln OLS of mean quantity per line on
    * the price multiplier (1 − discount), whose slope is the demand
    * elasticity a pricing team reads. The discount column is a small
    * exact-value domain, so the regression runs on |levels| points from
    * one corpus rollup. DETERMINISM: level keys are exact integer cents
    * (round(d·100)); per-level sums are integers/decimals; both ln terms
    * quantize to 1e9 longs before the OLS moment sums (q218's idiom).
    * Scale shape: one scan → |levels| rows → a 1-row closed-form fit
    * emitted per level row for the driver hash.
    */
  def q225DiscountElasticity(spark: SparkSession, dir: String): DataFrame = {
    val lvl = t(spark, dir, "lineitem")
      .groupBy(round(col("l_discount") * 100).cast("long").as("disc_pct"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast("decimal(18,4)")).as("qty"),
        sum((col("l_extendedprice").cast("decimal(18,4)") *
          (lit(1) - col("l_discount").cast("decimal(18,4)")))
          .cast("decimal(38,8)")).as("revenue"))
      .persist()
    val pts = lvl.select(
      round(log(lit(1.0) - col("disc_pct") / lit(100.0)) * 1e9).cast("long").as("xq"),
      round(log(col("qty").cast("double") / col("n_lines")) * 1e9).cast("long").as("yq"))
      .filter(col("disc_pct") < 100)
    val fit = pts.agg(count(lit(1)).as("np"), sum(col("xq")).as("sx"),
        sum((col("xq").cast("decimal(38,0)") * col("xq"))).as("sxx"),
        sum(col("yq")).as("sy"),
        sum((col("xq").cast("decimal(38,0)") * col("yq"))).as("sxy"))
      .select(round(
        (col("np").cast("decimal(38,0)") * col("sxy")
          - col("sx").cast("decimal(38,0)") * col("sy")).cast("double") /
          (col("np").cast("decimal(38,0)") * col("sxx")
            - col("sx").cast("decimal(38,0)") * col("sx")).cast("double"), 6)
        .as("elasticity"))
    lvl.crossJoin(broadcast(fit))
      .select(col("disc_pct"), col("n_lines"),
        round(col("qty").cast("double"), 2).as("total_qty"),
        round(col("revenue").cast("double"), 2).as("revenue"),
        col("elasticity"))
  }

  /** q226: activity-streak distribution — per user, maximal runs of
    * CONSECUTIVE active days via gaps-and-islands (day_num − per-user
    * row_number is constant exactly within a consecutive run — q125
    * SCD2's island key on the activity grid), folded to the
    * longest-streak histogram (streak length → user count): the
    * engagement metric behind "7-day streak" product mechanics.
    * DETERMINISM: pure integer island arithmetic on the deduped
    * (user, day) grid under the total per-user day order. Scale shape:
    * one dedup agg + one user-partitioned window + two user-bounded
    * aggs; no join.
    */
  def q226StreakHistogram(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ud = events(spark, dir)
      .select(col("user_id"), unix_date(to_date(col("ts"))).as("d"))
      .distinct()
    val runs = ud
      .withColumn("grp", col("d") - row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("d"))))
      .groupBy("user_id", "grp").agg(count(lit(1)).as("len"))
    runs.groupBy("user_id").agg(max(col("len")).as("best_streak"))
      .groupBy("best_streak").agg(count(lit(1)).as("n_users"))
  }

  /** q228: year-over-year Laspeyres price index — for each consecutive
    * year pair, Σ p₁·q₀ / Σ p₀·q₀ over the parts traded in BOTH years
    * (base-year quantities weight current-year unit prices — the
    * inflation statistic agencies publish, here over the order book).
    * Unit price per (part, year) = Σ extendedprice / Σ quantity, both
    * exact decimals. DETERMINISM: the index is a ratio of two sums of
    * per-part closed forms; products quantize to round(·1e6) longs
    * before the final sums so the aggregation is exact integer
    * arithmetic. Scale shape: one (part, year) rollup, a self-join on
    * part between adjacent years (part-grain, key-equality), a
    * |years|-sized output.
    */
  def q228PriceIndex(spark: SparkSession, dir: String): DataFrame = {
    val py = t(spark, dir, "lineitem")
      .join(t(spark, dir, "orders").select(col("o_orderkey").as("l_orderkey"),
        year(col("o_orderdate")).as("yr")), Seq("l_orderkey"))
      .groupBy(col("l_partkey").as("pk"), col("yr"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,4)")).as("rev"),
        sum(col("l_quantity").cast("decimal(18,4)")).as("qty"))
      .persist()
    val base = py.select(col("pk"), col("yr").as("y0"),
      (col("rev").cast("double") / col("qty").cast("double")).as("p0"),
      col("qty").cast("double").as("q0"))
    val cur = py.select(col("pk"), (col("yr") - 1).as("y0"),
      (col("rev").cast("double") / col("qty").cast("double")).as("p1"))
    base.join(cur, Seq("pk", "y0"))
      .select(col("y0"), (col("y0") + 1).as("y1"),
        round(col("p1") * col("q0") * 1e6).cast("long").as("num"),
        round(col("p0") * col("q0") * 1e6).cast("long").as("den"))
      .groupBy("y0", "y1")
      .agg(count(lit(1)).as("n_parts"), sum(col("num")).as("sn"),
        sum(col("den")).as("sd"))
      .select(col("y0"), col("y1"), col("n_parts"),
        round(col("sn").cast("double") / col("sd"), 6).as("laspeyres"))
  }

  /** q233: temporal co-occurrence PMI — q210's 5-minute (typeₐ → type_b)
    * pair counts scored as pointwise mutual information against the
    * marginal pair-slot distribution: which event sequences happen MORE
    * than their types' frequencies predict (the signal q210's raw counts
    * bury under popular types; q133's lift for baskets, this for tight
    * temporal windows). DETERMINISM: marginals are exact integer sums of
    * the |types|²-bounded pair table; each PMI is one ln of a ratio of
    * four exact integers, computed once per output row. Scale shape:
    * q210's window pipeline + two broadcast marginal joins on a
    * |types|²-sized table.
    */
  def q233TemporalPmi(spark: SparkSession, dir: String): DataFrame = {
    val pairs = q210TemporalCooccur(spark, dir).persist()
    val ma = pairs.groupBy("type_a").agg(sum(col("n_pairs")).as("na"))
    val mb = pairs.groupBy("type_b").agg(sum(col("n_pairs")).as("nb"))
    val tot = pairs.agg(sum(col("n_pairs")).as("nt"))
    pairs.join(broadcast(ma), Seq("type_a"))
      .join(broadcast(mb), Seq("type_b"))
      .crossJoin(broadcast(tot))
      .select(col("type_a"), col("type_b"), col("n_pairs"),
        round(log((col("n_pairs") * col("nt")).cast("double") /
          (col("na") * col("nb")).cast("double")), 6).as("pmi"))
  }

  /** The q111 batch interval-join oracle — also the stream-STREAM gate
    * pair's contract verbatim (q310 parity / q313 recovery: the
    * watermarked two-sided join must emit exactly the batch answer), so
    * the string lives once. µs-truncated comparisons on both bounds
    * (epoch_us) mirror the engine's ns→µs floored event times.
    */
  private[queries] val ClickAttributionOracle: String =
    """SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
      |       epoch_us(c.ts) - epoch_us(v.ts) AS lag_us
      |FROM events v JOIN events c
      |  ON c.user_id = v.user_id
      | AND epoch_us(c.ts) >= epoch_us(v.ts)
      | AND epoch_us(c.ts) - epoch_us(v.ts) <= 14400000000
      |WHERE v.event_type = 'view' AND c.event_type = 'click'""".stripMargin

  /** The q303 recursive-CTE oracle — also q304's gate verbatim (the
    * streaming twin must fold to the identical batch answer, the
    * q267/q293 convention), so the string lives once.
    */
  private[queries] val HwFoldOracle: String =
    """WITH RECURSIVE ser AS (
      |  SELECT user_id, list(value ORDER BY ts, event_id) AS xs,
      |         count(*) AS n
      |  FROM events GROUP BY user_id),
      |fold AS (
      |  SELECT user_id, 1 AS i, xs[1] AS l, CAST(0 AS DOUBLE) AS b,
      |         CAST(0 AS DOUBLE) AS s0, CAST(0 AS DOUBLE) AS s1,
      |         CAST(0 AS DOUBLE) AS s2, CAST(0 AS DOUBLE) AS s3
      |  FROM ser
      |  UNION ALL
      |  SELECT f.user_id, f.i + 1,
      |    (s.xs[CAST(f.i + 1 AS INT)]
      |     - CASE f.i % 4 WHEN 0 THEN f.s0 WHEN 1 THEN f.s1
      |                    WHEN 2 THEN f.s2 ELSE f.s3 END
      |     + f.l + f.b) / 2,
      |    ((s.xs[CAST(f.i + 1 AS INT)]
      |      - CASE f.i % 4 WHEN 0 THEN f.s0 WHEN 1 THEN f.s1
      |                     WHEN 2 THEN f.s2 ELSE f.s3 END
      |      + f.l + f.b) / 2 - f.l + f.b) / 2,
      |    CASE WHEN f.i % 4 = 0 THEN
      |      (s.xs[CAST(f.i + 1 AS INT)]
      |       - (s.xs[CAST(f.i + 1 AS INT)] - f.s0 + f.l + f.b) / 2
      |       + f.s0) / 2
      |    ELSE f.s0 END,
      |    CASE WHEN f.i % 4 = 1 THEN
      |      (s.xs[CAST(f.i + 1 AS INT)]
      |       - (s.xs[CAST(f.i + 1 AS INT)] - f.s1 + f.l + f.b) / 2
      |       + f.s1) / 2
      |    ELSE f.s1 END,
      |    CASE WHEN f.i % 4 = 2 THEN
      |      (s.xs[CAST(f.i + 1 AS INT)]
      |       - (s.xs[CAST(f.i + 1 AS INT)] - f.s2 + f.l + f.b) / 2
      |       + f.s2) / 2
      |    ELSE f.s2 END,
      |    CASE WHEN f.i % 4 = 3 THEN
      |      (s.xs[CAST(f.i + 1 AS INT)]
      |       - (s.xs[CAST(f.i + 1 AS INT)] - f.s3 + f.l + f.b) / 2
      |       + f.s3) / 2
      |    ELSE f.s3 END
      |  FROM fold f JOIN ser s ON s.user_id = f.user_id
      |  WHERE f.i < s.n)
      |SELECT f.user_id, CAST(s.n AS BIGINT) AS n_events,
      |       f.l AS level, f.b AS trend, f.s0, f.s1, f.s2, f.s3
      |FROM fold f JOIN ser s USING (user_id) WHERE f.i = s.n""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q254_hits" -> q254Hits _,
    "q302_salsa" -> q302Salsa _,
    "q303_holt_winters" -> q303HoltWintersBatch _,
    "q260_cohort_ltv" -> q260CohortLtv _,
    "q265_cumulative_uniques" -> q265CumulativeUniques _,
    "q266_markov_attribution" -> q266MarkovAttribution _,
    "q289_personalized_pagerank" -> q289PersonalizedPagerank _,
    "q290_covisitation" -> q290CoVisitation _,
    "q291_clustering_coefficient" -> q291ClusteringCoefficient _,
    "q312_adamic_adar" -> q312AdamicAdar _,
    "q268_degree_histogram" -> q268DegreeHistogram _,
    "q270_stl_decompose" -> q270StlDecompose _,
    "q274_table_checksums" -> q274TableChecksums _,
    "q278_open_order_aging" -> q278OpenOrderAging _,
    "q281_price_volume_mix" -> q281PriceVolumeMix _,
    "q283_jackknife_ratio" -> q283JackknifeRatio _,
    "q275_kcore" -> q275KCore _,
    "q276_power_analysis" -> q276PowerAnalysis _,
    "q271_weighted_median" -> q271WeightedMedian _,
    "q273_incremental_join" -> q273IncrementalJoin _,
    "q261_seq_perplexity" -> q261SeqPerplexity _,
    "q262_forget_audit" -> q262ForgetAudit _,
    "q233_temporal_pmi" -> q233TemporalPmi _,
    "q228_price_index" -> q228PriceIndex _,
    "q226_streak_histogram" -> q226StreakHistogram _,
    "q225_discount_elasticity" -> q225DiscountElasticity _,
    "q222_engagement_revenue" -> q222EngagementRevenue _,
    "q223_forecast_backtest" -> q223ForecastBacktest _,
    "q224_welch_pairs" -> q224WelchPairs _,
    "q219_overdispersion" -> q219Overdispersion _,
    "q218_retention_fit" -> q218RetentionFit _,
    "q217_attribution_models" -> q217AttributionModels _,
    "q216_sample_quantile" -> q216SampleQuantile _,
    "q215_reshard_audit" -> q215ReshardAudit _,
    "q214_binned_median" -> q214BinnedMedian _,
    "q210_temporal_cooccur" -> q210TemporalCooccur _,
    "q209_theil_sen" -> q209TheilSen _,
    "q206_woe_encoding" -> q206WoeEncoding _,
    "q202_max_concurrency" -> q202MaxConcurrency _,
    "q203_bfs_hops" -> q203BfsHops _,
    "q320_weighted_sssp" -> q320WeightedSssp _,
    "q321_ktruss" -> q321Ktruss _,
    "q324_greedy_matching" -> q324GreedyMatching _,
    "q327_mis" -> q327Mis _,
    "q329_seq_patterns" -> q329SeqPatterns _,
    "q331_random_walks" -> q331RandomWalks _,
    "q204_bootstrap_ci" -> q204BootstrapCi _,
    "q205_golden_record" -> q205GoldenRecord _,
    "q199_label_propagation" -> q199LabelPropagation _,
    "q200_unpivot" -> q200Unpivot _,
    "q195_abc_classes" -> q195AbcClasses _,
    "q196_runs_test" -> q196RunsTest _,
    "q197_hill_tail" -> q197HillTail _,
    "q190_acf" -> q190Acf _,
    "q192_fifo_allocation" -> q192FifoAllocation _,
    "q188_spearman" -> q188Spearman _,
    "q189_mann_kendall" -> q189MannKendall _,
    "q183_five_number" -> q183FiveNumber _,
    "q184_stickiness" -> q184Stickiness _,
    "q185_new_returning" -> q185NewReturning _,
    "q178_sorted_neighborhood" -> q178SortedNeighborhood _,
    "q180_lorenz_curve" -> q180LorenzCurve _,
    "q173_rfm_segments" -> q173RfmSegments _,
    "q174_rolling_revenue" -> q174RollingRevenue _,
    "q175_kaplan_meier" -> q175KaplanMeier _,
    "q176_burstiness" -> q176Burstiness _,
    "q161_ab_test" -> q161AbTest _,
    "q163_conversion_lag" -> q163ConversionLag _,
    "q171_cusum_changepoint" -> q171CusumChangepoint _,
    "q172_dow_seasonality" -> q172DowSeasonality _,
    "q167_groupwise_ols" -> q167GroupwiseOls _,
    "q168_benford" -> q168Benford _,
    "q169_gini" -> q169Gini _,
    "q157_psi_drift" -> q157PsiDrift _,
    "q158_corr_matrix" -> q158CorrMatrix _,
    "q149_skew_profile" -> q149SkewProfile _,
    "q150_triangle_count" -> q150TriangleCount _,
    "q151_locf_backfill" -> q151LocfBackfill _,
    "q146_ohlc_bars" -> q146OhlcBars _,
    "q147_mad_outliers" -> q147MadOutliers _,
    "q148_copurchase_recs" -> q148CopurchaseRecs _,
    "q143_ewma" -> q143Ewma _,
    "q144_pareto_frontier" -> q144ParetoFrontier _,
    "q145_session_paths" -> q145SessionPaths _,
    "q134_merge_upsert" -> q134MergeUpsert _,
    "q135_snapshot_diff" -> q135SnapshotDiff _,
    "q137_gapfill_ma" -> q137GapfillMa _,
    "q139_markov_transitions" -> q139MarkovTransitions _,
    "q141_standardize" -> q141Standardize _,
    "q142_ref_integrity" -> q142RefIntegrity _,
    "q239_expectations" -> q239Expectations _,
    "q251_holt_backtest" -> q251HoltBacktest _,
    "q252_next_purchase" -> q252NextPurchase _,
    "q120_winsorize" -> q120Winsorize _,
    "q119_bloom_join_prune" -> q119BloomJoinPrune _,
    "q116_join_cardinality" -> q116JoinCardinality _,
    "q74_variant_json" -> q74VariantJson _,
    "q28_big_spenders" -> q28BigSpenders _,
    "q58_quantiles" -> q58Quantiles _,
    "q59_edit_distance" -> q59EditDistance _,
    "q39_salted_join" -> q39SaltedJoin _,
    "q52_running_total" -> q52RunningTotal _,
    "q53_full_outer" -> q53FullOuter _,
    "q54_last_event" -> q54LastEvent _,
    "q55_json_extract" -> q55JsonExtract _,
    "q56_cube" -> q56Cube _,
    "q57_pivot" -> q57Pivot _,
    "q10_pricing_summary" -> q10PricingSummary _,
    "q11_revenue_by_nation" -> q11RevenueByNation _,
    "q12_semi_join" -> q12SemiJoin _,
    "q13_anti_join" -> q13AntiJoin _,
    "q14_window_topn" -> q14WindowTopN _,
    "q15_rollup" -> q15Rollup _,
    "q16_setops" -> q16SetOps _,
    "q17_scalar_funcs" -> q17ScalarFuncs _,
    "q18_asof_join" -> q18AsOf _,
    "q19_range_join" -> q19RangeJoin _,
    "q50_hourly_windows" -> q50HourlyWindows _,
    "q51_sessions" -> q51Sessions _,
    "q107_sliding_windows" -> q107SlidingWindows _,
    "q108_session_window" -> q108SessionWindow _,
    "q111_click_attribution" -> q111ClickAttribution _,
    "q122_funnel" -> q122Funnel _,
    "q123_retention" -> q123Retention _,
    "q125_scd2" -> q125Scd2 _,
    "q126_incremental_agg" -> q126IncrementalAgg _,
    "q128_equidepth_histogram" -> q128EquidepthHistogram _,
    "q129_grouping_sets" -> q129GroupingSets _,
    "q130_name_match" -> q130NameMatch _,
    "q131_multi_touch" -> q131MultiTouch _,
    "q132_revenue_share" -> q132RevenueShare _,
    "q133_association_rules" -> q133AssociationRules _,
    "q95_zorder_layout" -> q95ZorderLayout _)

  /** q11's oracle — also the base CTE of q132's ratio-to-report. */
  private val Q11Sql =
    """SELECT n_name, r_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY n_name, r_name""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // same distinct purchase edges, same three 1e9 fixed-point
    // half-steps (HUGEINT is the exact int128 twin of DECIMAL(38,0)),
    // same integer-div renorm, same (authority desc, part asc) top-15
    "q254_hits" ->
      """WITH e AS (
        |  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |a1 AS (
        |  SELECT p, count(*) * CAST(1000000000 AS HUGEINT) AS a
        |  FROM e GROUP BY 1),
        |a1n AS (
        |  SELECT p, (a * 1000000000) // (SELECT max(a) FROM a1) AS a
        |  FROM a1),
        |h1 AS (
        |  SELECT e.c, sum(a.a) AS h FROM e JOIN a1n a ON a.p = e.p
        |  GROUP BY 1),
        |h1n AS (
        |  SELECT c, (CAST(h AS HUGEINT) * 1000000000)
        |              // (SELECT max(h) FROM h1) AS h
        |  FROM h1),
        |a2 AS (
        |  SELECT e.p, sum(h.h) AS a2, count(*) AS n_buyers
        |  FROM e JOIN h1n h ON h.c = e.c GROUP BY 1),
        |a2n AS (
        |  SELECT p, n_buyers,
        |         CAST((CAST(a2 AS HUGEINT) * 1000000000)
        |              // (SELECT max(a2) FROM a2) AS BIGINT) AS authority_fp
        |  FROM a2)
        |SELECT p AS l_partkey, n_buyers, authority_fp,
        |       round(authority_fp / 1e9, 6) AS authority
        |FROM a2n ORDER BY authority_fp DESC, p ASC LIMIT 15""".stripMargin,
    // same distinct edges, same degree-normalized 1e9 fixed-point
    // half-steps via exact integer //, same (salsa desc, part) top-15
    "q302_salsa" ->
      """WITH e AS (
        |  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |dp AS (SELECT p, count(*) AS dp FROM e GROUP BY 1),
        |dc AS (SELECT c, count(*) AS dc FROM e GROUP BY 1),
        |h1 AS (
        |  SELECT e.c, CAST(sum(1000000000 // dp.dp) AS BIGINT) AS h
        |  FROM e JOIN dp ON dp.p = e.p GROUP BY 1),
        |a1 AS (
        |  SELECT e.p, CAST(sum(h1.h // dc.dc) AS BIGINT) AS salsa_fp,
        |         count(*) AS n_buyers
        |  FROM e JOIN h1 ON h1.c = e.c JOIN dc ON dc.c = e.c
        |  GROUP BY 1)
        |SELECT p AS l_partkey, n_buyers, salsa_fp,
        |       round(salsa_fp / 1e9, 6) AS salsa
        |FROM a1 ORDER BY salsa_fp DESC, p ASC LIMIT 15""".stripMargin,
    // same (ts, event_id) fold order, same single-division IEEE steps
    // replayed by the recursive CTE (coupled folds cannot be DuckDB
    // list lambdas — the q284 engine-difference finding)
    "q303_holt_winters" -> HwFoldOracle,
    // same daily integer counts, same 1e12-quantized leave-one-out
    // pseudo-ratios, same mirrored SE closed form
    "q283_jackknife_ratio" ->
      """WITH day AS (
        |  SELECT CAST(ts AS DATE) AS d,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |tot AS (SELECT CAST(sum(x) AS BIGINT) AS sx,
        |               CAST(sum(y) AS BIGINT) AS sy FROM day),
        |ps AS (
        |  SELECT sx, sy,
        |    CAST(round(CAST(sx - x AS DOUBLE) / (sy - y) * 1e12) AS BIGINT)
        |      AS rq
        |  FROM day CROSS JOIN tot WHERE sy - y > 0),
        |m AS (
        |  SELECT sx, sy, count(*) AS n_days,
        |    CAST(sum(rq) AS DOUBLE) / 1e12 AS s1d,
        |    CAST(sum(CAST(rq AS HUGEINT) * rq) AS DOUBLE) / 1e24 AS s2d
        |  FROM ps GROUP BY 1, 2)
        |SELECT n_days, round(CAST(sx AS DOUBLE) / sy, 6) AS ratio,
        |  round(sqrt((s2d - s1d * s1d / n_days) * (n_days - 1) / n_days), 6)
        |    AS jackknife_se
        |FROM m""".stripMargin,
    // same (year, part) integer aggregates, same mirrored unit-price
    // doubles, same per-part cent rounding before the year-pair sums
    "q281_price_volume_mix" ->
      """WITH yp AS (
        |  SELECT year(CAST(l_shipdate AS DATE)) AS y, l_partkey,
        |         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
        |         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |              AS BIGINT) AS r
        |  FROM lineitem GROUP BY 1, 2),
        |j AS (
        |  SELECT a.y AS y0, a.l_partkey,
        |         a.q AS q0, b.q AS q1, a.r AS r0, b.r AS r1,
        |         CAST(a.r AS DOUBLE) / a.q AS p0,
        |         CAST(b.r AS DOUBLE) / b.q AS p1
        |  FROM yp a JOIN yp b
        |    ON b.l_partkey = a.l_partkey AND b.y = a.y + 1),
        |e AS (
        |  SELECT y0,
        |    CAST(round((p1 - p0) * q0) AS BIGINT) AS pe,
        |    CAST(round(p0 * (q1 - q0)) AS BIGINT) AS ve,
        |    CAST(round((p1 - p0) * (q1 - q0)) AS BIGINT) AS ce,
        |    r1 - r0 AS d
        |  FROM j)
        |SELECT y0 AS year_from, y0 + 1 AS year_to, count(*) AS n_parts,
        |  round(CAST(sum(pe) AS BIGINT) / 100.0, 2) AS price_effect,
        |  round(CAST(sum(ve) AS BIGINT) / 100.0, 2) AS volume_effect,
        |  round(CAST(sum(ce) AS BIGINT) / 100.0, 2) AS mix_effect,
        |  round(CAST(sum(d) AS BIGINT) / 100.0, 2) AS actual_delta
        |FROM e GROUP BY 1""".stripMargin,
    // same ±1/±cents boundary deltas, same day-ordered running sums
    "q278_open_order_aging" ->
      """WITH j AS (
        |  SELECT CAST(o.o_orderdate AS DATE) AS od,
        |         CAST(l.l_shipdate AS DATE) AS sd,
        |         CAST(round(l.l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE)),
        |b AS (
        |  SELECT d, CAST(sum(dl) AS BIGINT) AS dlines,
        |         CAST(sum(dc) AS BIGINT) AS dcents
        |  FROM (
        |    SELECT od AS d, 1 AS dl, cents AS dc FROM j
        |    UNION ALL SELECT sd, -1, -cents FROM j)
        |  GROUP BY 1)
        |SELECT strftime(d, '%Y-%m-%d') AS day,
        |  CAST(sum(dlines) OVER (ORDER BY d) AS BIGINT) AS open_lines,
        |  round(CAST(sum(dcents) OVER (ORDER BY d) AS BIGINT) / 100.0, 2)
        |    AS open_value
        |FROM b""".stripMargin,
    // same key|name renderings, same md5-prefix 32-bit fold
    "q274_table_checksums" -> {
      def ck(tbl: String, ren: String): String =
        s"""SELECT '$tbl' AS table_name, count(*) AS n_rows,
           |  CAST(sum(CAST(('0x' || substr(md5($ren), 1, 8)) AS BIGINT))
           |       AS BIGINT) AS checksum
           |FROM $tbl""".stripMargin
      Seq(
        ck("region", "concat_ws('|', r_regionkey, r_name)"),
        ck("nation", "concat_ws('|', n_nationkey, n_name, n_regionkey)"),
        ck("customer", "concat_ws('|', c_custkey, c_name, c_nationkey)"),
        ck("supplier", "concat_ws('|', s_suppkey, s_name, s_nationkey)"),
        ck("part", "concat_ws('|', p_partkey, p_name)"))
        .mkString("\nUNION ALL ")
    },
    // same support-2 undirected edges, same four degree>=3 peels
    "q275_kcore" -> {
      def peel(r: Int): String =
        s"""k$r AS (SELECT a AS node FROM e${r - 1} GROUP BY 1
           |        HAVING count(*) >= 3),
           |e$r AS (
           |  SELECT e.a, e.b FROM e${r - 1} e
           |  WHERE e.a IN (SELECT node FROM k$r)
           |    AND e.b IN (SELECT node FROM k$r))""".stripMargin
      def row(r: Int): String =
        s"""SELECT $r AS round,
           |  (SELECT count(DISTINCT a) FROM e$r) AS n_nodes,
           |  (SELECT count(*) FROM e$r) // 2 AS n_edges""".stripMargin
      s"""WITH e00 AS (
         |  SELECT l_orderkey AS ok, l_partkey AS pk
         |  FROM lineitem GROUP BY 1, 2),
         |pr AS (
         |  SELECT a.pk AS a, b.pk AS b
         |  FROM e00 a JOIN e00 b ON a.ok = b.ok AND a.pk < b.pk
         |  GROUP BY 1, 2 HAVING count(*) >= 2),
         |e0 AS (SELECT a, b FROM pr UNION ALL SELECT b, a FROM pr),
         |${(1 to 4).map(peel).mkString(",\n")}
         |SELECT round, CAST(n_nodes AS BIGINT) AS n_nodes,
         |       CAST(n_edges AS BIGINT) AS n_edges FROM (
         |${(1 to 4).map(row).mkString("\nUNION ALL ")})""".stripMargin
    },
    // same integer-cents moments (HUGEINT square == DECIMAL(38,0)
    // square), same paren-for-paren double formula
    "q276_power_analysis" ->
      """WITH j AS (
        |  SELECT c.c_mktsegment AS segment,
        |         CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        |m AS (
        |  SELECT segment, count(*) AS n,
        |         CAST(sum(cents) AS DOUBLE) / 100.0 AS s,
        |         CAST(sum(CAST(cents AS HUGEINT) * cents) AS DOUBLE)
        |           / 10000.0 AS sxx
        |  FROM j GROUP BY 1)
        |SELECT segment, n,
        |  round(s / n, 6) AS mean_value,
        |  round((sxx - s * s / n) / (n - 1), 6) AS variance,
        |  CAST(ceil((16.0 * ((sxx - s * s / n) / (n - 1))) /
        |            (((s / n * 0.01) * (s / n)) * 0.01)) AS BIGINT)
        |    AS required_n_per_arm
        |FROM m""".stripMargin,
    // same integer-cents day series, same RANGE-frame trend, same
    // 1e6-quantized detrend before the dn%7 seasonal means, same
    // division order
    "q270_stl_decompose" ->
      """WITH day AS (
        |  SELECT CAST(o_orderdate AS DATE) AS d,
        |         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
        |           AS dn,
        |         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1, 2),
        |tr AS (
        |  SELECT d, dn, cents,
        |    CAST(sum(cents) OVER w AS DOUBLE) / count(*) OVER w AS trend
        |  FROM day
        |  WINDOW w AS (ORDER BY dn RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |dq AS (
        |  SELECT d, dn, cents, trend,
        |    CAST(round((cents - trend) * 1e6) AS BIGINT) AS dq, dn % 7 AS dow
        |  FROM tr),
        |seas AS (
        |  SELECT dow,
        |    CAST(sum(dq) AS DOUBLE) / count(*) / 1e6 AS seasonal
        |  FROM dq GROUP BY 1)
        |SELECT strftime(q.d, '%Y-%m-%d') AS day,
        |  round(q.cents / 100.0, 2) AS revenue,
        |  round(q.trend / 100.0, 6) AS trend,
        |  round(s.seasonal / 100.0, 6) AS seasonal,
        |  round((q.cents - q.trend - s.seasonal) / 100.0, 6) AS residual
        |FROM dq q JOIN seas s USING (dow)""".stripMargin,
    // same integer-cents weights over the same total order, same
    // first-crossing selection (cumw strictly increases: positive
    // weights), arg_min is the struct-min twin
    "q271_weighted_median" ->
      """WITH li AS (
        |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
        |         l_orderkey, l_linenumber,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) AS wc
        |  FROM lineitem),
        |c AS (
        |  SELECT l_returnflag, qty, wc,
        |    CAST(sum(wc) OVER (PARTITION BY l_returnflag
        |                       ORDER BY qty, l_orderkey, l_linenumber
        |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS BIGINT) AS cumw,
        |    CAST(sum(wc) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tot
        |  FROM li)
        |SELECT l_returnflag, arg_min(qty, cumw) AS w_median_qty,
        |       CAST(max(tot) AS BIGINT) AS total_weight_cents
        |FROM c WHERE cumw * 2 >= tot
        |GROUP BY 1""".stripMargin,
    // the from-scratch full join — the driver compare proves the
    // four-way base/delta algebra equals it
    "q273_incremental_join" ->
      """SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
        |       count(*) AS n_lines,
        |       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |                      (1 - CAST(l_discount AS DECIMAL(18,4))))
        |                  AS DOUBLE), 2) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1""".stripMargin,
    // same support-2 undirected edges, same integer log2 bucket
    "q268_degree_histogram" ->
      """WITH e0 AS (
        |  SELECT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem GROUP BY 1, 2),
        |pr AS (
        |  SELECT a.pk AS a, b.pk AS b
        |  FROM e0 a JOIN e0 b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT a, b FROM pr UNION ALL SELECT b, a FROM pr),
        |d AS (SELECT a AS node, count(*) AS deg FROM e GROUP BY 1),
        |h AS (
        |  SELECT CAST(length(bin(deg)) - 1 AS BIGINT) AS bucket,
        |         count(*) AS n_nodes, CAST(sum(deg) AS BIGINT) AS total_degree
        |  FROM d GROUP BY 1)
        |SELECT (1::BIGINT << bucket) AS deg_lo, n_nodes, total_degree,
        |       round(total_degree * 1.0 / n_nodes, 6) AS mean_degree
        |FROM h""".stripMargin,
    // same journey chain (START → pre-first-purchase touches →
    // CONV/NULL), same 1e9 fixed-point integer iterations (12 unrolled
    // CTE rounds; HUGEINT `//` is the exact twin of the long division)
    "q266_markov_attribution" -> {
      def iter(k: Int): String =
        s"""v$k AS (
           |  SELECT g.scen, g.s AS state,
           |    CASE WHEN g.s = g.scen THEN CAST(0 AS BIGINT)
           |         ELSE CAST((g.cc * 1000000000 + coalesce(x.acc, 0)) // g.n
           |              AS BIGINT) END AS v
           |  FROM g LEFT JOIN (
           |    SELECT v.scen, tc.s, sum(tc.c * v.v) AS acc
           |    FROM tc JOIN v${k - 1} v ON v.state = tc.t AND tc.t <> v.scen
           |    GROUP BY 1, 2) x ON x.scen = g.scen AND x.s = g.s)""".stripMargin
      s"""WITH p AS (
         |  SELECT user_id, event_type,
         |         row_number() OVER (PARTITION BY user_id
         |                            ORDER BY ts, event_id) AS pos
         |  FROM events),
         |cut AS (
         |  SELECT user_id, min(pos) AS cut FROM p
         |  WHERE event_type = 'purchase' GROUP BY 1),
         |pre AS (
         |  SELECT p.user_id, p.event_type, p.pos, c.cut
         |  FROM p LEFT JOIN cut c USING (user_id)
         |  WHERE c.cut IS NULL OR p.pos < c.cut),
         |st AS (
         |  SELECT user_id, event_type, cut,
         |    lead(event_type) OVER (PARTITION BY user_id ORDER BY pos) AS nxt,
         |    row_number() OVER (PARTITION BY user_id ORDER BY pos) AS rk
         |  FROM pre),
         |tr AS (
         |  SELECT event_type AS s, nxt AS t FROM st WHERE nxt IS NOT NULL
         |  UNION ALL SELECT 'START', event_type FROM st WHERE rk = 1
         |  UNION ALL SELECT event_type,
         |    CASE WHEN cut IS NOT NULL THEN 'CONV' ELSE 'NULL' END
         |  FROM st WHERE nxt IS NULL
         |  UNION ALL SELECT 'START', 'CONV' FROM cut c
         |  WHERE NOT EXISTS (SELECT 1 FROM pre WHERE pre.user_id = c.user_id)),
         |tc AS (SELECT s, t, count(*) AS c FROM tr GROUP BY 1, 2),
         |tn AS (SELECT s, CAST(sum(c) AS BIGINT) AS n FROM tc GROUP BY 1),
         |sc AS (
         |  SELECT DISTINCT s AS scen FROM tc WHERE s <> 'START'
         |  UNION ALL SELECT '__base'),
         |g AS (
         |  SELECT sc.scen, tn.s, tn.n, coalesce(cc.c, 0) AS cc
         |  FROM sc CROSS JOIN tn
         |  LEFT JOIN (SELECT s, c FROM tc WHERE t = 'CONV') cc ON cc.s = tn.s),
         |v0 AS (SELECT scen, s AS state, CAST(0 AS BIGINT) AS v FROM g),
         |${(1 to 12).map(iter).mkString(",\n")}
         |SELECT ch.scen AS channel,
         |  round(b.v / 1e9, 6) AS conv_prob,
         |  round(r.v / 1e9, 6) AS conv_prob_removed,
         |  round((b.v - r.v) * 1.0 / b.v, 6) AS removal_effect
         |FROM (SELECT scen FROM sc WHERE scen <> '__base') ch
         |JOIN v12 b ON b.scen = '__base' AND b.state = 'START'
         |JOIN v12 r ON r.scen = ch.scen AND r.state = 'START'""".stripMargin
    },
    // same namespaced bipartite walk, same 4 unrolled fixed-point rounds
    // with exact integer division (`//` ≡ the engine's `div`)
    "q289_personalized_pagerank" -> {
      def round(k: Int): String =
        s"""i$k AS (
           |  SELECT e.dst AS node, CAST(sum(r.score // deg.d) AS BIGINT) AS inflow
           |  FROM r${k - 1} r JOIN e ON r.node = e.src
           |  JOIN deg ON e.src = deg.src
           |  GROUP BY 1),
           |r$k AS (
           |  SELECT COALESCE(i.node, s.node) AS node,
           |         COALESCE(s.ev, 0) // 2 + COALESCE(i.inflow, 0) // 2 AS score
           |  FROM i$k i FULL OUTER JOIN seeds s ON i.node = s.node)""".stripMargin
      s"""WITH cp AS (
         |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |e AS (SELECT c * 2 AS src, p * 2 + 1 AS dst FROM cp
         |      UNION ALL SELECT p * 2 + 1 AS src, c * 2 AS dst FROM cp),
         |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY 1),
         |seeds AS (
         |  SELECT c * 2 AS node, CAST(1000000000 AS BIGINT) AS ev
         |  FROM (SELECT DISTINCT c FROM cp ORDER BY c LIMIT 3)),
         |r0 AS (SELECT node, ev AS score FROM seeds),
         |${(1 to 4).map(round).mkString(",\n")}
         |SELECT CAST((node - 1) // 2 AS BIGINT) AS l_partkey,
         |       CAST(score AS BIGINT) AS ppr_fp,
         |       round(score / 1000000000.0, 6) AS ppr
         |FROM r4 WHERE node % 2 = 1
         |ORDER BY ppr_fp DESC, l_partkey LIMIT 10""".stripMargin
    },
    // same support-2 edge set; wedges by the naive neighbor self-join
    // under the SAME enforced 256-neighbor hub cap (deg's HAVING drops
    // capped centers from the inner wedge join exactly as the engine
    // drops them before pair emission); the same 1e9-fixed-point
    // 1/ln(deg) weight summed as BIGINT
    "q312_adamic_adar" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e0 AS (
        |  SELECT a.pk AS a, b.pk AS b FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |und AS (SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
        |deg AS (SELECT a AS w, count(*) AS d FROM und GROUP BY a
        |        HAVING count(*) <= 256),
        |wedge AS (
        |  SELECT n1.b AS a, n2.b AS b, d.d
        |  FROM und n1 JOIN und n2 ON n1.a = n2.a AND n1.b < n2.b
        |  JOIN deg d ON d.w = n1.a),
        |aa AS (
        |  SELECT a, b, CAST(count(*) AS BIGINT) AS n_common,
        |         CAST(sum(CAST(round(1000000000.0 / ln(d), 0) AS BIGINT)) AS BIGINT)
        |           AS aa_fp
        |  FROM wedge GROUP BY 1, 2)
        |SELECT a, b, n_common, aa_fp, round(aa_fp / 1e9, 6) AS aa_score
        |FROM aa
        |WHERE NOT EXISTS (SELECT 1 FROM e0 WHERE e0.a = aa.a AND e0.b = aa.b)
        |ORDER BY aa_fp DESC, a, b
        |LIMIT 100""".stripMargin,
    // same support-2 edge set; the oracle enumerates triangles by the
    // naive id-ordered join (count- and participation-invariant to the
    // engine's degree orientation), then credits all three corners
    "q291_clustering_coefficient" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |p AS (SELECT a.pk AS pa, b2.pk AS pb, count(*) AS cab
        |      FROM b a JOIN b b2 ON a.ok = b2.ok AND a.pk < b2.pk
        |      GROUP BY 1, 2),
        |e AS (SELECT pa AS a, pb AS b FROM p WHERE cab >= 2),
        |w AS (SELECT e1.a, e1.b, e2.b AS c FROM e e1 JOIN e e2 ON e1.b = e2.a),
        |tri AS (SELECT w.a AS x, w.b AS y, w.c AS z
        |        FROM w JOIN e e3 ON w.a = e3.a AND w.c = e3.b),
        |t AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
        |        SELECT x AS node FROM tri
        |        UNION ALL SELECT y FROM tri
        |        UNION ALL SELECT z FROM tri) GROUP BY 1),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
        |        SELECT a AS node FROM e UNION ALL SELECT b FROM e) GROUP BY 1)
        |SELECT d.node AS l_partkey, d.deg AS degree,
        |       COALESCE(t.n_tri, CAST(0 AS BIGINT)) AS n_triangles,
        |       round(2.0 * COALESCE(t.n_tri, 0) / (d.deg * (d.deg - 1)), 6)
        |         AS clustering
        |FROM deg d LEFT JOIN t USING (node) WHERE d.deg >= 2
        |ORDER BY clustering DESC, l_partkey LIMIT 15""".stripMargin,
    // same customer-local pair grain, same symmetric top-5 election
    "q290_covisitation" ->
      """WITH cp0 AS (
        |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |keep AS (SELECT c FROM cp0 GROUP BY 1 HAVING count(*) <= 256),
        |cp AS (SELECT cp0.* FROM cp0 JOIN keep USING (c)),
        |pairs AS (
        |  SELECT a.p AS x, b.p AS y, CAST(count(*) AS BIGINT) AS shared
        |  FROM cp a JOIN cp b ON a.c = b.c AND a.p <> b.p
        |  GROUP BY 1, 2),
        |ranked AS (
        |  SELECT x, y, shared,
        |         row_number() OVER (PARTITION BY x ORDER BY shared DESC, y)
        |           AS rank
        |  FROM pairs)
        |SELECT x AS l_partkey, y AS rec_partkey, shared AS shared_customers,
        |       CAST(rank AS INT) AS rank
        |FROM ranked WHERE rank <= 5""".stripMargin,
    // same (user, day) dedup grain, same first-seen derivation, same
    // day-ordered running sum
    "q265_cumulative_uniques" ->
      """WITH du AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |daily AS (SELECT d, count(*) AS daily_active FROM du GROUP BY 1),
        |f AS (SELECT user_id, min(d) AS d FROM du GROUP BY 1),
        |nw AS (SELECT d, count(*) AS new_users FROM f GROUP BY 1),
        |j AS (
        |  SELECT daily.d, daily.daily_active,
        |         coalesce(nw.new_users, CAST(0 AS BIGINT)) AS new_users
        |  FROM daily LEFT JOIN nw USING (d))
        |SELECT strftime(d, '%Y-%m-%d') AS day, daily_active, new_users,
        |       CAST(sum(new_users) OVER (ORDER BY d) AS BIGINT) AS cum_users
        |FROM j""".stripMargin,
    // same first-order-month cohorts, same integer-cents revenue, same
    // cohort-partitioned cumulative window, same final divisions
    "q260_cohort_ltv" ->
      """WITH o AS (
        |  SELECT o_custkey, CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |fo AS (SELECT o_custkey, min(mon) AS cohort FROM o GROUP BY 1),
        |sz AS (SELECT cohort, count(*) AS n_customers FROM fo GROUP BY 1),
        |mr AS (
        |  SELECT f.cohort, date_diff('month', f.cohort, o.mon) AS offset_m,
        |         CAST(sum(o.cents) AS BIGINT) AS rev
        |  FROM o JOIN fo f USING (o_custkey) GROUP BY 1, 2),
        |cum AS (
        |  SELECT cohort, offset_m,
        |         CAST(sum(rev) OVER (PARTITION BY cohort ORDER BY offset_m)
        |              AS BIGINT) AS cum_cents
        |  FROM mr)
        |SELECT strftime(c.cohort, '%Y-%m') AS cohort,
        |       CAST(c.offset_m AS BIGINT) AS offset_m, s.n_customers,
        |       round(c.cum_cents / 100.0, 2) AS cum_revenue,
        |       round(c.cum_cents / 100.0 / s.n_customers, 6)
        |         AS ltv_per_customer
        |FROM cum c JOIN sz s USING (cohort)""".stripMargin,
    // same (ts, event_id) transition order, same MLE matrix, same
    // 1e9-quantized per-transition -ln p summed as exact integers
    "q261_seq_perplexity" ->
      """WITH s AS (
        |  SELECT user_id, event_type AS cur,
        |         lead(event_type, 1) OVER (
        |           PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |tr AS (SELECT user_id, cur, nxt FROM s WHERE nxt IS NOT NULL),
        |m AS (SELECT cur, nxt, count(*) AS c FROM tr GROUP BY 1, 2),
        |mt AS (
        |  SELECT cur, nxt,
        |         CAST(round(-ln(c * 1.0 / sum(c) OVER (PARTITION BY cur)) * 1e9)
        |              AS BIGINT) AS nll_q
        |  FROM m)
        |SELECT t.user_id, count(*) AS n_transitions,
        |       round(CAST(sum(mt.nll_q) AS BIGINT) / 1e9 / count(*), 6)
        |         AS avg_nll
        |FROM tr t JOIN mt ON mt.cur = t.cur AND mt.nxt = t.nxt
        |GROUP BY 1""".stripMargin,
    // same % 97 forget set, same orderkey cascade semi-join, same
    // three-table purge/keep report
    "q262_forget_audit" ->
      """WITH cg AS (
        |  SELECT count(*) AS t, count(*) FILTER (c_custkey % 97 = 0) AS p
        |  FROM customer),
        |og AS (
        |  SELECT count(*) AS t, count(*) FILTER (o_custkey % 97 = 0) AS p
        |  FROM orders),
        |lg AS (
        |  SELECT count(*) AS t,
        |         count(*) FILTER (l_orderkey IN (
        |           SELECT o_orderkey FROM orders WHERE o_custkey % 97 = 0)) AS p
        |  FROM lineitem),
        |r AS (
        |  SELECT 'customer' AS table_name, t, p FROM cg
        |  UNION ALL SELECT 'orders', t, p FROM og
        |  UNION ALL SELECT 'lineitem', t, p FROM lg)
        |SELECT table_name, t AS n_total, p AS n_purged, t - p AS n_kept,
        |       round(p * 1.0 / t, 6) AS purge_frac
        |FROM r""".stripMargin,
    // q210's pair counts with exact integer marginals; each PMI one ln
    // of a four-integer ratio
    "q233_temporal_pmi" ->
      """WITH s AS (
        |  SELECT event_type, epoch_us(ts) AS us,
        |         lead(event_type, 1) OVER w AS t1, lead(epoch_us(ts), 1) OVER w AS u1,
        |         lead(event_type, 2) OVER w AS t2, lead(epoch_us(ts), 2) OVER w AS u2,
        |         lead(event_type, 3) OVER w AS t3, lead(epoch_us(ts), 3) OVER w AS u3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        |p AS (
        |  SELECT event_type AS type_a, t1 AS type_b, u1 - us AS gap
        |  FROM s WHERE t1 IS NOT NULL
        |  UNION ALL
        |  SELECT event_type, t2, u2 - us FROM s WHERE t2 IS NOT NULL
        |  UNION ALL
        |  SELECT event_type, t3, u3 - us FROM s WHERE t3 IS NOT NULL),
        |c AS (SELECT type_a, type_b, count(*) AS n_pairs
        |      FROM p WHERE gap <= 300000000 GROUP BY 1, 2),
        |ma AS (SELECT type_a, CAST(sum(n_pairs) AS BIGINT) AS na FROM c GROUP BY 1),
        |mb AS (SELECT type_b, CAST(sum(n_pairs) AS BIGINT) AS nb FROM c GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS nt FROM c)
        |SELECT c.type_a, c.type_b, c.n_pairs,
        |       round(ln(CAST(c.n_pairs * tot.nt AS DOUBLE) /
        |                CAST(ma.na * mb.nb AS DOUBLE)), 6) AS pmi
        |FROM c
        |JOIN ma ON ma.type_a = c.type_a
        |JOIN mb ON mb.type_b = c.type_b
        |CROSS JOIN tot""".stripMargin,
    // same (part, year) unit prices, same common-part pairing, same
    // 1e6-quantized products into exact integer sums
    "q228_price_index" ->
      """WITH py AS (
        |  SELECT l_partkey AS pk, CAST(year(o_orderdate) AS INT) AS yr,
        |         sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS rev,
        |         sum(CAST(l_quantity AS DECIMAL(18,4))) AS qty
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  GROUP BY 1, 2),
        |base AS (
        |  SELECT pk, yr AS y0,
        |         CAST(rev AS DOUBLE) / CAST(qty AS DOUBLE) AS p0,
        |         CAST(qty AS DOUBLE) AS q0
        |  FROM py),
        |cur AS (
        |  SELECT pk, yr - 1 AS y0,
        |         CAST(rev AS DOUBLE) / CAST(qty AS DOUBLE) AS p1
        |  FROM py),
        |j AS (
        |  SELECT base.y0, base.y0 + 1 AS y1,
        |         CAST(round(cur.p1 * base.q0 * 1000000) AS BIGINT) AS num,
        |         CAST(round(base.p0 * base.q0 * 1000000) AS BIGINT) AS den
        |  FROM base JOIN cur ON cur.pk = base.pk AND cur.y0 = base.y0)
        |SELECT y0, y1, count(*) AS n_parts,
        |       round(CAST(sum(num) AS DOUBLE) / CAST(sum(den) AS BIGINT), 6)
        |         AS laspeyres
        |FROM j GROUP BY 1, 2""".stripMargin,
    // same deduped (user, day) grid, same day−row_number island key,
    // same longest-streak histogram
    "q226_streak_histogram" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d
        |  FROM events),
        |runs AS (
        |  SELECT user_id,
        |         d - row_number() OVER (PARTITION BY user_id ORDER BY d) AS grp
        |  FROM ud),
        |rl AS (SELECT user_id, grp, count(*) AS len FROM runs GROUP BY 1, 2),
        |best AS (SELECT user_id, max(len) AS best_streak FROM rl GROUP BY 1)
        |SELECT best_streak, count(*) AS n_users
        |FROM best GROUP BY 1""".stripMargin,
    // same integer-cent discount levels, same 1e9-quantized ln-ln
    // points, same closed-form OLS elasticity
    "q225_discount_elasticity" ->
      """WITH lvl AS (
        |  SELECT CAST(round(l_discount * 100) AS BIGINT) AS disc_pct,
        |         count(*) AS n_lines,
        |         sum(CAST(l_quantity AS DECIMAL(18,4))) AS qty,
        |         sum(CAST(CAST(l_extendedprice AS DECIMAL(19,4)) *
        |                  (1 - CAST(l_discount AS DECIMAL(19,4)))
        |             AS DECIMAL(38,8))) AS revenue
        |  FROM lineitem GROUP BY 1),
        |pts AS (
        |  SELECT CAST(round(ln(1.0 - disc_pct / 100.0) * 1000000000) AS BIGINT) AS xq,
        |         CAST(round(ln(CAST(qty AS DOUBLE) / n_lines) * 1000000000) AS BIGINT) AS yq
        |  FROM lvl WHERE disc_pct < 100),
        |f AS (
        |  SELECT count(*) AS np, CAST(sum(xq) AS BIGINT) AS sx,
        |         sum(CAST(xq AS HUGEINT) * xq) AS sxx,
        |         CAST(sum(yq) AS BIGINT) AS sy,
        |         sum(CAST(xq AS HUGEINT) * yq) AS sxy
        |  FROM pts),
        |e AS (
        |  SELECT round(CAST(np * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE) /
        |               CAST(np * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE), 6)
        |           AS elasticity
        |  FROM f)
        |SELECT disc_pct, n_lines, round(CAST(qty AS DOUBLE), 2) AS total_qty,
        |       round(CAST(revenue AS DOUBLE), 2) AS revenue, e.elasticity
        |FROM lvl CROSS JOIN e""".stripMargin,
    // same (n_events desc, user_id) ntile order, same decimal revenue,
    // same per-decile lift vs the grand mean
    "q222_engagement_revenue" ->
      """WITH eng AS (
        |  SELECT user_id, count(*) AS n_events FROM events GROUP BY 1),
        |rev AS (
        |  SELECT o_custkey AS user_id,
        |         sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
        |  FROM orders GROUP BY 1),
        |d AS (
        |  SELECT eng.user_id, eng.n_events,
        |         coalesce(rev.rev, CAST(0 AS DECIMAL(18,4))) AS rev,
        |         ntile(10) OVER (ORDER BY eng.n_events DESC, eng.user_id) AS decile
        |  FROM eng LEFT JOIN rev ON rev.user_id = eng.user_id),
        |g AS (
        |  SELECT decile, count(*) AS n_users,
        |         CAST(sum(n_events) AS BIGINT) AS tot_events,
        |         sum(rev) AS srev
        |  FROM d GROUP BY 1),
        |tot AS (SELECT sum(srev) AS trev, CAST(sum(n_users) AS BIGINT) AS tn FROM g)
        |SELECT decile, n_users, tot_events,
        |       round(CAST(srev AS DOUBLE), 2) AS revenue,
        |       round((CAST(srev AS DOUBLE) / n_users) /
        |             (CAST(trev AS DOUBLE) / tn), 6) AS rev_lift
        |FROM g CROSS JOIN tot""".stripMargin,
    // same lag-7 day-number pairing, same decimal errors, same
    // 1e9-quantized MAPE terms
    "q223_forecast_backtest" ->
      """WITH day AS (
        |  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS dn,
        |         sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
        |  FROM orders GROUP BY 1),
        |s AS (
        |  SELECT a.dn, a.rev, p.rev AS pred, abs(a.rev - p.rev) AS ae,
        |         CAST(round(CAST(abs(a.rev - p.rev) AS DOUBLE) /
        |                    CAST(a.rev AS DOUBLE) * 1000000000) AS BIGINT) AS apeq
        |  FROM day a JOIN day p ON a.dn = p.dn + 7)
        |SELECT count(*) AS n_days,
        |       round(CAST(sum(ae) AS DOUBLE) / count(*), 2) AS mae,
        |       round(sum(apeq) / 1000000000.0 / count(*), 6) AS mape
        |FROM s""".stripMargin,
    // same exact per-segment moments, same Welch t and
    // Welch-Satterthwaite df closed forms
    "q224_welch_pairs" ->
      """WITH m AS (
        |  SELECT c.c_mktsegment AS seg, count(*) AS n,
        |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sx,
        |         CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(19,4)) *
        |                       CAST(o_totalprice AS DECIMAL(19,4))
        |                  AS DECIMAL(38,8))) AS DOUBLE) AS sxx
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        |  GROUP BY 1),
        |p AS (
        |  SELECT a.seg AS seg_a, b.seg AS seg_b, a.n AS na, b.n AS nb,
        |         a.sx / a.n AS ma, b.sx / b.n AS mb,
        |         (a.sxx - a.sx * a.sx / a.n) / (a.n - 1) AS va,
        |         (b.sxx - b.sx * b.sx / b.n) / (b.n - 1) AS vb
        |  FROM m a JOIN m b ON a.seg < b.seg),
        |w AS (SELECT *, va / na + vb / nb AS se2 FROM p)
        |SELECT seg_a, seg_b, na, nb,
        |       round((ma - mb) / sqrt(se2), 6) AS t_stat,
        |       round(se2 * se2 /
        |             (va * va / (na * na * (na - 1)) +
        |              vb * vb / (nb * nb * (nb - 1))), 6) AS welch_df
        |FROM w""".stripMargin,
    // same calendar-span denominator (zero days implicit), same
    // one-division exact-integer dispersion
    "q219_overdispersion" ->
      """WITH e AS (
        |  SELECT event_type,
        |         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d
        |  FROM events),
        |span AS (SELECT min(d) AS d0, max(d) AS d1 FROM e),
        |daily AS (SELECT event_type, d, count(*) AS n FROM e GROUP BY 1, 2),
        |m AS (
        |  SELECT event_type, CAST(sum(n) AS BIGINT) AS sn,
        |         CAST(sum(n * n) AS BIGINT) AS snn
        |  FROM daily GROUP BY 1)
        |SELECT event_type, d1 - d0 + 1 AS n_days,
        |       round(CAST(sn AS DOUBLE) / (d1 - d0 + 1), 6) AS mean_daily,
        |       round(CAST((d1 - d0 + 1) * snn - sn * sn AS DOUBLE) /
        |             ((d1 - d0 + 1) * sn), 6) AS dispersion
        |FROM m CROSS JOIN span""".stripMargin,
    // same earliest-cohort series, same 1e9-quantized ln rates, same
    // closed-form OLS slope and half-life
    "q218_retention_fit" ->
      """WITH wk AS (
        |  SELECT DISTINCT user_id, date_trunc('week', ts) AS week
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, min(week) AS cohort_week FROM wk GROUP BY 1),
        |r AS (
        |  SELECT epoch_us(c.cohort_week) AS cohort_us,
        |         CAST((epoch_us(wk.week) - epoch_us(c.cohort_week))
        |              // 604800000000 AS INTEGER) AS week_offset,
        |         count(*) AS n_users
        |  FROM wk JOIN c ON wk.user_id = c.user_id
        |  GROUP BY 1, 2),
        |c0 AS (SELECT min(cohort_us) AS c0 FROM r),
        |s AS (SELECT week_offset, n_users FROM r CROSS JOIN c0
        |      WHERE cohort_us = c0),
        |base AS (SELECT n_users AS n0 FROM s WHERE week_offset = 0),
        |pts AS (
        |  SELECT CAST(week_offset AS BIGINT) AS x,
        |         CAST(round(ln(CAST(n_users AS DOUBLE) / n0) * 1000000000)
        |              AS BIGINT) AS yq
        |  FROM s CROSS JOIN base WHERE week_offset >= 1),
        |a AS (
        |  SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |         CAST(sum(x * x) AS BIGINT) AS sxx,
        |         CAST(sum(yq) AS BIGINT) AS sy,
        |         CAST(sum(x * yq) AS BIGINT) AS sxy
        |  FROM pts),
        |b AS (
        |  SELECT n, CAST(n * sxy - sx * sy AS DOUBLE) /
        |            (n * sxx - sx * sx) / 1000000000 AS b
        |  FROM a)
        |SELECT n AS n_points, round(b, 6) AS decay_rate,
        |       CASE WHEN b < 0 THEN round(-ln(2.0) / b, 6) END AS half_life_weeks
        |FROM b""".stripMargin,
    // same q131 touch sets, same (view_ts, view_id) position order,
    // same CASE bucket precedence, same 1e6-quantized linear credits
    "q217_attribution_models" ->
      """WITH v AS (
        |  SELECT user_id, event_id AS view_id, ts AS view_ts
        |  FROM events WHERE event_type = 'view'),
        |p AS (
        |  SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
        |  FROM events WHERE event_type = 'purchase'),
        |t0 AS (
        |  SELECT v.view_id, v.view_ts, p.purchase_id
        |  FROM v JOIN p ON p.user_id = v.user_id
        |  WHERE v.view_ts < p.purchase_ts
        |    AND v.view_ts >= p.purchase_ts - INTERVAL 24 HOURS),
        |t1 AS (
        |  SELECT purchase_id,
        |         row_number() OVER (PARTITION BY purchase_id
        |                            ORDER BY view_ts, view_id) AS rk,
        |         count(*) OVER (PARTITION BY purchase_id) AS n
        |  FROM t0),
        |t2 AS (
        |  SELECT CASE WHEN rk = 1 THEN 'first'
        |              WHEN rk = n THEN 'last'
        |              ELSE 'middle' END AS bucket,
        |         CASE WHEN rk = 1 THEN 1 ELSE 0 END AS cf,
        |         CASE WHEN rk = n THEN 1 ELSE 0 END AS cl,
        |         CAST(round(1000000.0 / n) AS BIGINT) AS cq
        |  FROM t1)
        |SELECT bucket, count(*) AS n_touches,
        |       CAST(sum(cf) AS BIGINT) AS first_credit,
        |       CAST(sum(cl) AS BIGINT) AS last_credit,
        |       round(sum(cq) / 1000000.0, 6) AS linear_credit
        |FROM t2 GROUP BY 1""".stripMargin,
    // same md5 bottom-k sample, same rank-at medians on sample and
    // full data, same relative-error audit
    "q216_sample_quantile" ->
      """WITH o AS (SELECT o_orderkey, o_totalprice AS p FROM orders),
        |samp AS (
        |  SELECT o_orderkey, p,
        |         md5('graft-sq-' || CAST(o_orderkey AS VARCHAR)) AS h
        |  FROM o ORDER BY h LIMIT 1024),
        |ks AS (SELECT count(*) AS ks FROM samp),
        |sr AS (SELECT p, row_number() OVER (ORDER BY p, o_orderkey) AS rk FROM samp),
        |sm AS (
        |  SELECT ks.ks AS sample_k, sr.p AS sample_median
        |  FROM sr CROSS JOIN ks
        |  WHERE sr.rk = CAST(ceil(ks.ks * 0.5) AS BIGINT)),
        |n AS (SELECT count(*) AS n FROM o),
        |r AS (SELECT p, row_number() OVER (ORDER BY p, o_orderkey) AS rk FROM o),
        |em AS (
        |  SELECT n.n AS n_rows, r.p AS exact_median
        |  FROM r CROSS JOIN n
        |  WHERE r.rk = CAST(ceil(n.n * 0.5) AS BIGINT))
        |SELECT em.n_rows, sm.sample_k, em.exact_median, sm.sample_median,
        |       round(abs(sm.sample_median - em.exact_median) / em.exact_median, 6)
        |         AS rel_err
        |FROM em CROSS JOIN sm""".stripMargin,
    // same md5 ring positions and key hashes, same min(delta*8+s)
    // successor pick, same mod-4/mod-5 comparison
    "q215_reshard_audit" ->
      """WITH vn AS (
        |  SELECT s, CAST(('0x' || substr(md5('graft-vn-' || CAST(s AS VARCHAR) ||
        |         '|' || CAST(v AS VARCHAR)), 1, 13)) AS BIGINT) AS pos
        |  FROM (SELECT unnest(range(0, 5)) AS s)
        |  CROSS JOIN (SELECT unnest(range(0, 32)) AS v)),
        |h AS (
        |  SELECT doc_id,
        |         CAST(('0x' || substr(md5('graft-ring-' || CAST(doc_id AS VARCHAR)),
        |               1, 13)) AS BIGINT) AS h
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, h,
        |         min(CASE WHEN s < 4 THEN
        |               ((pos - h + 4503599627370496) % 4503599627370496) * 8 + s END) AS a4,
        |         min(((pos - h + 4503599627370496) % 4503599627370496) * 8 + s) AS a5
        |  FROM h CROSS JOIN vn GROUP BY 1, 2),
        |m AS (
        |  SELECT count(*) AS n,
        |         count(CASE WHEN h % 4 <> h % 5 THEN 1 END) AS mod_moved,
        |         count(CASE WHEN a4 % 8 <> a5 % 8 THEN 1 END) AS ch_moved
        |  FROM c)
        |SELECT 'consistent' AS scheme, n AS n_docs, ch_moved AS n_moved,
        |       round(ch_moved * 1.0 / n, 6) AS moved_frac FROM m
        |UNION ALL
        |SELECT 'mod', n, mod_moved, round(mod_moved * 1.0 / n, 6) FROM m""".stripMargin,
    // the NAIVE global rank-at-ceil(n/2) selection — the driver compare
    // proves the two-pass binned plan equals it (q119-style contract)
    "q214_binned_median" ->
      """WITH o AS (SELECT o_totalprice AS p, o_orderkey FROM orders),
        |n AS (SELECT count(*) AS n FROM o),
        |r AS (SELECT p, row_number() OVER (ORDER BY p, o_orderkey) AS rk FROM o)
        |SELECT n.n AS n_rows, r.p AS median
        |FROM r CROSS JOIN n
        |WHERE r.rk = CAST(ceil(n.n * 0.5) AS BIGINT)""".stripMargin,
    // same (ts, event_id) per-user order, same w=3 lead neighbors,
    // same 5-minute integer-micro gap gate
    "q210_temporal_cooccur" ->
      """WITH s AS (
        |  SELECT event_type, epoch_us(ts) AS us,
        |         lead(event_type, 1) OVER w AS t1, lead(epoch_us(ts), 1) OVER w AS u1,
        |         lead(event_type, 2) OVER w AS t2, lead(epoch_us(ts), 2) OVER w AS u2,
        |         lead(event_type, 3) OVER w AS t3, lead(epoch_us(ts), 3) OVER w AS u3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        |p AS (
        |  SELECT event_type AS type_a, t1 AS type_b, u1 - us AS gap
        |  FROM s WHERE t1 IS NOT NULL
        |  UNION ALL
        |  SELECT event_type, t2, u2 - us FROM s WHERE t2 IS NOT NULL
        |  UNION ALL
        |  SELECT event_type, t3, u3 - us FROM s WHERE t3 IS NOT NULL)
        |SELECT type_a, type_b, count(*) AS n_pairs
        |FROM p WHERE gap <= 300000000 GROUP BY 1, 2""".stripMargin,
    // same day-grain pairwise slopes, same rank-at-ceil(n/2) median
    // selection under the (slope, d_i, d_j) total order
    "q209_theil_sen" ->
      """WITH day AS (
        |  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS dn,
        |         sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
        |  FROM orders GROUP BY 1),
        |p AS (
        |  SELECT a.dn AS d_i, b.dn AS d_j,
        |         CAST(b.rev - a.rev AS DOUBLE) / (b.dn - a.dn) AS slope
        |  FROM day a JOIN day b ON a.dn < b.dn),
        |r AS (
        |  SELECT slope, row_number() OVER (ORDER BY slope, d_i, d_j) AS rk,
        |         count(*) OVER () AS n FROM p),
        |nd AS (SELECT count(*) AS n_days FROM day)
        |SELECT nd.n_days, r.n AS n_pairs, round(r.slope, 6) AS ts_slope
        |FROM r CROSS JOIN nd
        |WHERE r.rk = CAST(ceil(r.n * 0.5) AS BIGINT)""".stripMargin,
    // same 0.5-smoothed odds, same rounded-WOE composition into IV
    "q206_woe_encoding" ->
      """WITH pos AS (
        |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'),
        |f AS (
        |  SELECT c_mktsegment,
        |         CASE WHEN p.o_custkey IS NULL THEN 0 ELSE 1 END AS y
        |  FROM customer c LEFT JOIN pos p ON p.o_custkey = c.c_custkey),
        |seg AS (
        |  SELECT c_mktsegment, count(*) AS n_customers,
        |         CAST(sum(y) AS BIGINT) AS np
        |  FROM f GROUP BY 1),
        |s2 AS (SELECT c_mktsegment, n_customers, np, n_customers - np AS nn FROM seg),
        |tot AS (SELECT CAST(sum(np) AS BIGINT) AS tp,
        |               CAST(sum(nn) AS BIGINT) AS tn FROM s2),
        |w AS (
        |  SELECT c_mktsegment, n_customers, np, nn, tp, tn,
        |         round(ln(((np + 0.5) * (tn + 0.5)) /
        |                  ((nn + 0.5) * (tp + 0.5))), 6) AS woe
        |  FROM s2 CROSS JOIN tot)
        |SELECT c_mktsegment, n_customers, np AS n_pos, nn AS n_neg, woe,
        |       round((CAST(np AS DOUBLE) / tp - CAST(nn AS DOUBLE) / tn) * woe, 6)
        |         AS iv_term
        |FROM w""".stripMargin,
    // same 30-min half-open windows split at midnight, same
    // ends-before-starts sweep order, same day-of-segment-start keying
    "q202_max_concurrency" ->
      """WITH iv AS (
        |  SELECT epoch_us(ts) AS s, epoch_us(ts) + 1800000000 AS e,
        |         epoch_us(ts) - (epoch_us(ts) % 86400000000) + 86400000000 AS bnd
        |  FROM events),
        |seg AS (
        |  SELECT s AS t0, CASE WHEN e <= bnd THEN e ELSE bnd END AS t1 FROM iv
        |  UNION ALL
        |  SELECT bnd AS t0, e AS t1 FROM iv WHERE e > bnd),
        |b AS (
        |  SELECT t0 - (t0 % 86400000000) AS day_us, t0 AS t, 1 AS d FROM seg
        |  UNION ALL
        |  SELECT t0 - (t0 % 86400000000) AS day_us, t1 AS t, -1 AS d FROM seg),
        |r AS (
        |  SELECT day_us, d,
        |         sum(d) OVER (PARTITION BY day_us ORDER BY t, d
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ld
        |  FROM b)
        |SELECT day_us // 86400000000 AS day_num,
        |       count(CASE WHEN d = 1 THEN 1 END) AS n_segments,
        |       CAST(max(ld) AS BIGINT) AS peak_concurrency
        |FROM r GROUP BY 1""".stripMargin,
    // same support-2 co-purchase edges, same 5-lowest-node seed set,
    // same three min-hop propagation rounds unrolled
    "q203_bfs_hops" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e0 AS (
        |  SELECT a.pk AS a, b.pk AS b FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
        |seeds AS (
        |  SELECT node, 0 AS hop FROM (
        |    SELECT DISTINCT a AS node FROM e ORDER BY node LIMIT 5)),
        |f1 AS (SELECT DISTINCT e.b AS node FROM e JOIN seeds s ON e.a = s.node),
        |d1 AS (SELECT node, min(hop) AS hop FROM (
        |  SELECT node, hop FROM seeds UNION ALL SELECT node, 1 FROM f1) GROUP BY node),
        |f2 AS (SELECT DISTINCT e.b AS node FROM e JOIN d1 ON e.a = d1.node AND d1.hop = 1),
        |d2 AS (SELECT node, min(hop) AS hop FROM (
        |  SELECT node, hop FROM d1 UNION ALL SELECT node, 2 FROM f2) GROUP BY node),
        |f3 AS (SELECT DISTINCT e.b AS node FROM e JOIN d2 ON e.a = d2.node AND d2.hop = 2),
        |d3 AS (SELECT node, min(hop) AS hop FROM (
        |  SELECT node, hop FROM d2 UNION ALL SELECT node, 3 FROM f3) GROUP BY node)
        |SELECT hop, count(*) AS n_nodes, CAST(sum(node) AS BIGINT) AS node_checksum
        |FROM d3 GROUP BY 1""".stripMargin,
    // same weighted co-purchase edges (100 div support), same 3 seeds,
    // 4 unrolled relax-everything Bellman-Ford rounds (provably equal
    // to the Spark side's delta-frontier after the same round count),
    // same (dist, node)-ordered top-100
    "q320_weighted_sssp" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e0 AS (
        |  SELECT a.pk AS a, b.pk AS b, count(*) AS cab
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |ew AS (
        |  SELECT a, b, greatest(1, 100 // cab) AS w FROM e0
        |  UNION ALL
        |  SELECT b AS a, a AS b, greatest(1, 100 // cab) AS w FROM e0),
        |d0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM (
        |  SELECT DISTINCT a AS node FROM ew ORDER BY node LIMIT 3)),
        |r1 AS (SELECT ew.b AS node, min(d0.dist + ew.w) AS cand
        |       FROM ew JOIN d0 ON ew.a = d0.node GROUP BY 1),
        |d1 AS (SELECT node, min(dist) AS dist FROM (
        |  SELECT node, dist FROM d0 UNION ALL SELECT node, cand FROM r1) GROUP BY 1),
        |r2 AS (SELECT ew.b AS node, min(d1.dist + ew.w) AS cand
        |       FROM ew JOIN d1 ON ew.a = d1.node GROUP BY 1),
        |d2 AS (SELECT node, min(dist) AS dist FROM (
        |  SELECT node, dist FROM d1 UNION ALL SELECT node, cand FROM r2) GROUP BY 1),
        |r3 AS (SELECT ew.b AS node, min(d2.dist + ew.w) AS cand
        |       FROM ew JOIN d2 ON ew.a = d2.node GROUP BY 1),
        |d3 AS (SELECT node, min(dist) AS dist FROM (
        |  SELECT node, dist FROM d2 UNION ALL SELECT node, cand FROM r3) GROUP BY 1),
        |r4 AS (SELECT ew.b AS node, min(d3.dist + ew.w) AS cand
        |       FROM ew JOIN d3 ON ew.a = d3.node GROUP BY 1),
        |d4 AS (SELECT node, min(dist) AS dist FROM (
        |  SELECT node, dist FROM d3 UNION ALL SELECT node, cand FROM r4) GROUP BY 1)
        |SELECT node, dist FROM d4 ORDER BY dist, node LIMIT 100""".stripMargin,
    // same canonical co-purchase edges, same three unrolled peel rounds
    // (triangle enumeration over a<b edges finds each once as
    // (x,y),(y,z),(x,z); support = per-edge triangle count; keep >= 1)
    "q321_ktruss" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e0 AS (
        |  SELECT a.pk AS a, b.pk AS b FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |t1 AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM e0 e1
        |       JOIN e0 e2 ON e2.a = e1.b JOIN e0 e3 ON e3.a = e1.a AND e3.b = e2.b),
        |s1 AS (SELECT a, b FROM (
        |  SELECT x AS a, y AS b FROM t1 UNION ALL SELECT y, z FROM t1
        |  UNION ALL SELECT x, z FROM t1) GROUP BY 1, 2 HAVING count(*) >= 1),
        |e1 AS (SELECT e.a, e.b FROM e0 e JOIN s1 USING (a, b)),
        |t2 AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM e1 e1
        |       JOIN e1 e2 ON e2.a = e1.b JOIN e1 e3 ON e3.a = e1.a AND e3.b = e2.b),
        |s2 AS (SELECT a, b FROM (
        |  SELECT x AS a, y AS b FROM t2 UNION ALL SELECT y, z FROM t2
        |  UNION ALL SELECT x, z FROM t2) GROUP BY 1, 2 HAVING count(*) >= 1),
        |e2 AS (SELECT e.a, e.b FROM e1 e JOIN s2 USING (a, b)),
        |t3 AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM e2 e1
        |       JOIN e2 e2 ON e2.a = e1.b JOIN e2 e3 ON e3.a = e1.a AND e3.b = e2.b),
        |s3 AS (SELECT a, b FROM (
        |  SELECT x AS a, y AS b FROM t3 UNION ALL SELECT y, z FROM t3
        |  UNION ALL SELECT x, z FROM t3) GROUP BY 1, 2 HAVING count(*) >= 1),
        |e3 AS (SELECT e.a, e.b FROM e2 e JOIN s3 USING (a, b))
        |SELECT 0 AS peel_round, count(*) AS n_edges,
        |       CAST(coalesce(sum(a), 0) AS BIGINT) AS sum_a,
        |       CAST(coalesce(sum(b), 0) AS BIGINT) AS sum_b FROM e0
        |UNION ALL SELECT 1, count(*), CAST(coalesce(sum(a), 0) AS BIGINT),
        |       CAST(coalesce(sum(b), 0) AS BIGINT) FROM e1
        |UNION ALL SELECT 2, count(*), CAST(coalesce(sum(a), 0) AS BIGINT),
        |       CAST(coalesce(sum(b), 0) AS BIGINT) FROM e2
        |UNION ALL SELECT 3, count(*), CAST(coalesce(sum(a), 0) AS BIGINT),
        |       CAST(coalesce(sum(b), 0) AS BIGINT) FROM e3""".stripMargin,
    // same symmetric edge list, same 50 lowest-id seeds, same four
    // md5-argmin transitions ((hash, id) lexicographic minimum)
    "q331_random_walks" ->
      ("""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e0 AS (
        |  SELECT a.pk AS a, b.pk AS b FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |ew AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
        |s0 AS (SELECT n AS walk_id, n AS node, CAST(n AS VARCHAR) AS path FROM (
        |  SELECT DISTINCT a AS n FROM ew ORDER BY n LIMIT 50)),
        |s1 AS (
        |  SELECT walk_id, v AS node, path || '>' || CAST(v AS VARCHAR) AS path
        |  FROM (
        |    SELECT p.walk_id, ew.b AS v, p.path,
        |           row_number() OVER (PARTITION BY p.walk_id
        |             ORDER BY md5(CAST(p.walk_id AS VARCHAR) || '|1|'
        |                          || CAST(ew.b AS VARCHAR)), ew.b) AS rn
        |    FROM s0 p JOIN ew ON ew.a = p.node)
        |  WHERE rn = 1),
        |s2 AS (
        |  SELECT walk_id, v AS node, path || '>' || CAST(v AS VARCHAR) AS path
        |  FROM (
        |    SELECT p.walk_id, ew.b AS v, p.path,
        |           row_number() OVER (PARTITION BY p.walk_id
        |             ORDER BY md5(CAST(p.walk_id AS VARCHAR) || '|2|'
        |                          || CAST(ew.b AS VARCHAR)), ew.b) AS rn
        |    FROM s1 p JOIN ew ON ew.a = p.node)
        |  WHERE rn = 1),
        |s3 AS (
        |  SELECT walk_id, v AS node, path || '>' || CAST(v AS VARCHAR) AS path
        |  FROM (
        |    SELECT p.walk_id, ew.b AS v, p.path,
        |           row_number() OVER (PARTITION BY p.walk_id
        |             ORDER BY md5(CAST(p.walk_id AS VARCHAR) || '|3|'
        |                          || CAST(ew.b AS VARCHAR)), ew.b) AS rn
        |    FROM s2 p JOIN ew ON ew.a = p.node)
        |  WHERE rn = 1),
        |s4 AS (
        |  SELECT walk_id, v AS node, path || '>' || CAST(v AS VARCHAR) AS path
        |  FROM (
        |    SELECT p.walk_id, ew.b AS v, p.path,
        |           row_number() OVER (PARTITION BY p.walk_id
        |             ORDER BY md5(CAST(p.walk_id AS VARCHAR) || '|4|'
        |                          || CAST(ew.b AS VARCHAR)), ew.b) AS rn
        |    FROM s3 p JOIN ew ON ew.a = p.node)
        |  WHERE rn = 1),
        |fin AS (SELECT * FROM s4)
        |SELECT walk_id, path, node AS end_node FROM fin""").stripMargin,
    // same per-user (ts, event_id) positions, same greedy
    // first-a / first-b-after / c-exists subsequence containment,
    // same support >= 5 census
    "q329_seq_patterns" ->
      """WITH pos AS (
        |  SELECT user_id, event_type,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ts, event_id) AS p
        |  FROM events),
        |fa AS (SELECT user_id, event_type AS e1, min(p) AS pa
        |       FROM pos GROUP BY 1, 2),
        |fb AS (SELECT pos.user_id, fa.e1, pos.event_type AS e2, min(pos.p) AS pb
        |       FROM pos JOIN fa ON fa.user_id = pos.user_id AND pos.p > fa.pa
        |       GROUP BY 1, 2, 3),
        |tri AS (SELECT DISTINCT pos.user_id, fb.e1, fb.e2,
        |               pos.event_type AS e3
        |        FROM pos JOIN fb ON fb.user_id = pos.user_id AND pos.p > fb.pb)
        |SELECT e1, e2, e3, count(*) AS n_users
        |FROM tri GROUP BY 1, 2, 3 HAVING count(*) >= 5""".stripMargin,
    // same canonical co-purchase edges, same three unrolled Luby
    // rounds (min-id win, winners + neighbors removed, isolated
    // survivors admitted free)
    "q327_mis" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e0 AS (
        |  SELECT a.pk AS a, b.pk AS b FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |n0 AS (SELECT a AS n FROM e0 UNION SELECT b FROM e0),
        |d1 AS (SELECT a AS u, b AS v FROM e0 UNION ALL SELECT b, a FROM e0),
        |nm1 AS (SELECT u, min(v) AS mn FROM d1 GROUP BY 1),
        |m1 AS (SELECT n FROM n0 LEFT JOIN nm1 ON nm1.u = n0.n
        |       WHERE nm1.mn IS NULL OR n0.n < nm1.mn),
        |r1 AS (SELECT n FROM m1 UNION SELECT d.v FROM d1 d JOIN m1 ON d.u = m1.n),
        |n1 AS (SELECT n FROM n0 WHERE n NOT IN (SELECT n FROM r1)),
        |e1 AS (SELECT a, b FROM e0
        |       WHERE a IN (SELECT n FROM n1) AND b IN (SELECT n FROM n1)),
        |d2 AS (SELECT a AS u, b AS v FROM e1 UNION ALL SELECT b, a FROM e1),
        |nm2 AS (SELECT u, min(v) AS mn FROM d2 GROUP BY 1),
        |m2 AS (SELECT n FROM n1 LEFT JOIN nm2 ON nm2.u = n1.n
        |       WHERE nm2.mn IS NULL OR n1.n < nm2.mn),
        |r2 AS (SELECT n FROM m2 UNION SELECT d.v FROM d2 d JOIN m2 ON d.u = m2.n),
        |n2 AS (SELECT n FROM n1 WHERE n NOT IN (SELECT n FROM r2)),
        |e2 AS (SELECT a, b FROM e1
        |       WHERE a IN (SELECT n FROM n2) AND b IN (SELECT n FROM n2)),
        |d3 AS (SELECT a AS u, b AS v FROM e2 UNION ALL SELECT b, a FROM e2),
        |nm3 AS (SELECT u, min(v) AS mn FROM d3 GROUP BY 1),
        |m3 AS (SELECT n FROM n2 LEFT JOIN nm3 ON nm3.u = n2.n
        |       WHERE nm3.mn IS NULL OR n2.n < nm3.mn)
        |SELECT 1 AS round, count(*) AS n_mis,
        |       CAST(coalesce(sum(n), 0) AS BIGINT) AS sum_node FROM m1
        |UNION ALL SELECT 2, count(*), CAST(coalesce(sum(n), 0) AS BIGINT) FROM m2
        |UNION ALL SELECT 3, count(*), CAST(coalesce(sum(n), 0) AS BIGINT) FROM m3""".stripMargin,
    // same canonical co-purchase edges, same three unrolled
    // mutual-min handshake rounds (proposals = min active neighbor,
    // matched = mutual pairs, survivors exclude matched endpoints)
    "q324_greedy_matching" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e0 AS (
        |  SELECT a.pk AS a, b.pk AS b FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |d1 AS (SELECT a AS u, b AS v FROM e0 UNION ALL SELECT b, a FROM e0),
        |p1 AS (SELECT u, min(v) AS v FROM d1 GROUP BY 1),
        |m1 AS (SELECT p.u AS a, p.v AS b FROM p1 p JOIN p1 q
        |       ON q.u = p.v AND q.v = p.u WHERE p.u < p.v),
        |n1 AS (SELECT a AS n FROM m1 UNION SELECT b FROM m1),
        |e1 AS (SELECT a, b FROM e0
        |       WHERE a NOT IN (SELECT n FROM n1) AND b NOT IN (SELECT n FROM n1)),
        |d2 AS (SELECT a AS u, b AS v FROM e1 UNION ALL SELECT b, a FROM e1),
        |p2 AS (SELECT u, min(v) AS v FROM d2 GROUP BY 1),
        |m2 AS (SELECT p.u AS a, p.v AS b FROM p2 p JOIN p2 q
        |       ON q.u = p.v AND q.v = p.u WHERE p.u < p.v),
        |n2 AS (SELECT a AS n FROM m2 UNION SELECT b FROM m2),
        |e2 AS (SELECT a, b FROM e1
        |       WHERE a NOT IN (SELECT n FROM n2) AND b NOT IN (SELECT n FROM n2)),
        |d3 AS (SELECT a AS u, b AS v FROM e2 UNION ALL SELECT b, a FROM e2),
        |p3 AS (SELECT u, min(v) AS v FROM d3 GROUP BY 1),
        |m3 AS (SELECT p.u AS a, p.v AS b FROM p3 p JOIN p3 q
        |       ON q.u = p.v AND q.v = p.u WHERE p.u < p.v)
        |SELECT 1 AS round, count(*) AS n_matched,
        |       CAST(coalesce(sum(a), 0) AS BIGINT) AS sum_a,
        |       CAST(coalesce(sum(b), 0) AS BIGINT) AS sum_b FROM m1
        |UNION ALL SELECT 2, count(*), CAST(coalesce(sum(a), 0) AS BIGINT),
        |       CAST(coalesce(sum(b), 0) AS BIGINT) FROM m2
        |UNION ALL SELECT 3, count(*), CAST(coalesce(sum(a), 0) AS BIGINT),
        |       CAST(coalesce(sum(b), 0) AS BIGINT) FROM m3""".stripMargin,
    // same md5(b|i) mod n draws over the same o_orderkey row order, same
    // rank-5/rank-195 order-statistic CI, same decimal grand-sum estimate
    "q204_bootstrap_ci" ->
      """WITH day AS (
        |  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS dn,
        |         sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
        |  FROM orders GROUP BY 1),
        |r AS (SELECT rev, row_number() OVER (ORDER BY dn) AS rn FROM day),
        |n AS (SELECT count(*) AS n FROM day),
        |d AS (
        |  SELECT g.b,
        |         (CAST(('0x' || substr(md5('graft-bs-' || CAST(g.b AS VARCHAR) ||
        |                '|' || CAST(r.rn AS VARCHAR)), 1, 13)) AS BIGINT)
        |          % n.n) + 1 AS j
        |  FROM r CROSS JOIN n CROSS JOIN (SELECT unnest(range(1, 201)) AS b) g),
        |s AS (
        |  SELECT d.b, sum(r2.rev) AS sp, count(*) AS nb
        |  FROM d JOIN r r2 ON r2.rn = d.j GROUP BY d.b),
        |m AS (
        |  SELECT sp, nb, CAST(sp AS DOUBLE) / nb AS m,
        |         row_number() OVER (ORDER BY CAST(sp AS DOUBLE) / nb, b) AS rk
        |  FROM s)
        |SELECT count(*) AS b_reps,
        |       round(CAST(sum(sp) AS DOUBLE) / CAST(sum(nb) AS BIGINT), 6) AS boot_mean,
        |       round(max(CASE WHEN rk = 5 THEN m END), 6) AS lo95,
        |       round(max(CASE WHEN rk = 195 THEN m END), 6) AS hi95
        |FROM m""".stripMargin,
    // same q178 candidate pairs, recursive closure in place of the
    // pointer-doubling rounds, same min-custkey survivorship
    "q205_golden_record" ->
      """WITH RECURSIVE s AS (
        |  SELECT c_custkey, c_name,
        |         lead(c_name, 1) OVER w AS n1,
        |         lead(c_custkey, 1) OVER w AS k1,
        |         lead(c_name, 2) OVER w AS n2,
        |         lead(c_custkey, 2) OVER w AS k2
        |  FROM customer
        |  WINDOW w AS (ORDER BY c_name, c_custkey)),
        |p0 AS (
        |  SELECT c_custkey AS id_a, k1 AS id_b,
        |         levenshtein(c_name, n1) AS dist FROM s WHERE k1 IS NOT NULL
        |  UNION ALL
        |  SELECT c_custkey AS id_a, k2 AS id_b,
        |         levenshtein(c_name, n2) AS dist FROM s WHERE k2 IS NOT NULL),
        |p AS (SELECT id_a, id_b FROM p0 WHERE dist <= 2),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM p
        |          UNION SELECT id_b, id_a FROM p),
        |reach AS (
        |  SELECT src AS id, src AS r FROM edges
        |  UNION
        |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
        |comp AS (SELECT id, min(r) AS canon_id FROM reach GROUP BY id)
        |SELECT comp.canon_id, c.c_name AS canon_name,
        |       count(*) AS n_members, CAST(sum(comp.id) AS BIGINT) AS member_checksum
        |FROM comp JOIN customer c ON c.c_custkey = comp.canon_id
        |GROUP BY 1, 2""".stripMargin,
    // same support-2 co-purchase edges, same 5 synchronous rounds,
    // same (count DESC, label ASC) vote rule
    "q199_label_propagation" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e0 AS (
        |  SELECT a.pk AS a, b.pk AS b FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0),
        |r0 AS (SELECT DISTINCT a AS node, a AS label FROM e),
        |c1 AS (SELECT e.a AS node, l.label, count(*) AS c FROM e JOIN r0 l ON e.b = l.node GROUP BY 1, 2),
        |r1 AS (SELECT node, label FROM (SELECT node, label, row_number() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rn FROM c1) WHERE rn = 1),
        |c2 AS (SELECT e.a AS node, l.label, count(*) AS c FROM e JOIN r1 l ON e.b = l.node GROUP BY 1, 2),
        |r2 AS (SELECT node, label FROM (SELECT node, label, row_number() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rn FROM c2) WHERE rn = 1),
        |c3 AS (SELECT e.a AS node, l.label, count(*) AS c FROM e JOIN r2 l ON e.b = l.node GROUP BY 1, 2),
        |r3 AS (SELECT node, label FROM (SELECT node, label, row_number() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rn FROM c3) WHERE rn = 1),
        |c4 AS (SELECT e.a AS node, l.label, count(*) AS c FROM e JOIN r3 l ON e.b = l.node GROUP BY 1, 2),
        |r4 AS (SELECT node, label FROM (SELECT node, label, row_number() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rn FROM c4) WHERE rn = 1),
        |c5 AS (SELECT e.a AS node, l.label, count(*) AS c FROM e JOIN r4 l ON e.b = l.node GROUP BY 1, 2),
        |r5 AS (SELECT node, label FROM (SELECT node, label, row_number() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rn FROM c5) WHERE rn = 1)
        |SELECT label AS community, count(*) AS n_nodes FROM r5 GROUP BY 1""".stripMargin,
    // same four measures UNION ALL'd long, same exact-decimal agg
    "q200_unpivot" ->
      """WITH long AS (
        |  SELECT l_returnflag, 'quantity' AS metric,
        |         CAST(l_quantity AS DECIMAL(18,4)) AS value FROM lineitem
        |  UNION ALL
        |  SELECT l_returnflag, 'extendedprice',
        |         CAST(l_extendedprice AS DECIMAL(18,4)) FROM lineitem
        |  UNION ALL
        |  SELECT l_returnflag, 'discount',
        |         CAST(l_discount AS DECIMAL(18,4)) FROM lineitem
        |  UNION ALL
        |  SELECT l_returnflag, 'tax',
        |         CAST(l_tax AS DECIMAL(18,4)) FROM lineitem)
        |SELECT l_returnflag, metric, count(*) AS n_rows,
        |  round(CAST(sum(value) AS DOUBLE), 2) AS total,
        |  round(CAST(sum(value) AS DOUBLE) / count(*), 6) AS mean
        |FROM long GROUP BY 1, 2""".stripMargin,
    // same exact-decimal revenue, same cum·100 vs total·80/95 integer
    // class boundaries over the same (rev DESC, partkey) order
    "q195_abc_classes" ->
      """WITH rev AS (
        |  SELECT l_partkey,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |        (1 - CAST(l_discount AS DECIMAL(18,4)))) AS rev
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT sum(rev) AS trev FROM rev),
        |c AS (
        |  SELECT rev, trev,
        |    sum(rev) OVER (ORDER BY rev DESC, l_partkey
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM rev CROSS JOIN t),
        |cls AS (
        |  SELECT CASE WHEN cum * 100 <= trev * 80 THEN 'A'
        |              WHEN cum * 100 <= trev * 95 THEN 'B'
        |              ELSE 'C' END AS abc_class, rev, trev
        |  FROM c)
        |SELECT abc_class, count(*) AS n_parts,
        |  round(CAST(sum(rev) AS DOUBLE), 2) AS revenue,
        |  round(CAST(sum(rev) AS DOUBLE) / CAST(max(trev) AS DOUBLE), 6) AS rev_share
        |FROM cls GROUP BY 1""".stripMargin,
    // same doubled-integer-cents median, same tie exclusion, same
    // run-boundary count and closed-form z
    "q196_runs_test" ->
      """WITH day AS (
        |  SELECT o_orderdate AS d,
        |         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS x
        |  FROM orders GROUP BY 1),
        |nn AS (SELECT count(*) AS n FROM day),
        |rk AS (
        |  SELECT x, row_number() OVER (ORDER BY x, d) AS r FROM day),
        |med AS (
        |  SELECT sum(x) * (CASE WHEN (n + 1) // 2 = (n + 2) // 2 THEN 2 ELSE 1 END)
        |           AS med2
        |  FROM rk CROSS JOIN nn
        |  WHERE r = (n + 1) // 2 OR r = (n + 2) // 2
        |  GROUP BY n),
        |sg AS (
        |  SELECT d, CAST(x * 2 > med2 AS INT) AS s
        |  FROM day CROSS JOIN med WHERE x * 2 <> med2),
        |lg AS (
        |  SELECT s, lag(s, 1) OVER (ORDER BY d) AS prev FROM sg)
        |SELECT CAST(sum(s) AS BIGINT) AS n1,
        |  CAST(sum(1 - s) AS BIGINT) AS n2,
        |  CAST(sum(CASE WHEN prev IS NULL OR prev <> s THEN 1 ELSE 0 END) AS BIGINT)
        |    AS runs,
        |  round((CAST(sum(CASE WHEN prev IS NULL OR prev <> s THEN 1 ELSE 0 END)
        |            AS DOUBLE)
        |         - (2.0 * sum(s) * sum(1 - s) / count(*) + 1))
        |        / sqrt(2.0 * sum(s) * sum(1 - s)
        |               * (2.0 * sum(s) * sum(1 - s) - sum(s) - sum(1 - s))
        |               / (CAST(count(*) AS DOUBLE) * count(*) * (count(*) - 1))), 6)
        |    AS z
        |FROM lg""".stripMargin,
    // same integer-cents revenue, same (rev DESC, custkey) top-k+1,
    // same 1e9-quantized ln sums
    "q197_hill_tail" ->
      """WITH rev AS (
        |  SELECT o_custkey,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
        |  FROM orders GROUP BY 1
        |  HAVING sum(CAST(round(o_totalprice * 100) AS BIGINT)) > 0),
        |top AS (
        |  SELECT x, CAST(round(ln(CAST(x AS DOUBLE)) * 1e9) AS BIGINT) AS lnx,
        |         row_number() OVER (ORDER BY x DESC, o_custkey) AS r
        |  FROM rev),
        |tail AS (SELECT x AS x_tail, lnx AS ln_tail FROM top WHERE r = 101),
        |hd AS (SELECT sum(lnx) AS s_ln, count(*) AS kk FROM top WHERE r <= 100)
        |SELECT kk AS k, x_tail AS x_kplus1_cents,
        |  round(CAST(kk AS DOUBLE) * 1e9 / CAST(s_ln - kk * ln_tail AS DOUBLE), 6)
        |    AS hill_alpha
        |FROM hd CROSS JOIN tail""".stripMargin,
    // same integer-cents series, same n²-scaled mean-free closed form
    // (HUGEINT is DuckDB's exact int128 twin of the DECIMAL(38,0) sums)
    "q190_acf" ->
      """WITH day AS (
        |  SELECT o_orderdate AS d,
        |         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS x
        |  FROM orders GROUP BY 1),
        |lagged AS (
        |  SELECT x,
        |    lag(x, 1) OVER (ORDER BY d) AS l1, lag(x, 2) OVER (ORDER BY d) AS l2,
        |    lag(x, 3) OVER (ORDER BY d) AS l3, lag(x, 4) OVER (ORDER BY d) AS l4,
        |    lag(x, 5) OVER (ORDER BY d) AS l5, lag(x, 6) OVER (ORDER BY d) AS l6,
        |    lag(x, 7) OVER (ORDER BY d) AS l7
        |  FROM day),
        |m AS (
        |  SELECT CAST(count(*) AS HUGEINT) AS n,
        |    sum(CAST(x AS HUGEINT)) AS s, sum(CAST(x AS HUGEINT) * x) AS sxx,
        |    sum(CAST(x AS HUGEINT) * l1) AS sp1, sum(CASE WHEN l1 IS NOT NULL THEN CAST(x AS HUGEINT) END) AS sa1, sum(CAST(l1 AS HUGEINT)) AS sb1, CAST(count(l1) AS HUGEINT) AS m1,
        |    sum(CAST(x AS HUGEINT) * l2) AS sp2, sum(CASE WHEN l2 IS NOT NULL THEN CAST(x AS HUGEINT) END) AS sa2, sum(CAST(l2 AS HUGEINT)) AS sb2, CAST(count(l2) AS HUGEINT) AS m2,
        |    sum(CAST(x AS HUGEINT) * l3) AS sp3, sum(CASE WHEN l3 IS NOT NULL THEN CAST(x AS HUGEINT) END) AS sa3, sum(CAST(l3 AS HUGEINT)) AS sb3, CAST(count(l3) AS HUGEINT) AS m3,
        |    sum(CAST(x AS HUGEINT) * l4) AS sp4, sum(CASE WHEN l4 IS NOT NULL THEN CAST(x AS HUGEINT) END) AS sa4, sum(CAST(l4 AS HUGEINT)) AS sb4, CAST(count(l4) AS HUGEINT) AS m4,
        |    sum(CAST(x AS HUGEINT) * l5) AS sp5, sum(CASE WHEN l5 IS NOT NULL THEN CAST(x AS HUGEINT) END) AS sa5, sum(CAST(l5 AS HUGEINT)) AS sb5, CAST(count(l5) AS HUGEINT) AS m5,
        |    sum(CAST(x AS HUGEINT) * l6) AS sp6, sum(CASE WHEN l6 IS NOT NULL THEN CAST(x AS HUGEINT) END) AS sa6, sum(CAST(l6 AS HUGEINT)) AS sb6, CAST(count(l6) AS HUGEINT) AS m6,
        |    sum(CAST(x AS HUGEINT) * l7) AS sp7, sum(CASE WHEN l7 IS NOT NULL THEN CAST(x AS HUGEINT) END) AS sa7, sum(CAST(l7 AS HUGEINT)) AS sb7, CAST(count(l7) AS HUGEINT) AS m7
        |  FROM lagged),
        |k AS (
        |  SELECT unnest([1,2,3,4,5,6,7]) AS lag,
        |    unnest([m1,m2,m3,m4,m5,m6,m7]) AS mk,
        |    unnest([sp1,sp2,sp3,sp4,sp5,sp6,sp7]) AS spk,
        |    unnest([sa1,sa2,sa3,sa4,sa5,sa6,sa7]) AS sak,
        |    unnest([sb1,sb2,sb3,sb4,sb5,sb6,sb7]) AS sbk,
        |    n, s, sxx
        |  FROM m)
        |SELECT lag, CAST(mk AS BIGINT) AS n_pairs,
        |  round(CAST(n * n * spk - n * s * (sak + sbk) + mk * s * s AS DOUBLE)
        |        / CAST(n * (n * sxx - s * s) AS DOUBLE), 6) AS acf
        |FROM k""".stripMargin,
    // same integer-cents day series; the coupled (l, b) fold runs as a
    // RECURSIVE CTE (DuckDB's list_reduce rebinds struct accumulator
    // fields mid-row — the 'b' expression would see the NEW 'l' — so a
    // struct-lambda fold is NOT Spark's pure fold); scalar error folds
    // via list_reduce are hazard-free, same /7 /100 finishes
    "q251_holt_backtest" ->
      """WITH RECURSIVE day AS (
        |  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS dn,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |ser AS (
        |  SELECT list(CAST(cents AS DOUBLE) ORDER BY dn) AS xs,
        |         count(*) AS n FROM day),
        |fold AS (
        |  SELECT 1 AS i, xs[1] AS l, CAST(0 AS DOUBLE) AS b FROM ser
        |  UNION ALL
        |  SELECT f.i + 1,
        |         (s.xs[f.i + 1] + f.l + f.b) / 2,
        |         ((s.xs[f.i + 1] + f.l + f.b) / 2 - f.l + f.b) / 2
        |  FROM fold f, ser s WHERE f.i < s.n - 7),
        |st AS (
        |  SELECT s.n, f.l, f.b, list_slice(s.xs, s.n - 6, s.n) AS test
        |  FROM ser s JOIN fold f ON f.i = s.n - 7)
        |SELECT CAST(n AS BIGINT) AS n_days,
        |       round(l / 100.0, 6) AS level,
        |       round(b / 100.0, 6) AS trend,
        |       round(list_reduce(
        |               list_transform(range(1, 8),
        |                 h -> abs(l + h * b - test[CAST(h AS INT)])),
        |               (a, x) -> a + x) / 7.0 / 100.0, 6) AS mae_7,
        |       round(list_reduce(
        |               list_transform(test, x -> abs(l - x)),
        |               (a, x) -> a + x) / 7.0 / 100.0, 6) AS naive_mae_7
        |FROM st""".stripMargin,
    // the naive min-over-qualifying-join definition of forward as-of —
    // the driver compare proves the union-window plan equals it
    "q252_next_purchase" ->
      """WITH v AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS view_us
        |  FROM events WHERE event_type = 'view'),
        |p AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) AS p_us
        |  FROM events WHERE event_type = 'purchase')
        |SELECT v.user_id, v.event_id, v.view_us,
        |       min(p.p_us) AS next_purchase_us,
        |       min(p.p_us) - v.view_us AS gap_us
        |FROM v LEFT JOIN p
        |  ON p.user_id = v.user_id AND p.p_us >= v.view_us
        |GROUP BY 1, 2, 3""".stripMargin,
    // same six rule predicates folded per table scan; uniqueness via the
    // same distinct-count subtraction (BIGINT − BIGINT stays BIGINT)
    "q239_expectations" ->
      """WITH ofc AS (
        |  SELECT count(*) AS o_n,
        |    count(*) FILTER (o_totalprice IS NULL OR o_totalprice <= 0) AS f_price,
        |    count(*) FILTER (o_orderdate IS NULL
        |                     OR o_orderdate < TIMESTAMP '1995-01-01'
        |                     OR o_orderdate >= TIMESTAMP '2001-01-01') AS f_date,
        |    count(*) FILTER (o_orderstatus IS NULL
        |                     OR o_orderstatus NOT IN ('O', 'F', 'P')) AS f_status
        |  FROM orders),
        |lfc AS (
        |  SELECT count(*) AS l_n,
        |    count(*) FILTER (l_quantity IS NULL
        |                     OR l_quantity < 1 OR l_quantity > 50) AS f_qty,
        |    count(*) FILTER (l_discount IS NULL
        |                     OR l_discount < 0 OR l_discount > 0.08) AS f_disc
        |  FROM lineitem),
        |ufc AS (SELECT count(*) AS l_distinct FROM
        |        (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)),
        |f AS (SELECT * FROM ofc CROSS JOIN lfc CROSS JOIN ufc),
        |rules AS (
        |  SELECT 'o_price_positive' AS rule, o_n AS n_checked, f_price AS n_failed FROM f
        |  UNION ALL SELECT 'o_date_range', o_n, f_date FROM f
        |  UNION ALL SELECT 'o_status_domain', o_n, f_status FROM f
        |  UNION ALL SELECT 'l_quantity_range', l_n, f_qty FROM f
        |  UNION ALL SELECT 'l_discount_max', l_n, f_disc FROM f
        |  UNION ALL SELECT 'l_line_unique', l_n, l_n - l_distinct FROM f)
        |SELECT rule, n_checked, n_failed,
        |  coalesce(round((n_checked - n_failed) * 1.0 / NULLIF(n_checked, 0), 6),
        |           CAST(0 AS DOUBLE)) AS pass_rate
        |FROM rules""".stripMargin,
    // same integer-cents clamp over the same (date, orderkey) total order
    "q192_fifo_allocation" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_custkey, o_orderdate,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS price,
        |         coalesce(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
        |           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS spent
        |  FROM orders),
        |j AS (
        |  SELECT o.o_orderkey, o.o_custkey,
        |         CAST(greatest(0, least(CAST(round(c.c_acctbal * 100) AS BIGINT) - o.spent,
        |                                o.price)) AS BIGINT) AS alloc_cents,
        |         o.price AS price_cents
        |  FROM o JOIN customer c ON o.o_custkey = c.c_custkey)
        |SELECT o_orderkey, o_custkey, alloc_cents, price_cents,
        |       CAST(alloc_cents = price_cents AS INT) AS fully_covered
        |FROM j WHERE alloc_cents > 0""".stripMargin,
    // same avg-rank×2 integerization, same DECIMAL(38,0) moments, same
    // closed-form Pearson-on-ranks
    "q188_spearman" ->
      """WITH r AS (
        |  SELECT l_returnflag AS flag,
        |    2 * rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
        |      + count(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1 AS rx,
        |    2 * rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
        |      + count(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1 AS ry
        |  FROM lineitem),
        |m AS (
        |  SELECT flag, count(*) AS n,
        |    sum(CAST(rx AS DECIMAL(38,0))) AS sx,
        |    sum(CAST(ry AS DECIMAL(38,0))) AS sy,
        |    sum(CAST(rx AS DECIMAL(38,0)) * ry) AS sxy,
        |    sum(CAST(rx AS DECIMAL(38,0)) * rx) AS sxx,
        |    sum(CAST(ry AS DECIMAL(38,0)) * ry) AS syy
        |  FROM r GROUP BY 1)
        |SELECT flag AS l_returnflag, n AS n_rows,
        |  round(CAST(n * sxy - sx * sy AS DOUBLE) /
        |        sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
        |             CAST(n * syy - sy * sy AS DOUBLE)), 6) AS spearman_rho
        |FROM m""".stripMargin,
    // same exact-decimal daily revenue, same sign-pair sum over date
    // order, same tau-a normalization
    "q189_mann_kendall" ->
      """WITH day AS (
        |  SELECT o_orderdate AS d, sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
        |  FROM orders GROUP BY 1),
        |s AS (
        |  SELECT CAST(sum(CASE WHEN b.rev > a.rev THEN 1
        |                       WHEN b.rev < a.rev THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
        |  FROM day a JOIN day b ON a.d < b.d),
        |n AS (SELECT count(*) AS n_days FROM day)
        |SELECT n_days, s_stat,
        |  round(CAST(s_stat AS DOUBLE) / (n_days * (n_days - 1) / 2), 6) AS tau_a
        |FROM n CROSS JOIN s""".stripMargin,
    // same rank-at-⌈q·n⌉ quartile picks, same two-IEEE-op fences, same
    // exact outlier comparisons
    "q183_five_number" ->
      """WITH r AS (
        |  SELECT event_type, value,
        |         row_number() OVER (PARTITION BY event_type
        |                            ORDER BY value, event_id) AS rn,
        |         count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events),
        |q AS (
        |  SELECT event_type, max(n) AS n, min(value) AS vmin,
        |         max(CASE WHEN rn = ceil(n * 0.25) THEN value END) AS q1,
        |         max(CASE WHEN rn = ceil(n * 0.5) THEN value END) AS med,
        |         max(CASE WHEN rn = ceil(n * 0.75) THEN value END) AS q3,
        |         max(value) AS vmax
        |  FROM r GROUP BY 1),
        |f AS (SELECT *, q1 - (q3 - q1) * 1.5 AS lo, q3 + (q3 - q1) * 1.5 AS hi
        |      FROM q),
        |o AS (
        |  SELECT e.event_type, count(*) AS n_outliers
        |  FROM events e JOIN f ON f.event_type = e.event_type
        |  WHERE e.value < f.lo OR e.value > f.hi GROUP BY 1)
        |SELECT f.event_type, f.n, f.vmin, f.q1, f.med, f.q3, f.vmax,
        |       coalesce(o.n_outliers, 0) AS n_outliers
        |FROM f LEFT JOIN o ON o.event_type = f.event_type""".stripMargin,
    // same user-day dedup, same 7-target fanout, inner-joined to real
    // activity days
    "q184_stickiness" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day_num
        |  FROM events),
        |dau AS (SELECT day_num, count(*) AS dau FROM ud GROUP BY 1),
        |fan AS (
        |  SELECT DISTINCT user_id, day_num + off AS day_num
        |  FROM ud CROSS JOIN (SELECT unnest(range(0, 7)) AS off)),
        |wau AS (SELECT day_num, count(*) AS wau FROM fan GROUP BY 1)
        |SELECT d.day_num, d.dau, w.wau,
        |       round(CAST(d.dau AS DOUBLE) / w.wau, 6) AS stickiness
        |FROM dau d JOIN wau w ON w.day_num = d.day_num""".stripMargin,
    // same first-day rule over the same user-day dedup
    "q185_new_returning" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day_num
        |  FROM events),
        |f AS (SELECT user_id, min(day_num) AS first_day FROM ud GROUP BY 1)
        |SELECT ud.day_num, count(*) AS n_users,
        |       CAST(sum(CASE WHEN ud.day_num = f.first_day THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_new,
        |       CAST(count(*) - sum(CASE WHEN ud.day_num = f.first_day THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_returning
        |FROM ud JOIN f ON f.user_id = ud.user_id
        |GROUP BY 1""".stripMargin,
    // same (c_name, c_custkey) total order, same w=2 lead pairing, same
    // exact Levenshtein threshold
    "q178_sorted_neighborhood" ->
      """WITH s AS (
        |  SELECT c_custkey, c_name,
        |         lead(c_name, 1) OVER w AS n1,
        |         lead(c_custkey, 1) OVER w AS k1,
        |         lead(c_name, 2) OVER w AS n2,
        |         lead(c_custkey, 2) OVER w AS k2
        |  FROM customer
        |  WINDOW w AS (ORDER BY c_name, c_custkey)),
        |p AS (
        |  SELECT c_custkey AS id_a, k1 AS id_b,
        |         levenshtein(c_name, n1) AS dist FROM s WHERE k1 IS NOT NULL
        |  UNION ALL
        |  SELECT c_custkey AS id_a, k2 AS id_b,
        |         levenshtein(c_name, n2) AS dist FROM s WHERE k2 IS NOT NULL)
        |SELECT id_a, id_b, dist FROM p WHERE dist <= 2""".stripMargin,
    // same ascending (rev, custkey) ntile order, decimal sums, one
    // final division per share
    "q180_lorenz_curve" ->
      """WITH rev AS (
        |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
        |  FROM orders GROUP BY 1),
        |dec AS (
        |  SELECT ntile(10) OVER (ORDER BY rev, o_custkey) AS decile, rev
        |  FROM rev),
        |g AS (SELECT decile, count(*) AS n_customers, sum(rev) AS drev
        |      FROM dec GROUP BY 1),
        |t AS (SELECT sum(drev) AS trev FROM g)
        |SELECT decile, n_customers,
        |       round(CAST(drev AS DOUBLE) / CAST(trev AS DOUBLE), 6) AS rev_share,
        |       round(CAST(sum(drev) OVER (ORDER BY decile
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |             AS DOUBLE) / CAST(trev AS DOUBLE), 6) AS cum_share
        |FROM g CROSS JOIN t""".stripMargin,
    // same (metric, custkey) total orders under the same SQL ntile
    // semantics; monetary ordered and summed as exact decimal
    "q173_rfm_segments" ->
      """WITH mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS maxd FROM orders),
        |per AS (
        |  SELECT o_custkey,
        |         CAST(maxd - max(CAST(o_orderdate AS DATE)) AS INT) AS r_days,
        |         count(*) AS f,
        |         sum(CAST(o_totalprice AS DECIMAL(18,4))) AS m
        |  FROM orders CROSS JOIN mx GROUP BY o_custkey, maxd),
        |q AS (
        |  SELECT ntile(5) OVER (ORDER BY r_days, o_custkey) AS r_q,
        |         ntile(5) OVER (ORDER BY f DESC, o_custkey) AS f_q,
        |         ntile(5) OVER (ORDER BY m DESC, o_custkey) AS m_q,
        |         m
        |  FROM per)
        |SELECT r_q, f_q, m_q, count(*) AS n_customers,
        |       round(CAST(sum(m) AS DOUBLE) / count(*), 6) AS avg_monetary
        |FROM q GROUP BY 1, 2, 3""".stripMargin,
    // same integer day-number RANGE frame over the same exact-decimal
    // daily sums
    "q174_rolling_revenue" ->
      """WITH daily AS (
        |  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day_num,
        |         sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
        |  FROM orders GROUP BY 1)
        |SELECT day_num, CAST(rev AS DOUBLE) AS rev,
        |       CAST(sum(rev) OVER w AS DOUBLE) AS rev7,
        |       count(*) OVER w AS nd7
        |FROM daily
        |WINDOW w AS (ORDER BY day_num
        |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin,
    // same 30-day censoring rule, same integer at-risk counts, same
    // 1e9-quantized ln terms and n=d → sentinel-zero survival
    "q175_kaplan_meier" ->
      """WITH mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS maxd FROM orders),
        |per AS (
        |  SELECT CAST(max(CAST(o_orderdate AS DATE))
        |              - min(CAST(o_orderdate AS DATE)) AS INT) AS dur,
        |         CASE WHEN CAST(maxd - max(CAST(o_orderdate AS DATE)) AS INT) >= 30
        |              THEN 1 ELSE 0 END AS obs
        |  FROM orders CROSS JOIN mx GROUP BY o_custkey, maxd),
        |grp AS (SELECT dur, count(*) AS m, sum(obs) AS d FROM per GROUP BY 1),
        |tot AS (SELECT sum(m) AS n_total FROM grp),
        |risk AS (
        |  SELECT dur, m, d,
        |         n_total - coalesce(sum(m) OVER (ORDER BY dur
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
        |  FROM grp CROSS JOIN tot),
        |ev AS (
        |  SELECT dur, n_risk, d, m - d AS n_censored,
        |         CASE WHEN n_risk = d THEN -1000000000000000
        |              ELSE CAST(round(ln(CAST(n_risk - d AS DOUBLE) / n_risk) * 1e9) AS BIGINT)
        |         END AS term_fp
        |  FROM risk WHERE d >= 1)
        |SELECT dur AS dur_days, CAST(n_risk AS BIGINT) AS n_risk,
        |       CAST(d AS BIGINT) AS n_events, CAST(n_censored AS BIGINT) AS n_censored,
        |       round(exp(CAST(sum(term_fp) OVER (ORDER BY dur
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |         / 1e9), 6) AS survival
        |FROM ev""".stripMargin,
    // same (ts, event_id)-pinned gap order, same floored integer-second
    // gaps, same decimal variance closed form
    "q176_burstiness" ->
      """WITH g AS (
        |  SELECT user_id,
        |         (epoch_us(ts) - lag(epoch_us(ts)) OVER
        |            (PARTITION BY user_id ORDER BY ts, event_id)) // 1000000 AS gap_s
        |  FROM events),
        |a AS (
        |  SELECT user_id, count(*) AS n_gaps,
        |         sum(gap_s) AS sx,
        |         sum(CAST(gap_s AS DECIMAL(38,6)) * gap_s) AS sxx
        |  FROM g WHERE gap_s IS NOT NULL
        |  GROUP BY 1 HAVING count(*) >= 2),
        |s AS (
        |  SELECT user_id, n_gaps,
        |         CAST(sx AS DOUBLE) / n_gaps AS mu,
        |         sqrt(CAST((CAST(n_gaps AS DECIMAL(38,6)) * sxx
        |               - CAST(sx AS DECIMAL(38,6)) * sx)
        |              / (CAST(n_gaps AS DECIMAL(38,6)) * n_gaps) AS DOUBLE)) AS sigma
        |  FROM a)
        |SELECT user_id, n_gaps, round(mu, 6) AS mean_gap_s,
        |       CASE WHEN mu > 0 THEN round(sigma / mu, 6) END AS cv,
        |       CASE WHEN sigma + mu > 0
        |            THEN round((sigma - mu) / (sigma + mu), 6) END AS burstiness
        |FROM s""".stripMargin,
    // same user-parity variant split and pooled-z closed form over the
    // same four exact integer counts
    "q161_ab_test" ->
      """WITH u AS (
        |  SELECT user_id,
        |         max(CASE WHEN event_type = 'purchase' AND value > 80 THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY 1),
        |g AS (
        |  SELECT CAST(user_id % 2 AS INT) AS variant,
        |         count(*) AS n_users, sum(conv) AS n_conv
        |  FROM u GROUP BY 1),
        |one AS (
        |  SELECT sum(n_users) FILTER (variant = 0) AS n_a,
        |         sum(n_conv)  FILTER (variant = 0) AS c_a,
        |         sum(n_users) FILTER (variant = 1) AS n_b,
        |         sum(n_conv)  FILTER (variant = 1) AS c_b
        |  FROM g)
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(c_a AS BIGINT) AS c_a,
        |  CAST(n_b AS BIGINT) AS n_b, CAST(c_b AS BIGINT) AS c_b,
        |  round(CAST(c_a AS DOUBLE) / n_a, 6) AS rate_a,
        |  round(CAST(c_b AS DOUBLE) / n_b, 6) AS rate_b,
        |  round(CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b, 6) AS lift,
        |  round((CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
        |        / sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
        |               * (1.0 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
        |               * (1.0 / n_a + 1.0 / n_b)), 6) AS z
        |FROM one""".stripMargin,
    // same decimal-exact moments, same closed form per group
    "q167_groupwise_ols" ->
      """WITH m AS (
        |  SELECT l_returnflag,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(38,8))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(38,8))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(38,8))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(38,8))) AS DOUBLE) AS sxx
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
        |  round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6) AS intercept
        |FROM m""".stripMargin,
    // same integer-cents digit extraction, same closed-form expectation
    "q168_benford" ->
      """WITH g AS (
        |  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
        |         count(*) AS n
        |  FROM orders WHERE o_totalprice > 0 GROUP BY 1),
        |t AS (SELECT sum(n) AS tot FROM g)
        |SELECT digit, n,
        |       round(CAST(n AS DOUBLE) / tot, 6) AS obs_share,
        |       round(log10(1.0 + 1.0 / digit), 6) AS exp_share
        |FROM g CROSS JOIN t""".stripMargin,
    // same exact-decimal revenue, same rank formula over the same
    // (rev, custkey) total order
    "q169_gini" ->
      """WITH rev AS (
        |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
        |  FROM orders GROUP BY 1),
        |r AS (
        |  SELECT rev, row_number() OVER (ORDER BY rev, o_custkey) AS i
        |  FROM rev),
        |a AS (
        |  SELECT count(*) AS n, sum(rev) AS srev,
        |         sum(CAST(i AS DECIMAL(38,6)) * rev) AS sirev
        |  FROM r)
        |SELECT n AS n_customers,
        |       round(2.0 * CAST(sirev AS DOUBLE) / (n * CAST(srev AS DOUBLE))
        |             - CAST(n + 1 AS DOUBLE) / n, 6) AS gini
        |FROM a""".stripMargin,
    // same integer-scaled prefix sum over the same day order; division
    // by D deferred to the final per-row select
    "q171_cusum_changepoint" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, count(*) AS n
        |  FROM events WHERE event_type = 'error' GROUP BY 1),
        |t AS (SELECT sum(n) AS t, count(*) AS d FROM daily)
        |SELECT CAST(day - DATE '1970-01-01' AS INT) AS day_num, n,
        |       round(CAST(sum(n * d - t) OVER (ORDER BY day
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |             AS DOUBLE) / d, 6) AS cusum
        |FROM daily CROSS JOIN t""".stripMargin,
    // same 0=Sunday numbering, same exact-decimal sums and ratio form
    "q172_dow_seasonality" ->
      """WITH p AS (
        |  SELECT dayofweek(ts) AS dow, CAST(value AS DECIMAL(18,4)) AS v
        |  FROM events WHERE event_type = 'purchase'),
        |g AS (SELECT dow, count(*) AS n, sum(v) AS sv FROM p GROUP BY 1),
        |t AS (SELECT sum(n) AS tn, sum(sv) AS tv FROM g)
        |SELECT dow, n,
        |       round(CAST(sv AS DOUBLE) / n, 6) AS mean_value,
        |       round((CAST(sv AS DOUBLE) / n)
        |             / (CAST(tv AS DOUBLE) / tn), 6) AS seasonality
        |FROM g CROSS JOIN t""".stripMargin,
    // same first-view → first-later-purchase lag in integer microseconds,
    // same rank-at-⌈q·n⌉ percentile picks
    "q163_conversion_lag" ->
      """WITH fv AS (
        |  SELECT user_id, min(ts) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |lg AS (
        |  SELECT e.user_id,
        |         epoch_us(min(e.ts)) - epoch_us(fv.t_view) AS lag_us
        |  FROM events e JOIN fv ON fv.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > fv.t_view
        |  GROUP BY e.user_id, fv.t_view),
        |r AS (
        |  SELECT lag_us,
        |         row_number() OVER (ORDER BY lag_us, user_id) AS rn,
        |         count(*) OVER () AS n
        |  FROM lg)
        |SELECT count(*) AS n_users,
        |       round(CAST(sum(lag_us) AS DOUBLE) / count(*) / 1000000.0, 6) AS avg_sec,
        |       round(CAST(max(CASE WHEN rn = ceil(n * 0.5) THEN lag_us END) AS DOUBLE)
        |             / 1000000.0, 6) AS p50_sec,
        |       round(CAST(max(CASE WHEN rn = ceil(n * 0.9) THEN lag_us END) AS DOUBLE)
        |             / 1000000.0, 6) AS p90_sec
        |FROM r""".stripMargin,
    // identical bin arithmetic: edges from the same global min/max, the
    // same (p-mn)/((mx-mn)/10.0) double division, the same 1e-6 clamp
    "q157_psi_drift" ->
      """WITH b AS (
        |  SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx FROM orders),
        |d AS (
        |  SELECT CAST(least(floor((o_totalprice - mn) / ((mx - mn) / 10.0)), 9) AS INT) AS bin,
        |         o_orderdate < DATE '1998-01-01' AS in_a
        |  FROM orders CROSS JOIN b),
        |g AS (
        |  SELECT bin, count(*) FILTER (in_a) AS n_a,
        |         count(*) FILTER (NOT in_a) AS n_b
        |  FROM d GROUP BY bin),
        |t AS (SELECT CAST(sum(n_a) AS DOUBLE) AS ta,
        |             CAST(sum(n_b) AS DOUBLE) AS tb FROM g)
        |SELECT bin, n_a, n_b,
        |       round((CAST(n_a AS DOUBLE) / ta - CAST(n_b AS DOUBLE) / tb)
        |             * ln(greatest(CAST(n_a AS DOUBLE) / ta, 1e-6)
        |                  / greatest(CAST(n_b AS DOUBLE) / tb, 1e-6)), 6) AS psi_term
        |FROM g CROSS JOIN t""".stripMargin,
    // same moment sums (double products cast to DECIMAL(38,8) before the
    // order-independent SUM), same closed-form correlation expression
    "q158_corr_matrix" ->
      """WITH m AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(38,8))) AS DOUBLE) AS s_q,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(38,8))) AS DOUBLE) AS s_e,
        |    CAST(sum(CAST(l_discount AS DECIMAL(38,8))) AS DOUBLE) AS s_d,
        |    CAST(sum(CAST(l_tax AS DECIMAL(38,8))) AS DOUBLE) AS s_t,
        |    CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(38,8))) AS DOUBLE) AS s_qq,
        |    CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,8))) AS DOUBLE) AS s_ee,
        |    CAST(sum(CAST(l_discount * l_discount AS DECIMAL(38,8))) AS DOUBLE) AS s_dd,
        |    CAST(sum(CAST(l_tax * l_tax AS DECIMAL(38,8))) AS DOUBLE) AS s_tt,
        |    CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(38,8))) AS DOUBLE) AS s_qe,
        |    CAST(sum(CAST(l_quantity * l_discount AS DECIMAL(38,8))) AS DOUBLE) AS s_qd,
        |    CAST(sum(CAST(l_quantity * l_tax AS DECIMAL(38,8))) AS DOUBLE) AS s_qt,
        |    CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(38,8))) AS DOUBLE) AS s_ed,
        |    CAST(sum(CAST(l_extendedprice * l_tax AS DECIMAL(38,8))) AS DOUBLE) AS s_et,
        |    CAST(sum(CAST(l_discount * l_tax AS DECIMAL(38,8))) AS DOUBLE) AS s_dt
        |  FROM lineitem)
        |SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y,
        |  round((n * s_qe - s_q * s_e)
        |        / sqrt((n * s_qq - s_q * s_q) * (n * s_ee - s_e * s_e)), 6) AS corr FROM m
        |UNION ALL SELECT 'l_quantity', 'l_discount',
        |  round((n * s_qd - s_q * s_d)
        |        / sqrt((n * s_qq - s_q * s_q) * (n * s_dd - s_d * s_d)), 6) FROM m
        |UNION ALL SELECT 'l_quantity', 'l_tax',
        |  round((n * s_qt - s_q * s_t)
        |        / sqrt((n * s_qq - s_q * s_q) * (n * s_tt - s_t * s_t)), 6) FROM m
        |UNION ALL SELECT 'l_extendedprice', 'l_discount',
        |  round((n * s_ed - s_e * s_d)
        |        / sqrt((n * s_ee - s_e * s_e) * (n * s_dd - s_d * s_d)), 6) FROM m
        |UNION ALL SELECT 'l_extendedprice', 'l_tax',
        |  round((n * s_et - s_e * s_t)
        |        / sqrt((n * s_ee - s_e * s_e) * (n * s_tt - s_t * s_t)), 6) FROM m
        |UNION ALL SELECT 'l_discount', 'l_tax',
        |  round((n * s_dt - s_d * s_t)
        |        / sqrt((n * s_dd - s_d * s_d) * (n * s_tt - s_t * s_t)), 6) FROM m""".stripMargin,
    "q149_skew_profile" ->
      """WITH counts AS (
        |  SELECT l_orderkey, count(*) AS cnt FROM lineitem GROUP BY 1),
        |st AS (SELECT count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS n_rows
        |       FROM counts)
        |SELECT l_orderkey, cnt, n_keys, n_rows,
        |       round(CAST(cnt AS DOUBLE) * CAST(n_keys AS DOUBLE)
        |             / CAST(n_rows AS DOUBLE), 6) AS skew_factor
        |FROM counts CROSS JOIN st
        |ORDER BY cnt DESC, l_orderkey LIMIT 10""".stripMargin,
    "q150_triangle_count" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |p AS (SELECT a.pk AS pa, b2.pk AS pb, count(*) AS cab
        |      FROM b a JOIN b b2 ON a.ok = b2.ok AND a.pk < b2.pk
        |      GROUP BY 1, 2),
        |e AS (SELECT pa AS a, pb AS b FROM p WHERE cab >= 2),
        |w AS (SELECT e1.a, e1.b, e2.b AS c FROM e e1 JOIN e e2 ON e1.b = e2.a),
        |tr AS (SELECT count(*) AS n_triangles
        |       FROM w JOIN e e3 ON w.a = e3.a AND w.c = e3.b),
        |n AS (SELECT count(DISTINCT x) AS n_nodes
        |      FROM (SELECT a AS x FROM e UNION ALL SELECT b FROM e)),
        |m AS (SELECT count(*) AS n_edges FROM e)
        |SELECT n_nodes, n_edges, n_triangles
        |FROM n CROSS JOIN m CROSS JOIN tr""".stripMargin,
    "q151_locf_backfill" ->
      """WITH daily AS (
        |  SELECT user_id, day, obs FROM (
        |    SELECT user_id, date_trunc('day', ts) AS day, value AS obs,
        |           row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
        |                              ORDER BY ts DESC, event_id DESC) AS rnd
        |    FROM events) WHERE rnd = 1),
        |bnd AS (SELECT date_trunc('day', min(ts)) AS lo,
        |               date_trunc('day', max(ts)) AS hi FROM events),
        |grid AS (
        |  SELECT u.user_id,
        |         unnest(generate_series(bnd.lo, bnd.hi, INTERVAL 1 DAY)) AS day
        |  FROM (SELECT DISTINCT user_id FROM events) u CROSS JOIN bnd)
        |SELECT g.user_id, epoch_us(g.day) AS day_us,
        |       last_value(d.obs IGNORE NULLS) OVER (
        |         PARTITION BY g.user_id ORDER BY g.day
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled,
        |       (d.obs IS NOT NULL) AS is_observed
        |FROM grid g LEFT JOIN daily d
        |  ON g.user_id = d.user_id AND g.day = d.day""".stripMargin,
    // identical double row_number formulation — first/last by the same
    // total (ts, event_id) order
    "q146_ohlc_bars" ->
      """WITH h AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour, ts, event_id, value,
        |         row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
        |                            ORDER BY ts, event_id) AS rna,
        |         row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
        |                            ORDER BY ts DESC, event_id DESC) AS rnd
        |  FROM events)
        |SELECT event_type, epoch_us(hour) AS hour_us,
        |       MAX(CASE WHEN rna = 1 THEN value END) AS open,
        |       MAX(value) AS high,
        |       MIN(value) AS low,
        |       MAX(CASE WHEN rnd = 1 THEN value END) AS close,
        |       count(*) AS volume
        |FROM h GROUP BY 1, 2""".stripMargin,
    // quantile_cont == Spark percentile (q58 parity); med/mad rounded
    // before scoring exactly like the engine
    "q147_mad_outliers" ->
      """WITH med AS (
        |  SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
        |  FROM events GROUP BY 1),
        |dev AS (
        |  SELECT e.event_id, e.event_type, e.value, m.med,
        |         abs(e.value - m.med) AS adev
        |  FROM events e JOIN med m USING (event_type)),
        |mad AS (
        |  SELECT event_type, round(quantile_cont(adev, 0.5), 6) AS mad
        |  FROM dev GROUP BY 1)
        |SELECT d.event_id, d.event_type, d.value, d.med, a.mad,
        |       round((d.value - d.med) / a.mad, 6) AS robust_z,
        |       (abs((d.value - d.med) / a.mad) > 3.5) AS is_outlier
        |FROM dev d JOIN mad a USING (event_type)""".stripMargin,
    "q148_copurchase_recs" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |freq AS (SELECT pk, count(*) AS c FROM b GROUP BY 1),
        |pairs AS (
        |  SELECT a.pk AS pa, b2.pk AS pb, count(*) AS cab
        |  FROM b a JOIN b b2 ON a.ok = b2.ok AND a.pk < b2.pk
        |  GROUP BY 1, 2),
        |sym AS (
        |  SELECT pa, pb, cab FROM pairs
        |  UNION ALL
        |  SELECT pb, pa, cab FROM pairs),
        |scored AS (
        |  SELECT s.pa, s.pb, s.cab, fa.c AS ca, fb.c AS cb,
        |         CAST(s.cab AS DOUBLE) / sqrt(CAST(fa.c * fb.c AS DOUBLE)) AS cosine
        |  FROM sym s
        |  JOIN freq fa ON fa.pk = s.pa
        |  JOIN freq fb ON fb.pk = s.pb),
        |r AS (
        |  SELECT pa, pb, cab, ca, cb, cosine,
        |         row_number() OVER (PARTITION BY pa
        |                            ORDER BY cosine DESC, pb) AS rank
        |  FROM scored)
        |SELECT pa AS part, CAST(rank AS INTEGER) AS rank, pb AS rec,
        |       cab, ca, cb, round(cosine, 6) AS cosine
        |FROM r WHERE rank <= 5""".stripMargin,
    // the identical first-element-seeded fold over the identically
    // sorted list (list_reduce seeds from element 1 like the engine's
    // aggregate(slice(...,2,...), element_at(...,1), ...))
    "q143_ewma" ->
      """WITH a AS (
        |  SELECT user_id,
        |         list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS xs
        |  FROM events GROUP BY user_id)
        |SELECT user_id,
        |       CAST(len(xs) AS INTEGER) AS n_events,
        |       round(list_reduce(xs, (acc, x) -> acc / 2 + x / 2), 6) AS ewma
        |FROM a""".stripMargin,
    // the NAIVE full-window skyline — the engine's bucket prune must be
    // invisible in the result (q119's must-equal-plain contract)
    "q144_pareto_frontier" ->
      """WITH pa AS (
        |  SELECT l_partkey,
        |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty,
        |         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
        |           / CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
        |           AS unit_price,
        |         count(*) AS n_sales
        |  FROM lineitem GROUP BY l_partkey),
        |m AS (
        |  SELECT l_partkey, unit_price, total_qty, n_sales,
        |         max(total_qty) OVER (
        |           ORDER BY unit_price, total_qty DESC, l_partkey
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_prev
        |  FROM pa)
        |SELECT l_partkey, round(unit_price, 6) AS unit_price,
        |       total_qty, n_sales
        |FROM m WHERE best_prev IS NULL OR total_qty > best_prev""".stripMargin,
    "q145_session_paths" ->
      """WITH mk AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |              THEN 1 ELSE 0 END AS ns
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, event_type, ts, event_id,
        |         SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                       ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM mk),
        |p AS (
        |  SELECT user_id, sid,
        |         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        |  FROM s GROUP BY 1, 2)
        |SELECT path, count(*) AS n_sessions
        |FROM p GROUP BY 1 HAVING count(*) >= 5""".stripMargin,
    // changelog compacted to the latest row per key, then the same
    // kept/updated/inserted/deleted decision table as the engine
    "q134_merge_upsert" ->
      """WITH last AS (
        |  SELECT user_id AS key, event_type AS op_type, value AS new_bal
        |  FROM (SELECT user_id, event_type, value,
        |               row_number() OVER (PARTITION BY user_id
        |                                  ORDER BY ts DESC, event_id DESC) AS rn
        |        FROM events) WHERE rn = 1),
        |base AS (SELECT c_custkey AS key, c_name, c_acctbal
        |         FROM customer WHERE c_custkey BETWEEN 50 AND 200)
        |SELECT coalesce(b.key, l.key) AS c_custkey,
        |       coalesce(b.c_name, 'cust#' || CAST(l.key AS VARCHAR)) AS name,
        |       CASE WHEN l.key IS NULL THEN 'kept'
        |            WHEN b.key IS NULL THEN 'inserted'
        |            ELSE 'updated' END AS action,
        |       CASE WHEN l.key IS NULL THEN b.c_acctbal
        |            ELSE l.new_bal END AS balance
        |FROM base b FULL OUTER JOIN last l ON b.key = l.key
        |WHERE l.op_type IS NULL OR l.op_type <> 'error'""".stripMargin,
    // change detection on the exact decimal sums, like the engine
    "q135_snapshot_diff" ->
      """WITH s1 AS (
        |  SELECT o_custkey AS key, count(*) AS cnt,
        |         SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS spend_d
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  GROUP BY 1),
        |s2 AS (
        |  SELECT o_custkey AS key, count(*) AS cnt,
        |         SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS spend_d
        |  FROM orders GROUP BY 1)
        |SELECT coalesce(s2.key, s1.key) AS o_custkey,
        |       coalesce(s1.cnt, 0) AS old_cnt,
        |       coalesce(s2.cnt, 0) AS new_cnt,
        |       coalesce(CAST(s1.spend_d AS DOUBLE), 0.0) AS old_spend,
        |       coalesce(CAST(s2.spend_d AS DOUBLE), 0.0) AS new_spend,
        |       CASE WHEN s1.key IS NULL THEN 'added'
        |            WHEN s1.cnt = s2.cnt AND s1.spend_d = s2.spend_d
        |              THEN 'unchanged'
        |            ELSE 'changed' END AS status
        |FROM s1 FULL OUTER JOIN s2 ON s1.key = s2.key""".stripMargin,
    // dense hour grid mirrored with generate_series (inclusive bounds,
    // like Spark `sequence`), then the identical 24-row trailing frame
    "q137_gapfill_ma" ->
      """WITH b AS (SELECT date_trunc('hour', min(ts)) AS lo,
        |                  date_trunc('hour', max(ts)) AS hi FROM events),
        |grid AS (
        |  SELECT t.event_type, unnest(generate_series(b.lo, b.hi, INTERVAL 1 HOUR)) AS hour
        |  FROM (SELECT DISTINCT event_type FROM events) t CROSS JOIN b),
        |hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |f AS (
        |  SELECT g.event_type, g.hour, coalesce(h.cnt, 0) AS cnt
        |  FROM grid g LEFT JOIN hourly h
        |    ON g.event_type = h.event_type AND g.hour = h.hour)
        |SELECT event_type, epoch_us(hour) AS hour_us, cnt,
        |       round(avg(cnt) OVER (PARTITION BY event_type ORDER BY hour
        |                            ROWS BETWEEN 23 PRECEDING AND CURRENT ROW), 6)
        |         AS ma24
        |FROM f""".stripMargin,
    "q139_markov_transitions" ->
      """WITH tr AS (
        |  SELECT event_type AS cur,
        |         lead(event_type) OVER (PARTITION BY user_id
        |                                ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |c AS (SELECT cur, nxt, count(*) AS cnt
        |      FROM tr WHERE nxt IS NOT NULL GROUP BY 1, 2)
        |SELECT cur, nxt, cnt,
        |       CAST(SUM(cnt) OVER (PARTITION BY cur) AS BIGINT) AS total,
        |       round(CAST(cnt AS DOUBLE)
        |             / CAST(SUM(cnt) OVER (PARTITION BY cur) AS DOUBLE), 6) AS p
        |FROM c""".stripMargin,
    // exact integer moments (Σx in int64, Σx² in int128 — the engine's
    // decimal accumulator), identical correctly-rounded IEEE tail
    "q141_standardize" ->
      """WITH q AS (
        |  SELECT event_id, event_type, value,
        |         CAST(round(value * 1000000) AS BIGINT) AS vq FROM events),
        |st AS (
        |  SELECT event_type, count(*) AS n, SUM(vq) AS s,
        |         SUM(CAST(vq AS HUGEINT) * vq) AS ss
        |  FROM q GROUP BY 1),
        |d AS (
        |  SELECT event_type,
        |         CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_q,
        |         sqrt(CAST(n * ss - CAST(s AS HUGEINT) * s AS DOUBLE)
        |              / CAST(n * n AS DOUBLE)) AS std_q
        |  FROM st)
        |SELECT q.event_id, q.event_type, q.value,
        |       round((CAST(q.vq AS DOUBLE) - d.mean_q) / d.std_q, 6) AS z,
        |       (abs((CAST(q.vq AS DOUBLE) - d.mean_q) / d.std_q) > 3.0)
        |         AS is_outlier
        |FROM q JOIN d ON q.event_type = d.event_type""".stripMargin,
    "q142_ref_integrity" ->
      """SELECT 'lineitem->orders' AS relationship,
        |       (SELECT count(*) FROM lineitem) AS n_rows,
        |       (SELECT count(*) FROM lineitem l LEFT JOIN orders o
        |          ON l.l_orderkey = o.o_orderkey
        |        WHERE o.o_orderkey IS NULL) AS n_orphans
        |UNION ALL
        |SELECT 'lineitem->part',
        |       (SELECT count(*) FROM lineitem),
        |       (SELECT count(*) FROM lineitem l LEFT JOIN part p
        |          ON l.l_partkey = p.p_partkey
        |        WHERE p.p_partkey IS NULL)
        |UNION ALL
        |SELECT 'lineitem->supplier',
        |       (SELECT count(*) FROM lineitem),
        |       (SELECT count(*) FROM lineitem l LEFT JOIN supplier s
        |          ON l.l_suppkey = s.s_suppkey
        |        WHERE s.s_suppkey IS NULL)
        |UNION ALL
        |SELECT 'orders->customer',
        |       (SELECT count(*) FROM orders),
        |       (SELECT count(*) FROM orders o LEFT JOIN customer c
        |          ON o.o_custkey = c.c_custkey
        |        WHERE c.c_custkey IS NULL)""".stripMargin,
    "q129_grouping_sets" ->
      """SELECT
        |  CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS returnflag,
        |  CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS linestatus,
        |  CAST(2 * GROUPING(l_returnflag) + GROUPING(l_linestatus) AS INTEGER) AS gid,
        |  count(*) AS cnt
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
        |                        (l_returnflag, l_linestatus))""".stripMargin,
    // the oracle affords the naive n² verify at fixture scale; the engine
    // must reach the same pairs through the banded equality join
    "q130_name_match" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |       a.c_name AS name_a, b.c_name AS name_b,
        |       CAST(len(list_filter(range(1, length(a.c_name) + 1),
        |            i -> a.c_name[i] <> b.c_name[i])) AS INT) AS n_diff
        |FROM customer a JOIN customer b
        |  ON a.c_custkey < b.c_custkey
        | AND length(a.c_name) = length(b.c_name)
        |WHERE len(list_filter(range(1, length(a.c_name) + 1),
        |      i -> a.c_name[i] <> b.c_name[i])) <= 1""".stripMargin,
    "q133_association_rules" ->
      """WITH grid AS (SELECT DISTINCT user_id, event_type FROM events),
        |tot AS (SELECT count(DISTINCT user_id) AS n_users FROM grid),
        |supp AS (SELECT event_type, count(*) AS n FROM grid GROUP BY 1),
        |co AS (
        |  SELECT a.event_type AS antecedent, b.event_type AS consequent,
        |         count(*) AS n_ab
        |  FROM grid a JOIN grid b
        |    ON a.user_id = b.user_id AND a.event_type <> b.event_type
        |  GROUP BY 1, 2)
        |SELECT co.antecedent, co.consequent, co.n_ab,
        |       round(co.n_ab / tot.n_users, 6) AS support,
        |       round(co.n_ab / sa.n, 6) AS confidence,
        |       round((co.n_ab * tot.n_users) / (sa.n * sb.n), 6) AS lift
        |FROM co
        |JOIN supp sa ON sa.event_type = co.antecedent
        |JOIN supp sb ON sb.event_type = co.consequent
        |CROSS JOIN tot""".stripMargin,
    // the refresh-equals-recompute contract: the oracle is the FULL
    // recompute (q10's SQL); the engine answers with the partial fold
    "q126_incremental_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS sum_disc,
        |  count(*) AS cnt
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q128_equidepth_histogram" ->
      """WITH b AS (
        |  SELECT round(quantile_cont(l_extendedprice, 0.25), 6) AS b1,
        |         round(quantile_cont(l_extendedprice, 0.5), 6) AS b2,
        |         round(quantile_cont(l_extendedprice, 0.75), 6) AS b3
        |  FROM lineitem)
        |SELECT CASE WHEN l_extendedprice <= b1 THEN 1
        |            WHEN l_extendedprice <= b2 THEN 2
        |            WHEN l_extendedprice <= b3 THEN 3 ELSE 4 END AS bucket,
        |       count(*) AS n,
        |       round(min(l_extendedprice), 6) AS lo,
        |       round(max(l_extendedprice), 6) AS hi
        |FROM lineitem CROSS JOIN b
        |GROUP BY 1""".stripMargin,
    "q122_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2
        |  FROM events e JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'view' AND e.ts > s1.t1
        |    AND e.ts <= s1.t1 + INTERVAL 24 HOUR GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3
        |  FROM events e JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s2.t2
        |    AND e.ts <= s2.t2 + INTERVAL 24 HOUR GROUP BY 1),
        |s4 AS (
        |  SELECT e.user_id, min(e.ts) AS t4
        |  FROM events e JOIN s3 ON e.user_id = s3.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s3.t3
        |    AND e.ts <= s3.t3 + INTERVAL 24 HOUR GROUP BY 1)
        |SELECT s1.user_id,
        |       CAST(1 + CAST(s2.user_id IS NOT NULL AS INTEGER)
        |              + CAST(s3.user_id IS NOT NULL AS INTEGER)
        |              + CAST(s4.user_id IS NOT NULL AS INTEGER) AS INTEGER) AS steps,
        |       epoch_us(s1.t1) AS signup_us,
        |       epoch_us(s2.t2) AS view_us,
        |       epoch_us(s3.t3) AS click_us,
        |       epoch_us(s4.t4) AS purchase_us
        |FROM s1
        |LEFT JOIN s2 ON s1.user_id = s2.user_id
        |LEFT JOIN s3 ON s1.user_id = s3.user_id
        |LEFT JOIN s4 ON s1.user_id = s4.user_id""".stripMargin,
    "q123_retention" ->
      """WITH wk AS (
        |  SELECT DISTINCT user_id, date_trunc('week', ts) AS week
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, min(week) AS cohort_week FROM wk GROUP BY 1)
        |SELECT epoch_us(c.cohort_week) AS cohort_us,
        |       CAST((epoch_us(wk.week) - epoch_us(c.cohort_week))
        |            // 604800000000 AS INTEGER) AS week_offset,
        |       count(*) AS n_users
        |FROM wk JOIN c ON wk.user_id = c.user_id
        |GROUP BY 1, 2""".stripMargin,
    "q125_scd2" ->
      """WITH m AS (
        |  SELECT user_id, event_id, event_type, ts,
        |         CASE WHEN lag(event_type) OVER w IS NULL
        |                OR lag(event_type) OVER w <> event_type
        |              THEN 1 ELSE 0 END AS chg
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |v AS (
        |  SELECT user_id, event_type, ts,
        |         SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS UNBOUNDED PRECEDING) AS version
        |  FROM m),
        |runs AS (
        |  SELECT user_id, version, min(event_type) AS event_type,
        |         min(ts) AS valid_from, count(*) AS n_events
        |  FROM v GROUP BY 1, 2)
        |SELECT user_id, CAST(version AS INTEGER) AS version, event_type,
        |       epoch_us(valid_from) AS valid_from_us,
        |       epoch_us(lead(valid_from) OVER (
        |         PARTITION BY user_id ORDER BY version)) AS valid_to_us,
        |       n_events
        |FROM runs""".stripMargin,
    // mirrors q95: closed-form bit interleave over the low 32 bits
    // (0 bits shift to 0, so the i=31 terms are exact for in-contract
    // inputs < 2^31); epoch_us is the established ts idiom (q51)
    "q95_zorder_layout" ->
      """SELECT event_id, user_id, hour_bucket,
        |  CAST(list_sum(list_transform(range(0, 32), i ->
        |    (((user_id >> i) & 1) << (2 * i))
        |    + (((hour_bucket >> i) & 1) << (2 * i + 1))
        |  )) AS BIGINT) AS zkey
        |FROM (SELECT event_id, user_id,
        |             epoch_us(ts) // 3600000000 AS hour_bucket
        |      FROM events)""".stripMargin,
    "q74_variant_json" ->
      """SELECT event_type,
        |       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
        |       count(json_extract_string(props, '$.k')) AS n_with_k
        |FROM events GROUP BY event_type""".stripMargin,
    "q28_big_spenders" ->
      """WITH spend AS (
        |  SELECT o_custkey AS c_custkey,
        |         SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS spend_d
        |  FROM orders GROUP BY o_custkey),
        |tot AS (SELECT SUM(spend_d) AS tot, count(*) AS n_cust FROM spend)
        |SELECT c_custkey, CAST(spend_d AS DOUBLE) AS spend
        |FROM spend CROSS JOIN tot
        |WHERE CAST(spend_d AS DECIMAL(18,4)) * CAST(n_cust AS DECIMAL(12,0)) > tot""".stripMargin,
    "q58_quantiles" ->
      """SELECT l_returnflag,
        |       round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
        |       round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
        |       round(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
        |       round(quantile_cont(l_extendedprice, 0.9), 6) AS p90,
        |       count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q59_edit_distance" ->
      """SELECT a.n_name AS name_a, b.n_name AS name_b,
        |       levenshtein(a.n_name, b.n_name) AS dist
        |FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey""".stripMargin,
    "q39_salted_join" ->
      """SELECT c.c_mktsegment, count(*) AS cnt,
        |       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_mktsegment""".stripMargin,
    "q57_pivot" ->
      """SELECT user_id,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
        |FROM events GROUP BY user_id""".stripMargin,
    "q56_cube" ->
      """SELECT
        |  CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS returnflag,
        |  CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS linestatus,
        |  count(*) AS cnt
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,
    "q54_last_event" ->
      """SELECT user_id,
        |       arg_max(event_id, ts) AS last_event_id,
        |       epoch_us(max(ts)) AS last_ts_us
        |FROM events GROUP BY user_id""".stripMargin,
    "q55_json_extract" ->
      """SELECT event_type,
        |       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |       count(json_extract_string(props, '$.k')) AS n_with_k
        |FROM events GROUP BY event_type""".stripMargin,
    "q52_running_total" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
        |       OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS cum_spend
        |FROM orders""".stripMargin,
    "q53_full_outer" ->
      """WITH cn AS (
        |  SELECT n_name AS cn_name, count(*) AS c_cnt
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY 1),
        |sn AS (
        |  SELECT n_name AS sn_name, count(*) AS s_cnt
        |  FROM supplier JOIN nation ON s_nationkey = n_nationkey GROUP BY 1)
        |SELECT coalesce(cn_name, sn_name) AS n_name,
        |       coalesce(c_cnt, 0) AS c_cnt, coalesce(s_cnt, 0) AS s_cnt
        |FROM cn FULL OUTER JOIN sn ON cn_name = sn_name""".stripMargin,
    // same interpolated percentile (q58 parity), same 6dp-rounded
    // bounds before the clip
    "q120_winsorize" ->
      """WITH b AS (
        |  SELECT event_type,
        |         round(quantile_cont(value, 0.01), 6) AS lo,
        |         round(quantile_cont(value, 0.99), 6) AS hi
        |  FROM events GROUP BY event_type)
        |SELECT event_id, e.event_type, value,
        |       round(least(greatest(value, lo), hi), 6) AS clipped
        |FROM events e JOIN b ON e.event_type = b.event_type""".stripMargin,
    // the PLAIN join — q119's Bloom prune must be invisible in the result
    "q119_bloom_join_prune" ->
      """SELECT o_orderkey, o_totalprice, count(*) AS n_items,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 480000.0
        |GROUP BY o_orderkey, o_totalprice""".stripMargin,
    // mirrors q116 counter-for-counter: same md5 bucket arithmetic as
    // q113, per-(row,bucket) counts, inner product per row, min over
    // rows; exact audit from the per-key frequency join
    "q116_join_cardinality" ->
      """WITH rr AS (SELECT unnest(range(0, 4)) AS r),
        |sa AS (
        |  SELECT rr.r,
        |         CAST(('0x' || substr(md5(rr.r || '|' || CAST(l_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % 1024 AS b,
        |         CAST(count(*) AS BIGINT) AS ca
        |  FROM lineitem CROSS JOIN rr GROUP BY 1, 2),
        |sb AS (
        |  SELECT rr.r,
        |         CAST(('0x' || substr(md5(rr.r || '|' || CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % 1024 AS b,
        |         CAST(count(*) AS BIGINT) AS cb
        |  FROM orders CROSS JOIN rr GROUP BY 1, 2),
        |ip AS (
        |  SELECT sa.r, CAST(SUM(sa.ca * sb.cb) AS BIGINT) AS ip
        |  FROM sa JOIN sb ON sa.r = sb.r AND sa.b = sb.b GROUP BY sa.r),
        |est AS (SELECT MIN(ip) AS est_pairs FROM ip),
        |ex AS (
        |  SELECT CAST(SUM(na * nb) AS BIGINT) AS exact_pairs FROM
        |    (SELECT l_orderkey AS k, count(*) AS na FROM lineitem GROUP BY 1) a
        |    JOIN (SELECT o_orderkey AS k, count(*) AS nb FROM orders GROUP BY 1) b USING (k))
        |SELECT est_pairs, exact_pairs,
        |       round(CAST(est_pairs AS DOUBLE) / CAST(exact_pairs AS DOUBLE) - 1.0, 6) AS rel_err
        |FROM est CROSS JOIN ex""".stripMargin,
    "q10_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS sum_disc,
        |  count(*) AS cnt
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q11_revenue_by_nation" -> Q11Sql,
    "q131_multi_touch" ->
      """WITH v AS (
        |  SELECT user_id, event_id AS view_id, ts AS view_ts
        |  FROM events WHERE event_type = 'view'),
        |p AS (
        |  SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
        |  FROM events WHERE event_type = 'purchase'),
        |t AS (
        |  SELECT v.user_id, p.purchase_id, v.view_id, v.view_ts
        |  FROM v JOIN p ON v.user_id = p.user_id
        |  WHERE v.view_ts < p.purchase_ts
        |    AND v.view_ts >= p.purchase_ts - INTERVAL 24 HOUR)
        |SELECT user_id, purchase_id, view_id,
        |       epoch_us(view_ts) AS view_us,
        |       count(*) OVER (PARTITION BY purchase_id) AS n_touches,
        |       round(1.0 / count(*) OVER (PARTITION BY purchase_id), 6) AS credit
        |FROM t""".stripMargin,
    "q132_revenue_share" ->
      s"""WITH base AS ($Q11Sql)
         |SELECT n_name, r_name, revenue, n_items,
         |  CAST(SUM(CAST(revenue AS DECIMAL(18,4)))
         |       OVER (PARTITION BY r_name) AS DOUBLE) AS region_revenue,
         |  round(revenue / CAST(SUM(CAST(revenue AS DECIMAL(18,4)))
         |       OVER (PARTITION BY r_name) AS DOUBLE), 6) AS region_share
         |FROM base""".stripMargin,
    "q12_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')""".stripMargin,
    "q13_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "q14_window_topn" ->
      """SELECT o_custkey, o_orderkey, rk,
        |       CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS DOUBLE) AS totalprice
        |FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        |  FROM orders) WHERE rk <= 3""".stripMargin,
    "q15_rollup" ->
      """SELECT
        |  CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS returnflag,
        |  CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  count(*) AS cnt
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "q16_setops" ->
      """WITH custn AS (
        |  SELECT DISTINCT n_name FROM customer JOIN nation ON c_nationkey = n_nationkey
        |), suppn AS (
        |  SELECT DISTINCT n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |)
        |SELECT n_name, 'customer_only' AS side FROM (SELECT n_name FROM custn EXCEPT SELECT n_name FROM suppn)
        |UNION ALL
        |SELECT n_name, 'supplier_only' AS side FROM (SELECT n_name FROM suppn EXCEPT SELECT n_name FROM custn)
        |UNION ALL
        |SELECT n_name, 'both' AS side FROM (SELECT n_name FROM custn INTERSECT SELECT n_name FROM suppn)""".stripMargin,
    "q17_scalar_funcs" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INT) AS y,
        |  CAST(month(o_orderdate) AS INT) AS m,
        |  CAST(day(o_orderdate) AS INT) AS d,
        |  upper(substr(o_orderpriority, 1, 4)) AS pri4,
        |  CAST(length(o_orderstatus) AS INT) AS st_len,
        |  concat_ws('-', o_orderstatus, o_orderpriority) AS tag,
        |  o_orderkey % 7 AS bucket7,
        |  CAST(greatest(CAST(o_totalprice AS DECIMAL(18,4)), CAST(1000 AS DECIMAL(18,4))) AS DOUBLE) AS price_floor
        |FROM orders""".stripMargin,
    "q18_asof_join" ->
      """WITH clicks AS (
        |  SELECT user_id, event_id AS click_id, ts FROM events WHERE event_type = 'click'
        |), purchases AS (
        |  SELECT user_id, ts AS pts, max(event_id) AS purchase_id
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
        |)
        |SELECT c.click_id, c.user_id, p.purchase_id
        |FROM clicks c ASOF LEFT JOIN purchases p
        |  ON c.user_id = p.user_id AND c.ts >= p.pts""".stripMargin,
    "q19_range_join" ->
      """WITH tiers(lo, hi, tier) AS (
        |  VALUES (CAST('-inf' AS DOUBLE), 10.0, 'low'),
        |         (10.0, 100.0, 'mid'),
        |         (100.0, CAST('inf' AS DOUBLE), 'high')
        |)
        |SELECT event_type, tier, count(*) AS cnt,
        |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events JOIN tiers ON value >= lo AND value < hi
        |GROUP BY event_type, tier""".stripMargin,
    "q50_hourly_windows" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |       count(*) AS cnt,
        |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    // each event belongs to exactly 4 slide-aligned window starts
    // (k = 0..3 slides back from its own floor-aligned slide)
    "q107_sliding_windows" ->
      """SELECT make_timestamp((epoch_us(ts) // 1800000000 - t.k) * 1800000000)
        |         AS win_start,
        |       event_type, count(*) AS cnt,
        |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events, unnest(range(0, 4)) AS t(k)
        |GROUP BY 1, 2""".stripMargin,
    // independent formulation of the session operator: lag-flag islands
    // (q51's new_session), cumulative session ids, then per-session
    // bounds; end = last event + the 30-minute gap (Spark's semantics)
    "q108_session_window" ->
      """WITH flagged AS (
        |  SELECT user_id, ts,
        |         CASE WHEN prev_ts IS NULL
        |                OR epoch_us(ts) - epoch_us(prev_ts) > 1800 * 1000000 THEN 1 ELSE 0 END
        |           AS new_session
        |  FROM (SELECT user_id, ts,
        |               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |        FROM events)),
        |numbered AS (
        |  SELECT user_id, ts,
        |         SUM(new_session) OVER (
        |           PARTITION BY user_id ORDER BY ts
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged)
        |SELECT user_id, min(ts) AS sess_start,
        |       max(ts) + INTERVAL 30 MINUTE AS sess_end,
        |       count(*) AS n_events
        |FROM numbered GROUP BY user_id, sid""".stripMargin,
    // µs-truncated comparisons on both bounds (epoch_us), mirroring the
    // engine's ns→µs floored event times — a raw ns-precision interval
    // compare would disagree exactly at the 10-minute boundary
    "q111_click_attribution" -> ClickAttributionOracle,
    "q51_sessions" ->
      """WITH flagged AS (
        |  SELECT user_id,
        |         CASE WHEN prev_ts IS NULL
        |                OR epoch_us(ts) - epoch_us(prev_ts) > 1800 * 1000000 THEN 1 ELSE 0 END AS new_session
        |  FROM (SELECT user_id, ts,
        |               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |        FROM events))
        |SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
        |FROM flagged GROUP BY user_id""".stripMargin)
}
