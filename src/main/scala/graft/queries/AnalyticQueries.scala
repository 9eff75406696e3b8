package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.functions.QuantizedPercentiles

/** Core relational query surface.
  *
  * The reference (sduzh/duckdb-mpp) delegates every non-leaf operator to its
  * host engine (see SURVEY.md §2.2 — workers execute arbitrary SQL,
  * `/root/reference/src/mpp_service.cpp:28-53`), so the capability bar for
  * this engine is Spark SQL's own operator surface over distributed tables:
  * aggregation, joins (broadcast/sort-merge, semi/anti/outer), windows,
  * sorts/top-k, set ops, rollup/cube/grouping-sets, subqueries, CTEs, scalar
  * functions. Each query here is one inventory line with a DuckDB oracle.
  *
  * Conventions shared with the oracles (driver hash-compares results):
  *  - every floating-point aggregate is `round(x, 4)` on both sides;
  *  - every output is totally ordered by its own columns;
  *  - aggregates over INTEGER columns are avoided or cast (DuckDB SUM(INT)
  *    yields HUGEINT which would not hash-match Spark's LongType);
  *  - timestamps are truncated+cast to DATE or STRING on both sides.
  *
  * Scale notes (100 TB design intent): all queries below are
  * shuffle-minimal — small dimensions are broadcast explicitly, aggregates
  * are partial+final (Spark hash aggregate), windows partition by high-card
  * keys, and nothing collects to the driver.
  */
object AnalyticQueries {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  /** TPC-H Q1 style pricing summary: full-scan partial+final hash aggregate. */
  def q1PricingSummary(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("2001-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum("l_quantity"), 4).as("sum_qty"),
        round(sum("l_extendedprice"), 4).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))), 4).as("sum_charge"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_extendedprice"), 4).as("avg_price"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** TPC-H Q3 style: 3-way join, agg, top-10.
    *
    * Join order: the selective customer filter (1 segment ≈ 1/5 of
    * rows) reduces orders FIRST, so the fact join's build side is the
    * REDUCED orders set. Both non-fact sides are customer-/orders-
    * derived — data-proportional, so neither is ever pinned broadcast
    * (a driver-built hash table of 1/5 of customers cannot exist at
    * 1e9 customers); `shuffle_hash` builds them per-partition instead,
    * with no whole-side sorts, and AQE is still free to broadcast at
    * runtime when the measured size allows. Lineitem is shuffled once
    * (on l_orderkey) and never broadcast. */
  def q3TopRevenue(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = t(s, dir, "orders").filter(col("o_orderdate") < lit("1998-06-01").cast("timestamp"))
    val li = t(s, dir, "lineitem").filter(col("l_shipdate") > lit("1998-06-01").cast("timestamp"))
    val ordc = ord.join(cust.hint("shuffle_hash"),
        ord("o_custkey") === cust("c_custkey"))
      .select(col("o_orderkey"), col("o_orderdate"))
    li.join(ordc.hint("shuffle_hash"), li("l_orderkey") === ordc("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate").cast("date").as("o_orderdate"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5 style: 6-table join, agg per nation.
    *
    * Join order: the region filter is pushed THROUGH nation into
    * supplier first (ASIA ≈ 1/5 of suppliers) — the only pinned
    * broadcasts, because that chain is genuinely bounded. Orders and
    * customer are data-proportional, so neither is ever driver-built:
    * they join each other FIRST (shuffle-hash on custkey — the two
    * smaller relations), and the biggest relation, lineitem, then
    * shuffles exactly ONCE on (l_orderkey, s_nationkey) into the
    * pre-joined orders×customer side. `shuffle_hash` keeps every big
    * build partition-local with no whole-side sorts, and AQE may still
    * upgrade to broadcast at runtime when measured sizes allow
    * (PlanQualitySpec pins: lineitem never broadcast, at most one
    * fact-cardinality shuffle). */
  def q5RegionRevenue(s: SparkSession, dir: String): DataFrame = {
    val region = t(s, dir, "region").filter(col("r_name") === "ASIA")
    val nation = t(s, dir, "nation")
    val cust = t(s, dir, "customer")
    val supp = t(s, dir, "supplier")
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
    val li = t(s, dir, "lineitem")
    // ASIA nations -> ASIA suppliers: tiny broadcasts that cut the fact
    // side by the region selectivity before anything shuffles. Only the
    // FIXED-cardinality dims (region: 5 rows, nation: 25 — constants at
    // any scale factor) and the region-pruned supplier set pin a
    // broadcast (the pin also keeps the toy-scale optimizer from ever
    // building the fact side — the PlanQualitySpec invariant). The
    // customer join is left to the optimizer/AQE, which broadcasts the
    // 2-column projection while it fits and falls back to a shuffle
    // join when scale outgrows it: the round-6 sf10 audit measured the
    // previously pinned shuffle_hash customer join at 4-10× the AQE
    // plan (it forced orders AND customer exchanges where the
    // broadcast erases both), and a pinned broadcast would be equally
    // wrong at 1000× when customer is tens of GB. The FINAL join stays
    // pinned shuffle-hash: both sides are fact-proportional
    // (lineitem, orders), where broadcast is only ever viable at toy
    // scale.
    val asiaNation = nation.join(broadcast(region),
      nation("n_regionkey") === region("r_regionkey"))
    val asiaSupp = supp.join(broadcast(asiaNation),
      supp("s_nationkey") === asiaNation("n_nationkey"))
      .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
    val ordc = ord.join(cust.select(col("c_custkey"), col("c_nationkey")),
        ord("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_nationkey"))
    li.join(broadcast(asiaSupp), li("l_suppkey") === asiaSupp("s_suppkey"))
      .join(ordc.hint("shuffle_hash"),
        li("l_orderkey") === ordc("o_orderkey") &&
        ordc("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Left-semi join (EXISTS): customers with at least one urgent order. */
  def qSemiJoin(s: SparkSession, dir: String): DataFrame = {
    val urgent = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    t(s, dir, "customer")
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")
  }

  /** Left-anti join (NOT EXISTS): customers with no open ('O') order. */
  def qAntiJoin(s: SparkSession, dir: String): DataFrame = {
    val open = t(s, dir, "orders").filter(col("o_orderstatus") === "O")
      .select(col("o_custkey"))
    // shuffle_hash on the build side (BASELINE §25.3): the planner
    // fell to a sort-merge anti join here, sorting BOTH the 4.5M-row
    // probe and the 22M-row build at sf30 — the hash anti join skips
    // both whole-side sorts (measured 1.86 → 1.30 s at sf30) and its
    // per-task build map is bounded by the AQE partition size, the
    // same rationale as q3's hints. AQE still broadcasts at runtime
    // when the measured build is small enough.
    t(s, dir, "customer")
      .join(open.hint("shuffle_hash"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")
  }

  /** Left-outer join + aggregate, preserving customers with zero orders. */
  def qOuterJoinAgg(s: SparkSession, dir: String): DataFrame = {
    // Eager aggregation below the join (round-12, verdict item 6):
    // the group key IS the join key, so orders collapses to one row
    // per customer BEFORE the join — the join then matches 1:1
    // against the (much smaller) aggregate instead of shuffling and
    // joining every order row and re-aggregating the joined width.
    // At 100 TB this is the difference between exchanging the fact
    // table once (pre-agg, map-side partials) and exchanging it into
    // a join just to collapse it again. Row-identical: unmatched
    // customers coalesce to (0, 0.0) exactly as COUNT/SUM over an
    // all-NULL group did.
    val ordAgg = t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(count(col("o_orderkey")).as("n"),
        sum(col("o_totalprice")).as("sp"))
    t(s, dir, "customer")
      .join(ordAgg, col("c_custkey") === col("o_custkey"), "left_outer")
      .select(col("c_custkey"),
        coalesce(col("n"), lit(0L)).as("n_orders"),
        round(coalesce(col("sp"), lit(0.0)), 4).as("total_spent"))
      .orderBy("c_custkey")
  }

  /** Window ranking: top-3 orders per customer by price (row_number). */
  def qWindowTopN(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"),
        round(col("o_totalprice"), 4).as("o_totalprice"), col("rn"))
      .orderBy("o_custkey", "rn")
  }

  /** Window running aggregate: cumulative value per user ordered by time. */
  def qWindowRunning(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .withColumn("running_value", round(sum(col("value")).over(w), 4))
      .select(col("user_id"), col("event_id"), col("running_value"))
      .orderBy("user_id", "event_id")
  }

  /** Top-k by sort: global top-20 line items by extended price. */
  def qTopK(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice"), 4).as("l_extendedprice"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(20)

  /** Set operations: UNION / INTERSECT / EXCEPT tagged into one relation.
    *
    * Shape (round-12, verdict item 6): ONE tagged unionAll + ONE
    * groupBy replaces three separate set-operator exchanges over the
    * same two inputs. Every ANSI set op over the same (a, b) pair is
    * a function of per-key presence — `max(in_a), max(in_b)` per key —
    * so the three results are FILTERS over one aggregate: union =
    * every key, intersect = both flags, except = a-only. The old plan
    * scanned each input three times and shuffled three times; this
    * scans each once and shuffles once (map-side partial max makes
    * the exchange |distinct keys|-sized). Distinct set-op semantics
    * (incl. NULL keys grouping as equal) are exactly groupBy's. */
  def qSetOps(s: SparkSession, dir: String): DataFrame = {
    val a = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("k"), lit(1).as("in_a"), lit(0).as("in_b"))
    val b = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("k"), lit(0).as("in_a"), lit(1).as("in_b"))
    a.unionAll(b)
      .groupBy(col("k"))
      .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
      .select(col("k"), explode(array(
        lit("union"),
        when(col("in_a") === 1 && col("in_b") === 1, "intersect"),
        when(col("in_a") === 1 && col("in_b") === 0, "except")))
        .as("tag"))
      .filter(col("tag").isNotNull)
      .select(col("tag"), col("k")).orderBy("tag", "k")
  }

  /** ROLLUP aggregate with grand total.
    *
    * Pre-aggregated: the plain (flag, status) groupBy collapses the fact
    * table to |groups| rows FIRST, then ROLLUP expands only those — the
    * naive form Expand-multiplies every input row by the number of
    * grouping sets before aggregating (3× the scan volume at 100 TB).
    * Exact: counts add, and partial sums re-sum losslessly at this
    * magnitude (quantities are small integers in doubles). */
  def qRollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("pn"), sum("l_quantity").as("pq"))
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum("pn").as("n"), round(sum("pq"), 4).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n"), col("sum_qty"))
      .orderBy("returnflag", "linestatus")

  /** CUBE aggregate over two dimensions. */
  def qCube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(avg("o_totalprice"), 4).as("avg_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("avg_price"))
      .orderBy("status", "priority")

  /** Distinct aggregates: exact distinct counts per group.
    *
    * Shape (round-10): ONE scan, three [[graft.functions
    * .BitmapDistinctAgg]] bitmap aggregates — the Doris/ClickHouse
    * exact-distinct idiom. The two prior shapes both paid
    * corpus-proportional exchanges: Catalyst's multi-distinct Expand
    * replicates every row once per column (3.4 s at sf3), and the
    * round-9 per-column dedup pipelines exchanged the (group, value)
    * pair sets themselves (2.3 s isolated, 3 scans + 3 exchanges).
    * Bitmap partials compress each partition's value set (run-length
    * on TPC-H's clustered orderkeys), so the single exchange carries
    * |groups|×|partitions| KB-scale bitmaps and merge is bitmap OR.
    * Exact at any scale; the approximate path for
    * set-outgrows-memory cardinalities is q_approx_distinct's HLL. */
  def qDistinctAgg(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.BitmapDistinct.distinctCount
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(distinctCount(s, col("l_partkey")).as("n_parts"),
        distinctCount(s, col("l_suppkey")).as("n_supps"),
        distinctCount(s, col("l_orderkey")).as("n_orders"))
      .orderBy("l_returnflag")
  }

  /** Statistical aggregates: EXACT interpolated percentiles
    * ([[graft.functions.QuantizedPercentiles]] — same linear
    * interpolation as DuckDB's `quantile_cont`), sample stddev,
    * correlation, sample covariance. Skewness is deliberately absent:
    * Spark computes the population estimator, DuckDB the sample-
    * adjusted one — a real definitional difference, not a bug to
    * paper over with tolerance. Scale note: the aggregate buffers a
    * value→count map per group (already histogram-compressed for
    * quantized domains like these; a round-9 explicit
    * histogram+window rewrite measured SLOWER at sf3 — 2.0 vs 1.1 s —
    * and was dropped); for billions of rows per group of a truly
    * continuous column, `percentile_approx` (q_stats_approx) is the
    * mergeable-summary scale path. */
  def qStatsAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        // [[graft.functions.QuantizedPercentiles]] rather than the
        // built-in `percentile`: the same value→count shape (exchange
        // bounded by the distinct count, the compression that wins at
        // scale) with primitive open-addressed arrays instead of the
        // built-in's boxed OpenHashMap[AnyRef, Long] (the constant
        // factor that dominated this row: the 99%-distinct price column
        // alone was 1.37 s of the 1.5 s sf0.1 row). Measured min-of-3, values
        // bit-identical to the built-in: sf0.1 1.79 → 0.97 s, sf3
        // 1.85 → 0.99 s — faster than BOTH prior shapes at BOTH
        // scales (the built-in-vs-ExactPercentiles trade was boxing vs
        // compression; this keeps the compression and drops the
        // boxing; OPTIMIZATION_r16.md).
        round(QuantizedPercentiles.percentiles(s,
          col("l_quantity"), 0.5)(0), 4).as("p50_qty"),
        round(QuantizedPercentiles.percentiles(s,
          col("l_extendedprice"), 0.9)(0), 4).as("p90_price"),
        round(stddev_samp(col("l_extendedprice")), 4).as("sd_price"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 4)
          .as("corr_qp"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4)
          .as("cov_qp"))
      .orderBy("l_returnflag")

  /** The billions-per-group SCALE PATH for [[qStatsAgg]]'s percentiles:
    * `percentile_approx` (KLL/GK-style MERGEABLE summary — constant
    * memory per group, partial-aggregable, no per-group sort buffer).
    *
    * Driver-verifiable contract (round-8 verdict "next" #1): DuckDB's
    * `approx_quantile` is a different sketch (t-digest), so value-level
    * parity on the ESTIMATES is impossible by nature — instead the row
    * emits, per group, the EXACT percentiles (hash-verified against the
    * oracle's `quantile_cont`, the q_stats_agg precedent) plus a
    * deterministic accuracy verdict: |approx − exact| ≤ max(1%·|exact|,
    * 0.01) as 0/1. The sketch is deterministic on fixed data and at
    * accuracy 2000 its rank error is ≤ n/2000 rows — an order of
    * magnitude inside the 1% envelope on these distributions (measured
    * ≈ 0.1% at sf3); the oracle states the verdict as literal 1, so
    * any accuracy regression hash-fails the row. Both price
    * percentiles come from ONE buffer per aggregate (array
    * percentages), not one buffer each — the sketch build is the
    * row's dominant cost. */
  def qStatsApprox(s: SparkSession, dir: String): DataFrame = {
    def ok(a: org.apache.spark.sql.Column,
        e: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      (abs(a - e) <= greatest(abs(e) * 0.01, lit(0.01))).cast("int")
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        // Both domains here are quantized (integer quantities, cent
        // prices), so a value→count map IS the compression: the same
        // primitive aggregate as qStatsAgg, one buffer serving both
        // price quantiles.
        QuantizedPercentiles.percentiles(s, col("l_quantity"), 0.5)(0)
          .as("e50"),
        QuantizedPercentiles.percentiles(s,
          col("l_extendedprice"), 0.9, 0.99).as("e9x"),
        expr("percentile_approx(l_quantity, 0.5, 2000)").as("a50"),
        expr("percentile_approx(l_extendedprice, array(0.9, 0.99), 2000)")
          .as("a9x"))
      .select(col("l_returnflag"),
        round(col("e50"), 4).as("p50_qty"),
        round(col("e9x")(0), 4).as("p90_price"),
        round(col("e9x")(1), 4).as("p99_price"),
        ok(col("a50"), col("e50")).as("ap50_ok"),
        ok(col("a9x")(0), col("e9x")(0)).as("ap90_ok"),
        ok(col("a9x")(1), col("e9x")(1)).as("ap99_ok"))
      .orderBy("l_returnflag")
  }

  /** GROUP BY ... HAVING. */
  def qHaving(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_suppkey"))
      .agg(round(sum("l_quantity"), 4).as("sum_qty"))
      .filter(col("sum_qty") > 15000.0)
      .orderBy("l_suppkey")

  /** NULL-semantics filters (mirror of reference mpp.test:75-159): synthesize
    * NULLs, then exercise IS NULL / IN / OR / modulo predicates. */
  def qFiltersNull(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .withColumn("k",
        when(col("o_orderkey") % 7 === 0, lit(null)).otherwise(col("o_custkey")))
      .filter(col("k").isNull || (col("k") % 100 === 3 && col("o_totalprice") > 100000.0))
      .select(col("o_orderkey"), col("k"))
      .orderBy("o_orderkey")

  /** Scalar functions in projections (mirror of reference filter/update
    * tests: abs, upper, modulo, date arithmetic). */
  def qScalarFns(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_orderkey") % 997 === 0)
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        round(abs(col("l_discount") - 0.05), 4).as("abs_disc"),
        upper(col("l_returnflag")).as("flag_u"),
        (col("l_linenumber") % 2).as("ln_mod2"),
        (col("l_shipdate") + expr("INTERVAL 1 DAY")).cast("date").as("ship_plus1"))
      .orderBy("l_orderkey", "l_linenumber")

  /** Time-bucketed aggregate: orders per month. */
  def qDateAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 4).as("total"))
      .orderBy("month")

  /** Hourly tumbling-window aggregate over the events table. The
    * group key is the 8-byte truncated TIMESTAMP; the string form the
    * driver compares is produced AFTER aggregation, so the per-row
    * work and the shuffle keys never touch timestamp→string
    * formatting (grid-sized, not data-sized — same result, the cast
    * commutes with the grouping because it is injective per group). */
  def qEventsHourly(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .select(col("hour_ts").cast("string").as("hour"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy("hour", "event_type")

  /** Time-series gap-fill / resampling: densify the hourly counts to a
    * complete hour × event_type grid, zero-filling hours with no
    * events — the step every downstream time-series model (anomaly
    * detection, forecasting, rate alerting) needs before a window
    * function can be trusted (a lag over sparse rows silently skips
    * the empty periods). Scale shape: the grid is generated AFTER
    * aggregation (hours × types — calendar-bounded, never data-sized),
    * via `sequence` + `explode` off the 1-row bounds aggregate; the
    * left join back is grid-sized. The raw scan cost is exactly
    * [[qEventsHourly]]'s aggregate. */
  def qGapFill(s: SparkSession, dir: String): DataFrame =
    hourlyGrid(s, dir)
      .select(col("hour").cast("string").as("hour"), col("event_type"),
        col("n"))
      .orderBy("hour", "event_type")

  /** Shared dense hour × event_type grid (timestamp-typed hour, zero-
    * filled counts) — [[qGapFill]]'s output before stringification, and
    * [[qAnomaly]]'s input. */
  private def hourlyGrid(s: SparkSession, dir: String): DataFrame = {
    val hourly = t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val grid = hourly.agg(min("hour").as("lo"), max("hour").as("hi"))
      .select(explode(sequence(col("lo"), col("hi"),
        expr("interval 1 hour"))).as("hour"))
      .crossJoin(hourly.select("event_type").distinct())
    grid.join(hourly, Seq("hour", "event_type"), "left")
      .select(col("hour"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  /** Rolling z-score anomaly detection over the gap-filled hourly series
    * — the rate-alerting pass the gap-fill exists for: each hour's count
    * is scored against the trailing 24 COMPLETE hours (zero-filled, so a
    * silent outage is a legitimate −z, not a missing row), and hours with
    * |z| ≥ 2.5 are flagged. The first 24 hours per series have no full
    * baseline and are skipped, as is any window with zero variance.
    *
    * Scale shape: the grid is calendar-sized (never data-sized), so the
    * window runs over hours × types rows — one exchange on event_type,
    * each series' frame a bounded 24-row buffer. The raw-event cost is
    * the same single aggregate as [[qEventsHourly]]. Both engines
    * evaluate avg/stddev over the identical deterministic 24-row frame;
    * z is rounded to 4 decimals BEFORE the threshold test so the flag
    * set cannot disagree on a last-ulp difference. */
  def qAnomaly(s: SparkSession, dir: String): DataFrame = {
    val frame = Window.partitionBy("event_type").orderBy("hour")
      .rowsBetween(-24, -1)
    val series = Window.partitionBy("event_type").orderBy("hour")
    hourlyGrid(s, dir)
      .withColumn("mu", avg("n").over(frame))
      .withColumn("sd", stddev_samp("n").over(frame))
      .withColumn("rn", row_number().over(series))
      .where(col("rn") > 24 && col("sd") > 0)
      .withColumn("z", round((col("n") - col("mu")) / col("sd"), 4))
      .where(abs(col("z")) >= 2.5)
      .select(col("hour").cast("string").as("hour"), col("event_type"),
        col("n"), round(col("mu"), 4).as("mu"), col("z"))
      .orderBy("hour", "event_type")
  }

  /** PIVOT — long-to-wide reshaping (source rows × language columns).
    * The value list is EXPLICIT, which is the 100 TB-correct form: with
    * it the pivot is a single pass (one hash aggregate whose grouping
    * emits fixed columns); without it Spark must first run a distinct
    * scan over the pivot column to discover the schema. Absent cells
    * zero-filled (the oracle's FILTER form never yields NULL). */
  def qPivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy("source")
      .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("source")

  /** Cohort retention — the canonical product-analytics matrix: users
    * grouped by first-seen date (their cohort), counted on each later
    * active day as an offset from that cohort date. The distinct
    * (user, day) activity relation makes the final count exact WITHOUT
    * a count-distinct: a user contributes at most one row per
    * (cohort, day_offset) cell because the offset determines the day.
    * Scale shape: ONE events-sized exchange total — the per-user
    * aggregate computes the cohort minimum and the distinct active-day
    * set together (map-side partial set union; the set is bounded by
    * the calendar window, ≤ a few hundred dates, NOT by data size),
    * then explodes user-days into the tiny cohort×offset matrix.
    * Measured at sf30 (30 M events): this shape 3.9 s vs 4.9 s for
    * distinct + user-window (extra exchange + per-user sort) and 4.6 s
    * for distinct + self-join on user_id (third exchange) — the
    * remaining cost is the scan + single shuffle, which is the floor. */
  def qRetention(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("user_id"), col("ts").cast("date").as("d"))
      .groupBy("user_id")
      .agg(min("d").as("cohort"), collect_set(col("d")).as("days"))
      .select(col("cohort"), explode(col("days")).as("d"))
      .groupBy(col("cohort"),
        datediff(col("d"), col("cohort")).cast("long").as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort", "day_offset")

  /** Semi-structured extraction: parse the JSON `props` payload once
    * per row into a typed struct (`from_json` with an explicit schema —
    * the single-parse path; `get_json_object` would re-parse per field)
    * and aggregate the extracted metric by event type. The 100 TB shape
    * of every event/log pipeline: the parse is a per-row map fused into
    * the scan stage, the only shuffle is the low-cardinality final
    * aggregate, and the projection reaches parquet as (event_type,
    * props) only. The oracle computes the identical extraction with
    * DuckDB's JSON operators. */
  def qJsonExtract(s: SparkSession, dir: String): DataFrame = {
    val k = from_json(col("props"),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType)))).getField("k")
    t(s, dir, "events")
      .select(col("event_type"), k.as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), sum("k").as("sum_k"),
        min("k").as("min_k"), max("k").as("max_k"),
        round(avg("k"), 4).as("avg_k"))
      .orderBy("event_type")
  }

  /** Scalar subquery through SQL (Catalyst subquery rewrite). */
  def qSubqueryScalar(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("g_orders_sub")
    s.sql(
      """SELECT o_orderkey, round(o_totalprice, 4) AS o_totalprice
        |FROM g_orders_sub
        |WHERE o_totalprice > (SELECT 1.5 * avg(o_totalprice) FROM g_orders_sub)
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** Correlated EXISTS subquery (decorrelated to a semi join by Catalyst). */
  def qCorrelatedExists(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer").createOrReplaceTempView("g_cust_ce")
    t(s, dir, "orders").createOrReplaceTempView("g_ord_ce")
    s.sql(
      """SELECT c_custkey, c_name
        |FROM g_cust_ce
        |WHERE EXISTS (
        |  SELECT 1 FROM g_ord_ce
        |  WHERE o_custkey = c_custkey AND o_totalprice > 400000.0
        |    AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin)
  }

  /** CTE (TPC-H Q15 style): supplier(s) with maximum revenue.
    *
    * The max is joined rather than filtered through a scalar subquery:
    * a scalar subquery plans as a SEPARATE query that re-scans and
    * re-aggregates the fact table, while the join form keeps both
    * `revenue` consumers in one physical plan where exchange reuse
    * computes the aggregate once. */
  def qCte(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem").createOrReplaceTempView("g_li_cte")
    s.sql(
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |         round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS total_revenue
        |  FROM g_li_cte GROUP BY l_suppkey)
        |SELECT supplier_no, total_revenue
        |FROM revenue
        |JOIN (SELECT max(total_revenue) AS m FROM revenue) ON total_revenue = m
        |ORDER BY supplier_no""".stripMargin)
      .select(col("supplier_no"), col("total_revenue"))
  }

  /** GROUPING SETS through SQL. */
  def qGroupingSets(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("g_ord_gs")
    s.sql(
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS priority,
        |       count(1) AS n
        |FROM g_ord_gs
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY status, priority""".stripMargin)
  }

  /** Cross join (cartesian) of two small dims. */
  def qCrossJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "region").crossJoin(t(s, dir, "nation"))
      .select(col("r_name"), col("n_name"))
      .orderBy("r_name", "n_name")

  /** Approximate distinct (HLL++) — the 100 TB path for distinct counts.
    * Driver-verifiable contract (round-8 verdict "next" #1): the HLL
    * estimate itself is sketch-specific (DuckDB's approx_count_distinct
    * is a different HLL implementation — value parity impossible by
    * nature), so the row emits per group the EXACT distinct count
    * (hash-verified) plus a deterministic accuracy verdict:
    * |approx − exact| ≤ 3·rsd·exact at the default rsd = 5% (the
    * three-sigma envelope of the estimator; measured error on the test
    * data ≈ 1%). The sketch is deterministic on fixed data; the oracle
    * states the verdict as literal 1, so an accuracy regression
    * hash-fails the row.
    *
    * Plan shape, third generation. Round 9: `countDistinct` +
    * `approx_count_distinct` in ONE agg makes Catalyst's distinct
    * rewrite key the PARTIAL HLL by (event_type, user_id) — a 52-long
    * sketch buffer per distinct PAIR and a 54-column shuffle (measured
    * 30.8 s at the 1000×-events mirror); deduping the pairs first is
    * bit-identical HLL output (duplicate-insensitive registers) with a
    * 2-column shuffle (30.8 → ~4 s). Round 10 removes even that: the
    * exact side is a [[graft.functions.BitmapDistinctAgg]], so BOTH
    * aggregates run in one scan with NO row-level exchange at all —
    * the shuffle carries |groups| × |partitions| compressed bitmaps +
    * HLL sketches. The dedup-first exchange was the row's dominant
    * term at the seventh decade (2B rows: 193 s, vs the oracle's 65 —
    * the exchange IS corpus-sized); the bitmap exchange is KB-scale
    * at any size. Estimates are bit-identical again: HLL registers
    * are max-based, so raw vs deduped input cannot differ. */
  def qApproxDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        graft.functions.BitmapDistinct.distinctCount(s, col("user_id"))
          .as("exact_users"),
        approx_count_distinct(col("user_id")).as("approx"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx") - col("exact_users")) <=
          col("exact_users") * 0.15).cast("int").as("approx_ok"))
      .orderBy("event_type")

  // ----- TPC-H-breadth pack (round 16) ---------------------------------
  // The reference's own TODO names TPC-H/DS (README.md:121-122) but ships
  // no such queries; these exercise the optimizer shapes none of the rows
  // above do — disjunctive multi-range predicates (Q19), correlated
  // EXISTS/NOT-EXISTS chains with non-equi correlation (Q21), having-
  // subquery stars (Q18), group-agg thresholds against a grand-total
  // scalar (Q11), outer-join count distributions (Q13), scalar-subquery +
  // anti-join combos (Q22), and nation-pair volume splits (Q7).

  /** Q19-class: disjunctive multi-range predicate across a join.
    *
    * The disjunction mixes both tables, so it cannot push down whole —
    * but each table's IMPLIED local predicate can: part is pre-filtered
    * to the three brands (and the size hull), lineitem to the quantity
    * hull, so both scans prune before the join and the residual OR
    * evaluates on the joined stream. */
  def qDisjunctiveRanges(s: SparkSession, dir: String): DataFrame = {
    val arms = Seq(
      ("Brand#12", 1, 15, 1.0, 11.0),
      ("Brand#23", 10, 25, 10.0, 20.0),
      ("Brand#3", 20, 35, 20.0, 30.0))
    val p = t(s, dir, "part")
      .filter(col("p_brand").isin(arms.map(_._1): _*) &&
        col("p_size").between(1, 35))
      .select("p_partkey", "p_brand", "p_size")
    val li = t(s, dir, "lineitem")
      .filter(col("l_quantity").between(1.0, 30.0))
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    val disj = arms.map { case (b, s0, s1, q0, q1) =>
      col("p_brand") === b && col("p_size").between(s0, s1) &&
        col("l_quantity").between(q0, q1)
    }.reduce(_ || _)
    // The brand-pruned part side pins broadcast — the q5 asiaSupp
    // rationale extended to the next dimension up: 3/25 of a table
    // 30× smaller than the fact side, so the broadcast payload is
    // ~0.4% of the lineitem bytes it saves from a shuffle (measured
    // at sf100: 9.7 s hinted shuffle-hash → 2.6 s broadcast — AQE,
    // left unhinted, kept the shuffle join and its full fact
    // exchange). Like q5's pin, this assumes the pruned dim subset
    // stays driver-buildable; at an SF where 12% of part outgrows
    // executor memory the pin must flip to the shuffle join.
    li.join(broadcast(p), li("l_partkey") === p("p_partkey") && disj)
      .agg(
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
          .as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** Q21-class: correlated EXISTS + NOT EXISTS chain with NON-EQUI
    * correlation (another supplier in the same order). Both
    * subqueries become order-key-partitioned semi/anti joins with the
    * `<>` residue evaluated per matching bucket — every join in the
    * chain shuffles on l_orderkey, so the three lineitem legs
    * co-partition into one exchange family; the supplier name join is
    * dimension-scale at the end, after the chain has cut the rows. */
  def qExistsChain(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_returnflag")
    val ord = t(s, dir, "orders")
      .filter(col("o_orderstatus") === "F").select("o_orderkey")
    val base = li.filter(col("l_returnflag") === "R")
      .join(ord.hint("shuffle_hash"), col("l_orderkey") === col("o_orderkey"))
      .select("l_orderkey", "l_suppkey")
    val l2 = li.select(col("l_orderkey").as("k2"), col("l_suppkey").as("s2"))
    val l3 = li.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("k3"), col("l_suppkey").as("s3"))
    val withE = base.join(l2.hint("shuffle_hash"),
      base("l_orderkey") === l2("k2") && base("l_suppkey") =!= l2("s2"),
      "left_semi")
    val withNE = withE.join(l3.hint("shuffle_hash"),
      withE("l_orderkey") === l3("k3") && withE("l_suppkey") =!= l3("s3"),
      "left_anti")
    val sup = t(s, dir, "supplier").select("s_suppkey", "s_name")
    // Aggregate BY SUPPKEY before the name join: the chain's output is
    // still fact-cardinality, so counting first makes the supplier
    // join's exchange |suppliers|-scale instead of a fourth fact-sized
    // shuffle; re-summing by name after the join is identical (names
    // are per-supplier).
    // Rejected rewrite (a negative result, OPTIMIZATION_r16.md
    // "q_exists_chain"): the Q21 aggregate form — one (order,
    // supplier) groupBy computing nr/ns/nrs, EXISTS ⟺ ns ≥ 2,
    // NOT EXISTS ⟺ nrs = 1 —
    // removes all three fact join legs but replaces them with a
    // fact-sized hash aggregate over ~|lineitem| distinct keys, and
    // measured WORSE and erratic (steady min at sf3: 2.1 → 4.9 s,
    // spikes to 16 s under GC pressure). Same finding as the
    // span-dedup agg-vs-window probe: per-partition shuffled-hash join
    // builds beat full-cardinality hash aggregates on this engine.
    val perSupp = withNE.groupBy("l_suppkey").agg(count(lit(1)).as("nw"))
    perSupp.join(sup.hint("shuffle_hash"),
        perSupp("l_suppkey") === sup("s_suppkey"))
      .groupBy("s_name").agg(sum("nw").as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }

  /** Q18-class: having-subquery star (large-volume orders). The
    * IN-subquery form would scan lineitem twice; aggregating ONCE and
    * joining orders to the grouped sums is semantically identical (one
    * row per qualifying order) and the filtered agg output is tiny, so
    * the star joins probe a thresholded set, not the fact table. */
  def qHavingThreshold(s: SparkSession, dir: String): DataFrame = {
    val big = t(s, dir, "lineitem").groupBy("l_orderkey")
      .agg(sum("l_quantity").as("tq")).filter(col("tq") > 300)
    val ord = t(s, dir, "orders")
    val cust = t(s, dir, "customer").select("c_custkey", "c_name")
    // No join hints (optimization round 16): the pinned shuffle_hash
    // forced a full orders exchange (then a customer exchange) just to
    // probe the THRESHOLDED agg output — the >300 set is a sliver at
    // every scale factor (the q5 customer-join lesson: leave
    // data-dependent sides to AQE, which broadcasts the measured-small
    // side and falls back to the shuffle join if a scale ever outgrows
    // it). Measured (steady min, sf3; OPTIMIZATION_r16.md): 1.36 →
    // 1.22 s — the lineitem partial-agg merge is the row's floor; plan:
    // 2 forced exchanges (orders, customer) → 0 (both joins broadcast
    // the measured-small side).
    val oc = ord.join(big, ord("o_orderkey") === big("l_orderkey"))
    oc.join(cust, oc("o_custkey") === cust("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("o_orderdate"),
        round(col("o_totalprice"), 4).as("o_totalprice"),
        round(col("tq"), 4).as("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** Q11-class: group-agg threshold against a grand-total scalar. The
    * grand total re-aggregates the PER-PART sums (KB-scale input), not
    * the fact table; the 1-row total joins broadcast. Nation (25 rows)
    * and the nation-pruned supplier key set (1/25 of a bounded dim —
    * the q5 rationale) pin broadcast, so lineitem never shuffles
    * pre-aggregation; its only exchange is the per-part partial-agg
    * merge. */
  def qValueThreshold(s: SparkSession, dir: String): DataFrame = {
    val nat = t(s, dir, "nation")
      .filter(col("n_name") === "NATION_3").select("n_nationkey")
    val sup = t(s, dir, "supplier")
    val sups = sup.join(broadcast(nat),
      sup("s_nationkey") === nat("n_nationkey")).select("s_suppkey")
    val li = t(s, dir, "lineitem")
      .select("l_partkey", "l_suppkey", "l_extendedprice")
    // The nation-pruned supplier KEY SET pins broadcast — the q5
    // rationale (1/25 of a dimension bounded well below the fact
    // tables at every scale factor); a pinned shuffle_hash here forced
    // the FULL lineitem through a suppkey exchange just to drop 24/25
    // of it (measured 19.0 → ~4 s at sf100 — the round's worst new-row
    // ratio, 8.4×, was exactly this shuffle).
    val byPart = li.join(broadcast(sups),
        li("l_suppkey") === sups("s_suppkey"))
      .groupBy("l_partkey").agg(sum("l_extendedprice").as("v"))
    val total = byPart.agg(sum("v").as("tv"))
    byPart.join(broadcast(total))
      .filter(col("v") > col("tv") * 0.0002)
      .select(col("l_partkey"), round(col("v"), 4).as("value"))
      .orderBy(col("value").desc, col("l_partkey"))
  }

  /** Q13-class: outer-join count distribution. The priority filter
    * sits on the JOIN (not WHERE — outer-join semantics keep the
    * order-less customers); filtering the right side before a left
    * outer join is the same relation, and it pushes to the scan. The
    * second aggregate's key space is tiny (distinct order counts), so
    * the distribution re-agg is a KB-scale exchange. */
  def qOrderDistribution(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders")
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .select("o_custkey", "o_orderkey")
    val cust = t(s, dir, "customer").select("c_custkey")
    cust.join(ord.hint("shuffle_hash"),
        cust("c_custkey") === ord("o_custkey"), "left_outer")
      .groupBy("c_custkey").agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count").agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** Q22-class: scalar-subquery threshold + anti join (wealthy
    * customers with no urgent order). The 1-row average joins
    * broadcast; the anti join shuffles on the customer key. */
  def qNeverUrgent(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    val avgBal = cust.filter(col("c_acctbal") > 0.0)
      .agg(avg("c_acctbal").as("ab"))
    val urgent = t(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
    cust.join(broadcast(avgBal))
      .filter(col("c_acctbal") > col("ab"))
      .join(urgent.hint("shuffle_hash"),
        cust("c_custkey") === urgent("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("numcust"),
        round(sum("c_acctbal"), 4).as("totacctbal"))
      .orderBy("c_mktsegment")
  }

  /** Q7-class: nation-pair volume by year. Suppliers/customers are
    * pre-filtered to the two nations (2/25); the supplier key set pins
    * broadcast (bounded dim, q5 rationale), the customer join is left
    * to AQE, and lineitem's one remaining fact exchange is the
    * orderkey join against the reduced orders side. */
  def qNationVolume(s: SparkSession, dir: String): DataFrame = {
    val pair = Seq("NATION_3", "NATION_8")
    val n1 = t(s, dir, "nation")
      .select(col("n_nationkey").as("nk1"), col("n_name").as("supp_nation"))
    val n2 = t(s, dir, "nation")
      .select(col("n_nationkey").as("nk2"), col("n_name").as("cust_nation"))
    val sup = t(s, dir, "supplier")
      .join(broadcast(n1), col("s_nationkey") === col("nk1"))
      .filter(col("supp_nation").isin(pair: _*))
      .select("s_suppkey", "supp_nation")
    val cust = t(s, dir, "customer")
      .join(broadcast(n2), col("c_nationkey") === col("nk2"))
      .filter(col("cust_nation").isin(pair: _*))
      .select("c_custkey", "cust_nation")
    // Customer join: no hint — AQE broadcasts the 2/25 two-column
    // projection while it fits and shuffles when scale outgrows it
    // (the q5 customer precedent; a pinned shuffle_hash forced a full
    // orders exchange). The supplier KEY SET (2/25 of a bounded dim)
    // pins broadcast, the q5 rationale — without it the FULL lineitem
    // shuffled on suppkey just to keep 2/25 of its rows.
    val oc = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "cust_nation")
    val ls = t(s, dir, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_shipdate",
        "l_extendedprice", "l_discount")
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
    ls.join(oc.hint("shuffle_hash"), ls("l_orderkey") === oc("o_orderkey"))
      .filter(
        (col("supp_nation") === pair(0) && col("cust_nation") === pair(1)) ||
          (col("supp_nation") === pair(1) && col("cust_nation") === pair(0)))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
        .as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing_summary" -> (q1PricingSummary _),
    "q3_top_revenue" -> (q3TopRevenue _),
    "q5_region_revenue" -> (q5RegionRevenue _),
    "q_semi_join" -> (qSemiJoin _),
    "q_anti_join" -> (qAntiJoin _),
    "q_outer_join_agg" -> (qOuterJoinAgg _),
    "q_window_topn" -> (qWindowTopN _),
    "q_window_running" -> (qWindowRunning _),
    "q_topk" -> (qTopK _),
    "q_setops" -> (qSetOps _),
    "q_rollup" -> (qRollup _),
    "q_cube" -> (qCube _),
    "q_distinct_agg" -> (qDistinctAgg _),
    "q_stats_agg" -> (qStatsAgg _),
    "q_stats_approx" -> (qStatsApprox _),
    "q_having" -> (qHaving _),
    "q_filters_null" -> (qFiltersNull _),
    "q_scalar_fns" -> (qScalarFns _),
    "q_date_agg" -> (qDateAgg _),
    "q_events_hourly" -> (qEventsHourly _),
    "q_retention" -> (qRetention _),
    "q_pivot" -> (qPivot _),
    "q_gap_fill" -> (qGapFill _),
    "q_anomaly" -> (qAnomaly _),
    "q_json_extract" -> (qJsonExtract _),
    "q_subquery_scalar" -> (qSubqueryScalar _),
    "q_correlated_exists" -> (qCorrelatedExists _),
    "q_cte" -> (qCte _),
    "q_grouping_sets" -> (qGroupingSets _),
    "q_cross_join" -> (qCrossJoin _),
    "q_approx_distinct" -> (qApproxDistinct _),
    "q_disjunctive_ranges" -> (qDisjunctiveRanges _),
    "q_exists_chain" -> (qExistsChain _),
    "q_having_threshold" -> (qHavingThreshold _),
    "q_value_threshold" -> (qValueThreshold _),
    "q_order_distribution" -> (qOrderDistribution _),
    "q_never_urgent" -> (qNeverUrgent _),
    "q_nation_volume" -> (qNationVolume _),
  )

  val oracles: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | ROUND(SUM(l_quantity), 4) AS sum_qty,
        | ROUND(SUM(l_extendedprice), 4) AS sum_base_price,
        | ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 4) AS sum_disc_price,
        | ROUND(SUM(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 4) AS sum_charge,
        | ROUND(AVG(l_quantity), 4) AS avg_qty,
        | ROUND(AVG(l_extendedprice), 4) AS avg_price,
        | ROUND(AVG(l_discount), 4) AS avg_disc,
        | COUNT(1) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2001-09-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_top_revenue" ->
      """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
        | ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 4) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01'
        |  AND l_shipdate > TIMESTAMP '1998-06-01'
        |GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,
    "q5_region_revenue" ->
      """SELECT n_name,
        | ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 4) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1999-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,
    "q_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |ORDER BY c_custkey""".stripMargin,
    "q_outer_join_agg" ->
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
        | ROUND(COALESCE(SUM(o_totalprice), 0.0), 4) AS total_spent
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey
        |ORDER BY c_custkey""".stripMargin,
    "q_window_topn" ->
      """SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 4) AS o_totalprice, rn
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |        ROW_NUMBER() OVER (PARTITION BY o_custkey
        |          ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |      FROM orders) x
        |WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin,
    "q_window_running" ->
      """SELECT user_id, event_id,
        | ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value
        |FROM events
        |ORDER BY user_id, event_id""".stripMargin,
    "q_topk" ->
      """SELECT l_orderkey, l_linenumber, ROUND(l_extendedprice, 4) AS l_extendedprice
        |FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        |LIMIT 20""".stripMargin,
    "q_setops" ->
      """WITH a AS (SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'),
        |     b AS (SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT')
        |SELECT 'union' AS tag, k FROM (SELECT k FROM a UNION SELECT k FROM b)
        |UNION ALL
        |SELECT 'intersect' AS tag, k FROM (SELECT k FROM a INTERSECT SELECT k FROM b)
        |UNION ALL
        |SELECT 'except' AS tag, k FROM (SELECT k FROM a EXCEPT SELECT k FROM b)
        |ORDER BY tag, k""".stripMargin,
    "q_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
        |       COALESCE(l_linestatus, 'ALL') AS linestatus,
        |       COUNT(1) AS n, ROUND(SUM(l_quantity), 4) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin,
    "q_cube" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        |       COALESCE(o_orderpriority, 'ALL') AS priority,
        |       COUNT(1) AS n, ROUND(AVG(o_totalprice), 4) AS avg_price
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,
    "q_distinct_agg" ->
      """SELECT l_returnflag,
        | COUNT(DISTINCT l_partkey) AS n_parts,
        | COUNT(DISTINCT l_suppkey) AS n_supps,
        | COUNT(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_stats_agg" ->
      """SELECT l_returnflag,
        | ROUND(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
        | ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
        | ROUND(stddev_samp(l_extendedprice), 4) AS sd_price,
        | ROUND(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
        | ROUND(covar_samp(l_quantity, l_extendedprice), 4) AS cov_qp
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // Exact percentiles hash-verified; the approx-accuracy verdicts are
    // literal 1 — the engine side computes them deterministically, so a
    // sketch-accuracy regression hash-fails the row (see qStatsApprox).
    "q_stats_approx" ->
      """SELECT l_returnflag,
        | ROUND(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
        | ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
        | ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99_price,
        | 1 AS ap50_ok, 1 AS ap90_ok, 1 AS ap99_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_approx_distinct" ->
      """SELECT event_type,
        | COUNT(DISTINCT user_id) AS exact_users, 1 AS approx_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_having" ->
      """SELECT l_suppkey, ROUND(SUM(l_quantity), 4) AS sum_qty
        |FROM lineitem GROUP BY l_suppkey
        |HAVING ROUND(SUM(l_quantity), 4) > 15000.0
        |ORDER BY l_suppkey""".stripMargin,
    "q_filters_null" ->
      """SELECT o_orderkey, k FROM (
        |  SELECT o_orderkey, o_totalprice,
        |    CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END AS k
        |  FROM orders) x
        |WHERE k IS NULL OR (k % 100 = 3 AND o_totalprice > 100000.0)
        |ORDER BY o_orderkey""".stripMargin,
    "q_scalar_fns" ->
      """SELECT l_orderkey, l_linenumber,
        | ROUND(ABS(l_discount - 0.05), 4) AS abs_disc,
        | UPPER(l_returnflag) AS flag_u,
        | l_linenumber % 2 AS ln_mod2,
        | CAST(l_shipdate + INTERVAL 1 DAY AS DATE) AS ship_plus1
        |FROM lineitem
        |WHERE l_orderkey % 997 = 0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_date_agg" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        | COUNT(1) AS n, ROUND(SUM(o_totalprice), 4) AS total
        |FROM orders GROUP BY 1 ORDER BY month""".stripMargin,
    "q_events_hourly" ->
      """SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS VARCHAR) AS hour,
        | event_type, COUNT(1) AS n, ROUND(SUM(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    "q_gap_fill" ->
      """WITH h AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
        |             event_type, COUNT(1) AS n
        |           FROM events GROUP BY 1, 2),
        |b AS (SELECT MIN(hour) lo, MAX(hour) hi FROM h),
        |grid AS (SELECT g.hour, t.event_type
        |         FROM (SELECT unnest(generate_series(lo, hi,
        |                 INTERVAL 1 HOUR)) AS hour FROM b) g
        |         CROSS JOIN (SELECT DISTINCT event_type FROM h) t)
        |SELECT CAST(grid.hour AS VARCHAR) AS hour, grid.event_type,
        |  COALESCE(h.n, 0) AS n
        |FROM grid LEFT JOIN h
        |  ON grid.hour = h.hour AND grid.event_type = h.event_type
        |ORDER BY grid.hour, grid.event_type""".stripMargin,
    "q_anomaly" ->
      """WITH h AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
        |             event_type, COUNT(1) AS n
        |           FROM events GROUP BY 1, 2),
        |b AS (SELECT MIN(hour) lo, MAX(hour) hi FROM h),
        |grid AS (SELECT g.hour, t.event_type
        |         FROM (SELECT unnest(generate_series(lo, hi,
        |                 INTERVAL 1 HOUR)) AS hour FROM b) g
        |         CROSS JOIN (SELECT DISTINCT event_type FROM h) t),
        |f AS (SELECT grid.hour, grid.event_type, COALESCE(h.n, 0) AS n
        |      FROM grid LEFT JOIN h
        |        ON grid.hour = h.hour AND grid.event_type = h.event_type),
        |z AS (SELECT hour, event_type, n,
        |        AVG(n) OVER w AS mu, STDDEV_SAMP(n) OVER w AS sd,
        |        ROW_NUMBER() OVER (PARTITION BY event_type
        |                           ORDER BY hour) AS rn
        |      FROM f
        |      WINDOW w AS (PARTITION BY event_type ORDER BY hour
        |                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT CAST(hour AS VARCHAR) AS hour, event_type, n,
        |  ROUND(mu, 4) AS mu, ROUND((n - mu) / sd, 4) AS z
        |FROM z WHERE rn > 24 AND sd > 0
        |  AND ABS(ROUND((n - mu) / sd, 4)) >= 2.5
        |ORDER BY hour, event_type""".stripMargin,
    "q_pivot" ->
      """SELECT source,
        | COUNT(1) FILTER (lang = 'de') AS de,
        | COUNT(1) FILTER (lang = 'en') AS en,
        | COUNT(1) FILTER (lang = 'es') AS es,
        | COUNT(1) FILTER (lang = 'fr') AS fr,
        | COUNT(1) FILTER (lang = 'zh') AS zh
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q_retention" ->
      """WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
        |             FROM events),
        |f AS (SELECT user_id, MIN(d) AS cohort FROM act GROUP BY user_id)
        |SELECT cohort,
        |  CAST(date_diff('day', cohort, d) AS BIGINT) AS day_offset,
        |  COUNT(1) AS n_users
        |FROM act JOIN f USING (user_id)
        |GROUP BY cohort, day_offset
        |ORDER BY cohort, day_offset""".stripMargin,
    "q_json_extract" ->
      """SELECT event_type, COUNT(1) AS n_events,
        | CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
        | MIN(CAST(props->>'k' AS BIGINT)) AS min_k,
        | MAX(CAST(props->>'k' AS BIGINT)) AS max_k,
        | ROUND(AVG(CAST(props->>'k' AS BIGINT)), 4) AS avg_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_subquery_scalar" ->
      """SELECT o_orderkey, ROUND(o_totalprice, 4) AS o_totalprice
        |FROM orders
        |WHERE o_totalprice > (SELECT 1.5 * AVG(o_totalprice) FROM orders)
        |ORDER BY o_orderkey""".stripMargin,
    "q_correlated_exists" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 400000.0
        |    AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "q_cte" ->
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |         ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 4) AS total_revenue
        |  FROM lineitem GROUP BY l_suppkey)
        |SELECT supplier_no, total_revenue
        |FROM revenue
        |WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
        |ORDER BY supplier_no""".stripMargin,
    "q_grouping_sets" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        |       COALESCE(o_orderpriority, 'ALL') AS priority,
        |       COUNT(1) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY status, priority""".stripMargin,
    "q_cross_join" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin,
    "q_disjunctive_ranges" ->
      """SELECT ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
        | COUNT(1) AS n_lines
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        |        AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 25
        |        AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 35
        |        AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q_exists_chain" ->
      """SELECT s_name, COUNT(1) AS numwait
        |FROM supplier, lineitem l1, orders
        |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey AND l3.l_returnflag = 'R')
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 20""".stripMargin,
    "q_having_threshold" ->
      """SELECT c_name, c_custkey, o_orderkey,
        | CAST(o_orderdate AS DATE) AS o_orderdate,
        | ROUND(o_totalprice, 4) AS o_totalprice,
        | ROUND(SUM(l_quantity), 4) AS total_qty
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey HAVING SUM(l_quantity) > 300)
        |GROUP BY c_name, c_custkey, o_orderkey, CAST(o_orderdate AS DATE),
        | ROUND(o_totalprice, 4)
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 100""".stripMargin,
    "q_value_threshold" ->
      """SELECT l_partkey, ROUND(SUM(l_extendedprice), 4) AS value
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name = 'NATION_3'
        |GROUP BY l_partkey
        |HAVING SUM(l_extendedprice) > (
        |  SELECT SUM(l_extendedprice) * 0.0002 FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_3')
        |ORDER BY value DESC, l_partkey""".stripMargin,
    "q_order_distribution" ->
      """SELECT c_count, COUNT(1) AS custdist FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey) x
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q_never_urgent" ->
      """SELECT c_mktsegment, COUNT(1) AS numcust,
        | ROUND(SUM(c_acctbal), 4) AS totacctbal
        |FROM customer
        |WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer
        |  WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    "q_nation_volume" ->
      """SELECT supp_nation, cust_nation, l_year,
        | ROUND(SUM(volume), 4) AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS l_year,
        |    l_extendedprice * (1.0 - l_discount) AS volume
        |  FROM supplier, lineitem, orders, customer, nation n1, nation n2
        |  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        |    AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
        |    AND c_nationkey = n2.n_nationkey
        |    AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
        |      OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))) s
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
  )
}
