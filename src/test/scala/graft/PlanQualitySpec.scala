package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Plan-shape guards for the 100 TB path: these assertions pin the
  * physical-plan properties that keep the engine scalable — filter
  * pushdown reaching the parquet scan, column pruning shrinking
  * ReadSchema, broadcast joins for dimensions, and whole-stage codegen
  * over the hot expressions. A regression here doesn't change results
  * (the oracle gate stays green) but silently costs orders of magnitude
  * at scale — exactly the class of bug correctness tests can't catch. */
class PlanQualitySpec extends SparkTestBase {

  private def scans(df: DataFrame): Seq[FileSourceScanExec] =
    df.queryExecution.executedPlan.collect { case f: FileSourceScanExec => f }

  test("filters are pushed down to the parquet scan") {
    val li = Tables(spark, sf, "lineitem")
      .filter(col("l_quantity") > 40)
      .select("l_orderkey", "l_quantity")
    val s = scans(li)
    assert(s.nonEmpty)
    val pushed = s.head.metadata("PushedFilters")
    assert(pushed.contains("GreaterThan(l_quantity"), pushed)
  }

  test("column pruning shrinks ReadSchema to the projected columns") {
    val li = Tables(spark, sf, "lineitem").select("l_orderkey", "l_tax")
    val schema = scans(li).head.requiredSchema.fieldNames.toSet
    assert(schema == Set("l_orderkey", "l_tax"), schema)
  }

  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}

  // Collect across AQE stage boundaries (collect() alone stops at them).
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p.collect {
    case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case n => Seq(n)
  }.flatten

  private def readsLineitem(p: SparkPlan): Boolean = nodes(p).exists {
    case f: FileSourceScanExec =>
      f.metadata.get("Location").exists(_.contains("lineitem"))
    case _ => false
  }

  // True iff fact-cardinality lineitem rows reach this node — i.e. the
  // subtree scans lineitem with no aggregate in between (a partial agg
  // collapses cardinality, so post-agg exchanges are cheap by design).
  private def factFlow(p: SparkPlan): Boolean = p match {
    case _ if p.getClass.getSimpleName.contains("Aggregate") => false
    case f: FileSourceScanExec =>
      f.metadata.get("Location").exists(_.contains("lineitem"))
    case a: AdaptiveSparkPlanExec => factFlow(a.executedPlan)
    case q: QueryStageExec => factFlow(q.plan)
    case n => n.children.exists(factFlow)
  }

  /** The scale invariant for fact-side joins: lineitem is never the
    * build side of a broadcast (a driver-built hash table of a
    * data-proportional relation cannot exist at 100×), and at most ONE
    * exchange ever carries fact-cardinality rows. */
  private def assertFactPlanSound(df: DataFrame): Unit = {
    df.collect() // finalize the adaptive plan
    val all = nodes(df.queryExecution.executedPlan)
    val liBroadcasts = all.collect {
      case b: BroadcastExchangeExec if readsLineitem(b) => b }
    assert(liBroadcasts.isEmpty, "lineitem must never be broadcast")
    val factShuffles = all.collect {
      case e: ShuffleExchangeExec if factFlow(e.child) => e }
    assert(factShuffles.size <= 1,
      s"lineitem shuffled at full cardinality ${factShuffles.size} times")
  }

  test("q5: bounded dims broadcast; lineitem never broadcast, shuffled at most once") {
    val df = graft.queries.AnalyticQueries.q5RegionRevenue(spark, sf)
    assertFactPlanSound(df) // runs (and finalizes) the query once
    // The bounded dimension chain (region -> nation -> supplier) still
    // broadcasts; data-proportional sides (orders, customer) must not
    // pin a driver-built hash table — shuffle-hash or AQE's choice.
    assert(nodes(df.queryExecution.executedPlan)
      .exists(_.getClass.getSimpleName.contains("BroadcastHashJoin")),
      "expected the dimension chain to broadcast")
  }

  test("q3: lineitem never broadcast, shuffled at most once") {
    assertFactPlanSound(
      graft.queries.AnalyticQueries.q3TopRevenue(spark, sf))
  }

  // --- TPC-H-breadth pack (round 16): the scale invariants that keep
  // each optimizer shape viable at 100 TB.

  test("q_disjunctive_ranges: implied local predicates reach both " +
      "scans; lineitem never broadcast, one fact shuffle") {
    val df = graft.queries.AnalyticQueries.qDisjunctiveRanges(spark, sf)
    assertFactPlanSound(df)
    // nodes(), not scans(): the joined plan is AQE-wrapped and a plain
    // collect() on the executed plan stops at the adaptive boundary.
    val byTable = nodes(df.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec =>
        f.metadata.get("Location").getOrElse("") ->
          f.metadata.getOrElse("PushedFilters", "")
    }.toMap
    val partPushed = byTable.collect {
      case (loc, p) if loc.contains("part.parquet") => p }.mkString
    val liPushed = byTable.collect {
      case (loc, p) if loc.contains("lineitem") => p }.mkString
    // The disjunction itself mixes both tables and cannot push whole —
    // the IMPLIED hulls must: brands (In) + size hull on part,
    // quantity hull on lineitem.
    assert(partPushed.contains("In(p_brand"), partPushed)
    assert(liPushed.contains("GreaterThanOrEqual(l_quantity,1.0")
      && liPushed.contains("LessThanOrEqual(l_quantity,30.0"), liPushed)
  }

  test("q_exists_chain: lineitem never broadcast; each chain leg " +
      "shuffles its own subset once (≤3 fact exchanges), semi/anti " +
      "joins stay hash, not sort-merge") {
    val df = graft.queries.AnalyticQueries.qExistsChain(spark, sf)
    df.collect()
    val all = nodes(df.queryExecution.executedPlan)
    assert(all.collect {
      case b: BroadcastExchangeExec if readsLineitem(b) => b }.isEmpty,
      "lineitem must never be broadcast")
    val factShuffles = all.collect {
      case e: ShuffleExchangeExec if factFlow(e.child) => e }
    assert(factShuffles.size <= 3, // base + EXISTS leg + NOT-EXISTS leg
      s"EXISTS chain shuffled fact rows ${factShuffles.size} times")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      "chain legs must build hash maps, not sort 4 fact-sized inputs:\n" +
        plan.take(2000))
  }

  test("q_having_threshold: the IN-subquery is one aggregation — " +
      "lineitem scanned+shuffled once, never broadcast") {
    assertFactPlanSound(
      graft.queries.AnalyticQueries.qHavingThreshold(spark, sf))
  }

  test("q_value_threshold: grand-total scalar rides the REUSED " +
      "per-part exchange — lineitem scanned once per branch at most, " +
      "shuffled once, never broadcast") {
    val df = graft.queries.AnalyticQueries.qValueThreshold(spark, sf)
    assertFactPlanSound(df)
  }

  test("q_nation_volume: lineitem never broadcast; at most two fact " +
      "exchanges (supplier leg, then the 2/25-reduced order leg)") {
    val df = graft.queries.AnalyticQueries.qNationVolume(spark, sf)
    df.collect()
    val all = nodes(df.queryExecution.executedPlan)
    assert(all.collect {
      case b: BroadcastExchangeExec if readsLineitem(b) => b }.isEmpty,
      "lineitem must never be broadcast")
    val factShuffles = all.collect {
      case e: ShuffleExchangeExec if factFlow(e.child) => e }
    assert(factShuffles.size <= 2,
      s"nation-pair volume shuffled fact rows ${factShuffles.size} times")
  }

  test("q_order_distribution: the priority filter pushes to the " +
      "orders scan (outer-join condition = right-side pre-filter)") {
    val df = graft.queries.AnalyticQueries.qOrderDistribution(spark, sf)
    val ordPushed = nodes(df.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec
          if f.metadata.get("Location").exists(_.contains("orders")) =>
        f.metadata.getOrElse("PushedFilters", "")
    }.mkString
    assert(ordPushed.contains("Not(EqualTo(o_orderpriority"), ordPushed)
  }

  test("dedup scoring runs inside whole-stage codegen, computed once") {
    val df = graft.queries.DedupQueries.qDedupSimhash(spark, sf)
    df.collect() // finalize THIS query execution's adaptive plan
    // (count() would spawn a separate QueryExecution)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("simhash64"), plan.take(500))
    // The signature computation sits under a WholeStageCodegen span
    // (printed as a `*(n)` operator prefix in the finalized plan).
    assert("""\*\(\d+\) Project \[[^\n]*simhash64""".r
      .findFirstIn(plan).isDefined, plan.take(2000))
    // Non-nullable input keeps the kernel out of inlined isnotnull
    // filters — one evaluation per join side, never inside a Filter.
    assert(!plan.contains("isnotnull(simhash64"), plan.take(2000))
  }

  test("co-bucketed tables join with zero exchanges") {
    graft.sources.BucketedTables.create(spark, "bt_orders",
      Tables(spark, sf, "orders").select("o_orderkey", "o_totalprice"),
      "o_orderkey", 4)
    graft.sources.BucketedTables.create(spark, "bt_lineitem",
      Tables(spark, sf, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_quantity")),
      "o_orderkey", 4)
    val j = graft.sources.BucketedTables
      .colocatedJoin(spark, "bt_orders", "bt_lineitem", "o_orderkey")
    j.collect()
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan.take(800))
    assert(!plan.contains("Exchange hashpartitioning"),
      "co-located join must not shuffle:\n" + plan.take(2000))
  }

  test("distributed-table point lookup schedules only the pruned bucket") {
    val e = new graft.mpp.MppEngine(spark, tempDir("graft-pq"))
    e.sql("CREATE TABLE pq(id BIGINT, v DOUBLE) PARTITION BY (id) WITH BUCKETS 8")
    e.insertInto("pq", spark.range(0, 1000).toDF("id")
      .withColumn("v", col("id") * 0.5))
    val q = e.table("pq").filter(col("id") === 123L)
    // Shard pruning in the scan: every planned split is of one bucket.
    val scan = q.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head
    val buckets = scan.inputPartitions.map {
      case p: graft.sources.BucketInputPartition => p.bucket
    }.toSet
    assert(buckets.size == 1, buckets)
  }
}
