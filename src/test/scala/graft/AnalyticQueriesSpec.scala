package graft

import org.apache.spark.sql.functions._

import graft.queries.AnalyticQueries

class AnalyticQueriesSpec extends SparkTestBase {

  // Every inventory query runs and yields rows on the smoke scale factor.
  for ((name, fn) <- AnalyticQueries.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs and returns rows on sf0.001") {
      val df = fn(spark, sf)
      assert(df.count() > 0, s"$name returned no rows")
    }
  }

  test("q1 aggregates are consistent with raw lineitem") {
    val li = Tables(spark, sf, "lineitem")
    val total = AnalyticQueries.q1PricingSummary(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("count_order")).head().getLong(0)
    val expected = li.filter(org.apache.spark.sql.functions.col("l_shipdate") <=
      org.apache.spark.sql.functions.lit("2001-09-01").cast("timestamp")).count()
    assert(total == expected)
  }

  test("json extraction accounts for every event exactly once") {
    import org.apache.spark.sql.functions.{col, sum}
    val out = AnalyticQueries.qJsonExtract(spark, sf)
    assert(out.agg(sum("n_events")).head().getLong(0) ==
      Tables(spark, sf, "events").count())
    // Every extracted k parsed (no null-poisoned groups): bounds hold.
    assert(out.filter(col("min_k") < 0 || col("max_k") > 99 ||
      col("sum_k").isNull).count() == 0)
  }

  test("semi + anti join partition the customer table w.r.t. predicate") {
    val semi = AnalyticQueries.qSemiJoin(spark, sf).count()
    val urgentCusts = Tables(spark, sf, "orders")
      .filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT")
      .select("o_custkey").distinct().count()
    assert(semi == urgentCusts)
  }

  test("window topn emits at most 3 rows per customer") {
    val df = AnalyticQueries.qWindowTopN(spark, sf)
    val overLimit = df.groupBy("o_custkey").count()
      .filter(org.apache.spark.sql.functions.col("count") > 3).count()
    assert(overLimit == 0)
  }

  test("rollup contains the grand total row") {
    val rows = AnalyticQueries.qRollup(spark, sf)
      .filter("returnflag = 'ALL' AND linestatus = 'ALL'").collect()
    assert(rows.length == 1)
    val totalN = rows.head.getAs[Long]("n")
    assert(totalN == Tables(spark, sf, "lineitem").count())
  }

  test("cross join cardinality = |region| * |nation|") {
    assert(AnalyticQueries.qCrossJoin(spark, sf).count() == 5L * 25L)
  }

  test("q_stats_approx estimates sit inside the exact percentile envelope") {
    // The rows-only scale-path row: DuckDB's t-digest cannot hash-match,
    // so pin the KLL/GK estimates against the EXACT percentiles — each
    // approx value must land within the [p-2, p+2] exact-rank band
    // (accuracy 10000 bounds rank error at N/10000 ≪ 2% here).
    import org.apache.spark.sql.functions._
    val approx = AnalyticQueries.qStatsApprox(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val exact = Tables(spark, sf, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.48)").as("q_lo"),
        expr("percentile(l_quantity, 0.52)").as("q_hi"),
        expr("percentile(l_extendedprice, 0.88)").as("p_lo"),
        expr("percentile(l_extendedprice, 0.92)").as("p_hi"),
        expr("percentile(l_extendedprice, 0.97)").as("t_lo"))
      .collect()
    assert(exact.nonEmpty && approx.nonEmpty)
    exact.foreach { e =>
      val a = approx(e.getString(0))
      assert(a.getDouble(1) >= e.getDouble(1) - 1e-9 &&
        a.getDouble(1) <= e.getDouble(2) + 1e-9,
        s"${e.getString(0)} ap50_qty=${a.getDouble(1)} outside " +
          s"[${e.getDouble(1)}, ${e.getDouble(2)}]")
      assert(a.getDouble(2) >= e.getDouble(3) - 1e-9 &&
        a.getDouble(2) <= e.getDouble(4) + 1e-9,
        s"${e.getString(0)} ap90_price outside envelope")
      assert(a.getDouble(3) >= e.getDouble(5) - 1e-9,
        s"${e.getString(0)} ap99_price below exact p97")
    }
  }

  test("broadcast hint survives into q5 physical plan") {
    val plan = AnalyticQueries.q5RegionRevenue(spark, sf)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"), "expected broadcast joins in q5")
  }

  test("exact_percentiles matches the built-in percentile on continuous " +
      "data across partitions, incl. NULLs and single-value groups") {
    import graft.functions.ExactPercentiles
    val d = spark.range(0, 50000, 1, 16)
      .select((col("id") % 5).as("g"),
        when(col("id") % 13 =!= 0,
          sin(col("id").cast("double")) * 1000 + col("id") % 997)
          .as("v"))
    val rows = d.groupBy("g").agg(
        ExactPercentiles.percentiles(spark, col("v"), 0.5, 0.9, 0.99)
          .as("mine"),
        expr("percentile(v, array(0.5D, 0.9D, 0.99D))").as("ref"))
      .collect()
    rows.foreach { r =>
      val mine = r.getSeq[Double](1)
      val ref = r.getSeq[Double](2)
      mine.zip(ref).foreach { case (m, e) =>
        assert(math.abs(m - e) <= 1e-9 * math.max(1.0, math.abs(e)),
          s"group ${r.get(0)}: $mine vs $ref")
      }
    }
    import spark.implicits._
    val single = Seq((1L, 42.5)).toDF("g", "v").groupBy("g")
      .agg(ExactPercentiles.percentiles(spark, col("v"), 0.25, 0.75)
        .as("p")).head().getSeq[Double](1)
    assert(single == Seq(42.5, 42.5))
    // All-NULL group → NULL, like the built-in.
    val allNull = Seq((1L, Option.empty[Double])).toDF("g", "v")
      .groupBy("g")
      .agg(ExactPercentiles.percentiles(spark, col("v"), 0.5).as("p"))
      .head()
    assert(allNull.isNullAt(1))
  }

  test("quantized_percentiles matches the built-in percentile on both a " +
      "continuous and a duplicate-heavy domain, incl. NULLs, single-value " +
      "and all-NULL groups (round-16 default exact-percentile aggregate)") {
    import graft.functions.QuantizedPercentiles
    // Continuous (nearly all-distinct) — the regime that exposed the
    // built-in's boxed-map constant; and duplicate-heavy (v % 40) — the
    // regime where the value→count compression must be preserved.
    val cont = spark.range(0, 50000, 1, 16)
      .select((col("id") % 5).as("g"),
        when(col("id") % 13 =!= 0,
          sin(col("id").cast("double")) * 1000 + col("id") % 997).as("v"))
    val quant = spark.range(0, 50000, 1, 16)
      .select((col("id") % 5).as("g"),
        when(col("id") % 13 =!= 0, (col("id") % 40).cast("double")).as("v"))
    for (d <- Seq(cont, quant)) {
      val rows = d.groupBy("g").agg(
          QuantizedPercentiles.percentiles(spark, col("v"),
            0.0, 0.5, 0.9, 0.99, 1.0).as("mine"),
          expr("percentile(v, array(0.0D, 0.5D, 0.9D, 0.99D, 1.0D))")
            .as("ref"))
        .collect()
      rows.foreach { r =>
        val mine = r.getSeq[Double](1)
        val ref = r.getSeq[Double](2)
        mine.zip(ref).foreach { case (m, e) =>
          assert(math.abs(m - e) <= 1e-9 * math.max(1.0, math.abs(e)),
            s"group ${r.get(0)}: $mine vs $ref")
        }
      }
    }
    import spark.implicits._
    val single = Seq((1L, 42.5)).toDF("g", "v").groupBy("g")
      .agg(QuantizedPercentiles.percentiles(spark, col("v"), 0.25, 0.75)
        .as("p")).head().getSeq[Double](1)
    assert(single == Seq(42.5, 42.5))
    val allNull = Seq((1L, Option.empty[Double])).toDF("g", "v")
      .groupBy("g")
      .agg(QuantizedPercentiles.percentiles(spark, col("v"), 0.5).as("p"))
      .head()
    assert(allNull.isNullAt(1))
    // −0.0 and 0.0 are distinct map keys ordered like Arrays.sort.
    val zeros = Seq(-0.0, 0.0, -0.0, 1.0).toDF("v").groupBy(lit(1))
      .agg(QuantizedPercentiles.percentiles(spark, col("v"), 0.0, 0.5)
        .as("p")).head().getSeq[Double](1)
    assert(java.lang.Double.doubleToRawLongBits(zeros.head) ==
      java.lang.Double.doubleToRawLongBits(-0.0d))
    assert(zeros(1) == 0.0)
  }

  test("bitmap_distinct equals countDistinct across partitions, skips " +
      "NULLs, rejects non-bigint input") {
    import spark.implicits._
    import graft.functions.BitmapDistinct.distinctCount
    val d = spark.range(0, 100000, 1, 16)
      .select((col("id") % 7).as("g"),
        when(col("id") % 11 =!= 0, col("id") % 5000).as("v"))
    val got = d.groupBy("g")
      .agg(distinctCount(spark, col("v")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = d.groupBy("g").agg(countDistinct(col("v")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    // All-NULL group → 0, like COUNT(DISTINCT).
    val z = Seq((1L, Option.empty[Long]), (1L, None)).toDF("g", "v")
      .groupBy("g").agg(distinctCount(spark, col("v")).as("n"))
      .head().getLong(1)
    assert(z == 0L)
    // The implicit cast widens integrals; a string child must fail
    // analysis, not silently hash.
    intercept[Exception] {
      Seq(("a", "b")).toDF("g", "v").groupBy("g")
        .agg(org.apache.spark.sql.functions.call_function(
          "bitmap_distinct", col("v"))).collect()
    }
  }
}
