package graft

import org.apache.spark.sql.functions._

import graft.mpp.MppEngine

/** DSv2 co-located read path (round-3/4 headline): distributed tables
  * exposed through [[graft.sources.GraftCatalog]] report
  * `KeyGroupedPartitioning(bucket(n, pc))` straight over their existing
  * `bucket=i` directories, so joins/aggregations on the partition
  * column plan with ZERO Exchange and ZERO extra writes — the
  * co-located capability the reference's hash placement implies but
  * leaves TODO (/root/reference/README.md:104-120). */
class ColocatedCatalogSpec extends SparkTestBase {

  private lazy val engine: MppEngine = {
    val e = new MppEngine(spark, tempDir("graft-dsv2"))
    e.sql("CREATE TABLE li(k BIGINT, q DOUBLE) PARTITION BY (k) WITH BUCKETS 4")
    e.sql("CREATE TABLE ord(k BIGINT, p DOUBLE) PARTITION BY (k) WITH BUCKETS 4")
    e.insertInto("li", spark.range(0, 2000).toDF("k")
      .withColumn("q", col("k") * 0.5))
    e.insertInto("ord", spark.range(0, 500).toDF("k")
      .withColumn("p", col("k") * 2.0))
    e.installColocatedCatalog("mppcat")
    e
  }

  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("groupBy on the partition column aggregates with zero Exchange") {
    engine
    val agg = spark.table("mppcat.li").groupBy("k").agg(sum("q").as("s"))
    val plan = finalPlan(agg)
    assert(!plan.contains("Exchange hashpartitioning"),
      "co-located aggregate must not shuffle:\n" + plan.take(2000))
    assert(agg.count() == 2000)
  }

  test("join of two equal-bucket tables on the partition column is Exchange-free") {
    engine
    // Forbid broadcast so a green run proves the storage-partitioned
    // join (both sides key-grouped), not a trivially shuffle-free BHJ.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("mppcat.li").join(spark.table("mppcat.ord"), "k")
      val plan = finalPlan(j)
      assert(!plan.contains("Exchange hashpartitioning"),
        "storage-partitioned join must not shuffle either side:\n" +
          plan.take(2000))
      assert(!plan.contains("BroadcastHashJoin"), plan.take(2000))
      assert(plan.contains("SortMergeJoin") ||
        plan.contains("ShuffledHashJoin"), plan.take(2000))
      assert(j.count() == 500)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("DSv2 reads are row-identical to the engine's own scan") {
    val v2 = spark.table("mppcat.li").orderBy("k").collect()
    val v1 = engine.table("li").orderBy("k").collect()
    assert(v2.toSeq == v1.toSeq)
  }

  test("rowid metadata column on the DSv2 scan matches the engine scan " +
      "bit-for-bit (round-7 missing #3)") {
    engine
    // Second insert → multiple files per bucket, so the manifest bases
    // actually matter (a single-file bucket would pass with base 0).
    engine.sql(
      "CREATE TABLE rid(k BIGINT, v DOUBLE) PARTITION BY (k) WITH BUCKETS 4")
    engine.insertInto("rid", spark.range(0, 300).toDF("k")
      .withColumn("v", col("k") * 1.5))
    engine.insertInto("rid", spark.range(300, 500).toDF("k")
      .withColumn("v", col("k") * 1.5))
    val viaEngine = engine.tableWithRowid("rid")
      .select("k", "rowid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val viaCatalog = spark.table("mppcat.rid")
      .select(col("k"), col("rowid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(viaCatalog == viaEngine)
    // Sanity on the id structure itself: ids are unique, and each
    // bucket's ids live in its own (bucket << 40) block.
    assert(viaCatalog.map(_._2).distinct.size == 500)
    assert(viaCatalog.forall { case (_, rid) => (rid >> 40) < 4 })
    // rowid stays hidden unless referenced: a plain select must not
    // carry it (metadata-column contract).
    assert(!spark.table("mppcat.rid").columns.contains("rowid"))
    // And a filtered rowid scan returns the same ids as the unfiltered
    // scan filtered afterwards (no pushdown may renumber).
    val filtered = spark.table("mppcat.rid").filter(col("k") < 100)
      .select(col("k"), col("rowid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(filtered == viaCatalog.filter(_._1 < 100))
  }

  test("filters and projection still push into the delegate parquet scan") {
    engine
    val q = spark.table("mppcat.li").filter(col("q") > 900).select("k")
    assert(q.count() == 199) // q = k * 0.5 > 900 → k in 1801..1999
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("ColocatedScan"), plan.take(800))
  }

  test("schema-qualified tables resolve through the catalog") {
    engine
    engine.sql("CREATE SCHEMA ana")
    engine.sql("CREATE TABLE ana.f(k BIGINT, v DOUBLE) " +
      "PARTITION BY (k) WITH BUCKETS 4")
    engine.insertInto("ana.f", spark.range(0, 100).toDF("k")
      .withColumn("v", col("k") * 1.5))
    assert(spark.table("mppcat.ana.f").count() == 100)
    // Co-location holds for schema-qualified tables too.
    val agg = spark.table("mppcat.ana.f").groupBy("k").count()
    val plan = finalPlan(agg)
    assert(!plan.contains("Exchange hashpartitioning"), plan.take(1500))
    // SHOW TABLES surfaces the catalog's tables.
    val shown = spark.sql("SHOW TABLES IN mppcat").collect()
      .map(_.getString(1)).toSet
    assert(shown.contains("li") && shown.contains("ord"), shown)
  }

  test("listing cache invalidates on append and COW rewrite") {
    engine
    // Prime the cache.
    assert(spark.table("mppcat.li").count() == 2000)
    // Append: new part files in existing bucket dirs must be visible.
    engine.insertInto("li", spark.range(2000, 2100).toDF("k")
      .withColumn("q", col("k") * 0.5))
    assert(spark.table("mppcat.li").count() == 2100)
    // COW rewrite (UPDATE): swapped bucket dirs must be re-listed.
    engine.sql("UPDATE li SET q = -1 WHERE k = 2050")
    assert(spark.table("mppcat.li").filter(col("q") === -1).count() == 1)
    // DELETE shrinks through the same path.
    engine.sql("DELETE FROM li WHERE k >= 2000")
    assert(spark.table("mppcat.li").count() == 2000)
  }

  test("the engine's cached, version-keyed listing holds exactly the " +
      "files of a fresh uncached listing, before and after an INSERT " +
      "and an UPDATE") {
    engine.sql("CREATE TABLE lpar(k BIGINT, q DOUBLE) " +
      "PARTITION BY (k) WITH BUCKETS 4")
    engine.insertInto("lpar", spark.range(0, 500).toDF("k")
      .withColumn("q", col("k") * 0.5))
    val root = s"${engine.warehouse}/data/lpar"
    val schema = org.apache.spark.sql.types.StructType
      .fromDDL("k BIGINT, q DOUBLE, bucket INT")
    def cached() = {
      val t = engine.catalog.state.liveTable("lpar").get
      engine.listingCache.get(spark, root, schema,
        engine.listingVersionKey(t), t.buckets, engine.manifestDirDiff)
    }
    def files(idx: org.apache.spark.sql.execution.datasources.FileIndex) =
      idx.inputFiles.map(f => new org.apache.hadoop.fs.Path(f).toUri.getPath)
        .toSet
    def check(rows: Long): Unit = {
      assert(spark.table("mppcat.lpar").count() == rows) // warms the cache
      val c = cached()
      assert(c eq cached(), "expected the cached index")
      val fresh = new org.apache.spark.sql.execution.datasources
        .InMemoryFileIndex(spark, Seq(new org.apache.hadoop.fs.Path(root)),
          Map.empty, Some(schema))
      assert(files(fresh).nonEmpty)
      assert(files(c) == files(fresh))
    }
    check(500)
    engine.insertInto("lpar", spark.range(500, 600).toDF("k")
      .withColumn("q", lit(1.0)))
    check(600)
    engine.sql("UPDATE lpar SET q = -1 WHERE k = 7")
    check(600)
    assert(spark.table("mppcat.lpar").filter(col("q") === -1).count() == 1)
  }

  test("NULL partition keys land in the deterministic null bucket and read back") {
    engine
    engine.sql("CREATE TABLE nl(k BIGINT, v DOUBLE) " +
      "PARTITION BY (k) WITH BUCKETS 4")
    engine.insertInto("nl", spark.range(0, 50).toDF("k")
      .withColumn("k", when(col("k") < 5, lit(null)).otherwise(col("k")))
      .withColumn("v", lit(1.0)))
    val t = spark.table("mppcat.nl")
    assert(t.count() == 50)
    assert(t.filter(col("k").isNull).count() == 5)
    // IS NULL prunes to the single deterministic null bucket (S7
    // through the V2 path).
    val q = spark.table("mppcat.nl").filter(col("k").isNull)
    q.collect()
    assert(q.queryExecution.executedPlan.toString.contains("shards 1/4"),
      q.queryExecution.executedPlan.toString.take(1200))
  }

  // Collect across AQE stage boundaries (collect() alone stops at them).
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p.collect {
    case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case n => Seq(n)
  }.flatten

  test("dim-filtered join runtime-prunes fact buckets (DPP through the DSv2 scan)") {
    engine
    // The common shape at scale: big fact joined to a dim whose filter
    // is only knowable at runtime. Spark's dynamic partition pruning
    // feeds the dim's join-key values to the fact ColocatedScan, which
    // must drop every bucket those keys cannot hash into — the
    // reference's shard pruning (S5-S8) applied at runtime.
    val dim = spark.table("mppcat.ord").filter(col("p") === 4.0) // k == 2
    val j = spark.table("mppcat.li").join(dim, "k")
    val rows = j.collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(2L))
    val scans = nodes(j.queryExecution.executedPlan).collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan
    }.collect { case c: graft.sources.ColocatedScan => c }
    val filtered = scans.flatMap(_.runtimeFilteredBuckets)
    assert(filtered.nonEmpty,
      "expected the DPP runtime filter to reach the fact ColocatedScan:\n" +
        j.queryExecution.executedPlan.toString.take(3000))
    // k == 2 hashes to exactly one bucket; the fact scan must schedule
    // strictly fewer than its 4 buckets.
    assert(filtered.head.size == 1, filtered.toString)
  }

  test("INSERT INTO the catalog table goes through the engine's distributed insert") {
    engine
    engine.sql("CREATE TABLE wt(k BIGINT, q DOUBLE) " +
      "PARTITION BY (k) WITH BUCKETS 4")
    // Stock SQL surface, no engine API in sight.
    spark.sql("INSERT INTO mppcat.wt SELECT id AS k, id * 1.5 AS q " +
      "FROM range(0, 100)")
    assert(spark.table("mppcat.wt").count() == 100)
    // The write used the engine's hash placement: every row is in its
    // pmod(murmur3(k), 4) bucket, so a point lookup prunes to 1 shard.
    val q = spark.table("mppcat.wt").filter(col("k") === 42L)
    assert(q.count() == 1)
    assert(q.queryExecution.executedPlan.toString.contains("shards 1/4"))
    // And the engine's own scan sees the same rows (one storage).
    assert(engine.table("wt").count() == 100)
    // NOT NULL enforcement rides along with the delegated insert.
    engine.sql("CREATE TABLE wtn(k BIGINT NOT NULL, v DOUBLE) " +
      "PARTITION BY (k) WITH BUCKETS 2")
    val err = intercept[Exception] {
      spark.sql("INSERT INTO mppcat.wtn SELECT CAST(null AS BIGINT), 1.0")
    }
    assert(err.getMessage != null)
    assert(spark.table("mppcat.wtn").count() == 0)
  }

  test("point lookup on the partition column schedules one bucket") {
    engine
    val q = spark.table("mppcat.li").filter(col("k") === 123L)
    assert(q.count() == 1)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("shards 1/4"),
      "expected static bucket pruning in the scan description:\n" +
        plan.take(2000))
  }

  test("full lifecycle through stock SQL: CREATE ... PARTITIONED BY " +
      "(bucket) / INSERT / co-located read / DROP") {
    engine
    spark.sql("CREATE TABLE mppcat.lc (k BIGINT, v DOUBLE) " +
      "PARTITIONED BY (bucket(4, k))")
    // Same table either way: the engine dialect sees it...
    assert(engine.sql("SHOW TABLES").collect().map(_.getString(0)).contains("lc"))
    spark.sql("INSERT INTO mppcat.lc SELECT id AS k, id * 2.0 AS v " +
      "FROM range(0, 400)")
    assert(spark.table("mppcat.lc").count() == 400)
    // ...and the created layout is the engine's hash placement: the
    // bucket counts match an existing table, so a join on k is
    // storage-partitioned (zero Exchange), proving the DSv2 CREATE
    // produced a genuinely co-located table, not just a directory.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("mppcat.lc").join(spark.table("mppcat.li"), "k")
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"), plan.take(2000))
      assert(j.count() == 400)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    spark.sql("DROP TABLE mppcat.lc")
    assert(!engine.sql("SHOW TABLES").collect().map(_.getString(0)).contains("lc"))
    // DSv2 contract: dropping a missing table is IF EXISTS-friendly.
    spark.sql("DROP TABLE IF EXISTS mppcat.lc")
    // Non-bucket partitioning is rejected with guidance, nothing created.
    val err = intercept[Exception] {
      spark.sql("CREATE TABLE mppcat.bad (k BIGINT, v DOUBLE) " +
        "PARTITIONED BY (v)")
    }
    assert(err.getMessage.contains("bucket"))
    assert(!engine.sql("SHOW TABLES").collect().map(_.getString(0)).contains("bad"))
  }

  test("window functions partitioned on the bucket column run with " +
      "zero Exchange") {
    engine
    // KeyGroupedPartitioning satisfies the window's ClusteredDistribution,
    // so per-key ranking/sessionization over a co-located table needs no
    // shuffle at all — each task ranks its own buckets. At 100 TB this
    // is the difference between a full-table exchange and none for the
    // extremely common "top-n per key" / "order events per entity" shape.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("k").orderBy("q")
    val df = spark.table("mppcat.li")
      .withColumn("rn", row_number().over(w))
    val got = df.filter(col("rn") === 1).select("k", "q")
      .orderBy("k").collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      "co-located window must not shuffle:\n" + plan.take(2000))
    // Correctness: first row per key == min(q) per key from the engine.
    val want = engine.table("li").groupBy("k").agg(min("q").as("q"))
      .orderBy("k").collect()
    assert(got.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      want.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
  }

  test("DELETE FROM cat.t through stock Spark SQL (SupportsDeleteV2), " +
      "no extensions required") {
    engine
    engine.sql("CREATE TABLE dml(k BIGINT, v DOUBLE) " +
      "PARTITION BY (k) WITH BUCKETS 4")
    engine.insertInto("dml", spark.range(0, 100).toDF("k")
      .withColumn("v", col("k") * 1.0))
    // Conditional delete: the condition reaches the engine's COW delete.
    spark.sql("DELETE FROM mppcat.dml WHERE k >= 90 AND v < 95.0")
    assert(spark.table("mppcat.dml").count() == 95)
    assert(engine.table("dml").count() == 95) // one storage, both surfaces
    assert(engine.table("dml").filter(col("k") >= 90).count() == 5)
    // Unconditional DELETE takes the truncate fast path (no rewrite).
    spark.sql("DELETE FROM mppcat.dml")
    assert(spark.table("mppcat.dml").count() == 0)
    assert(engine.table("dml").count() == 0)
  }

  test("UPDATE cat.t through stock Spark SQL delegates to the engine's " +
      "COW update (extensions session)") {
    engine
    engine.sql("CREATE TABLE upd(k BIGINT, v DOUBLE DEFAULT 7.5) " +
      "PARTITION BY (k) WITH BUCKETS 4")
    engine.insertInto("upd", spark.range(0, 100).toDF("k")
      .withColumn("v", col("k") * 1.0))
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    val s2 = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .withExtensions(new graft.mpp.MppExtensions()(_))
      .getOrCreate()
    try {
      s2.conf.set("spark.sql.catalog.mppdml", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.mppdml.warehouse", engine.warehouse)
      // Arbitrary SET expressions + WHERE, same COW semantics as the
      // dialect path (one code path: MppEngine.update).
      s2.sql("UPDATE mppdml.upd SET v = v * 2 + 1 WHERE k < 10")
      val low = engine.table("upd").filter(col("k") < 10)
        .select(sum("v")).head().getDouble(0)
      assert(low == (0 until 10).map(_ * 2.0 + 1).sum, low)
      // DEFAULT resolves to the ENGINE's declared default (surfaced as
      // CURRENT_DEFAULT field metadata), not a null literal.
      s2.sql("UPDATE mppdml.upd SET v = DEFAULT WHERE k = 42")
      assert(engine.table("upd").filter(col("k") === 42)
        .head().getDouble(1) == 7.5)
      // Partition-column SET moves the row to its new bucket: a pruned
      // point lookup on the NEW key finds it.
      s2.sql("UPDATE mppdml.upd SET k = 1000 WHERE k = 55")
      val moved = spark.table("mppcat.upd").filter(col("k") === 1000L)
      assert(moved.count() == 1)
      assert(moved.queryExecution.executedPlan.toString.contains("shards 1/4"))
      // A scalar subquery in a SET VALUE fails with the same clean
      // error as one in WHERE (round-6 ADVICE: it used to slip past
      // the guard and die in an engine-side re-parse).
      val sub = intercept[Exception] {
        s2.sql("UPDATE mppdml.upd SET v = " +
          "(SELECT max(v) FROM mppdml.upd) WHERE k = 1")
      }
      assert(sub.getMessage.contains("subqueries"), sub.getMessage)
    } finally {
      org.apache.spark.sql.SparkSession.clearActiveSession()
      org.apache.spark.sql.SparkSession.clearDefaultSession()
      org.apache.spark.sql.SparkSession.setDefaultSession(spark)
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
    }
  }

  test("MERGE INTO cat.t through stock Spark SQL delegates to the " +
      "engine's bucket-local COW upsert (extensions session)") {
    engine
    engine.sql("CREATE TABLE mrg(k BIGINT, v DOUBLE) " +
      "PARTITION BY (k) WITH BUCKETS 4")
    engine.insertInto("mrg", spark.range(0, 10).toDF("k")
      .withColumn("v", col("k") * 1.0))
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    val s2 = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .withExtensions(new graft.mpp.MppExtensions()(_))
      .getOrCreate()
    try {
      s2.conf.set("spark.sql.catalog.mppmrg", "graft.sources.GraftCatalog")
      s2.conf.set("spark.sql.catalog.mppmrg.warehouse", engine.warehouse)
      s2.range(0, 3).toDF("k")
        .withColumn("v", col("k") * 100.0 + 5.0)
        .withColumn("k", col("k") * 5) // keys 0, 5, 10: two match, one new
        .createOrReplaceTempView("mrg_batch")
      // Star actions through the stock parser.
      s2.sql("MERGE INTO mppmrg.mrg t USING mrg_batch s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *")
      val got = engine.table("mrg").orderBy("k")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
      assert(got(0L) == 5.0 && got(5L) == 105.0 && got(10L) == 205.0,
        got.toString)
      assert(engine.table("mrg").count() == 11) // 10 originals + k=10
      // Explicit assignments over both sides.
      s2.sql("MERGE INTO mppmrg.mrg t USING mrg_batch s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET v = t.v + s.v")
      assert(engine.table("mrg").filter(col("k") === 5L)
        .head().getDouble(1) == 210.0)
      // Full clause surface (round-8): conditional WHEN order,
      // matched DELETE, explicit INSERT column list through the stock
      // parser. k=0 deletes (v=5.0 < 100), k=5 and k=10 update through
      // the second clause; k=15 inserts via the explicit list.
      s2.range(0, 4).toDF("k")
        .withColumn("v", col("k") * 100.0 + 5.0)
        .withColumn("k", col("k") * 5) // keys 0, 5, 10, 15
        .createOrReplaceTempView("mrg_b2")
      s2.sql("MERGE INTO mppmrg.mrg t USING mrg_b2 s ON t.k = s.k " +
        "WHEN MATCHED AND s.v < 100 THEN DELETE " +
        "WHEN MATCHED AND s.v < 300 THEN UPDATE SET v = s.v * 2 " +
        "WHEN NOT MATCHED AND s.v > 300 THEN INSERT (k, v) " +
        "VALUES (s.k, s.v + 0.5)")
      val got2 = engine.table("mrg").orderBy("k")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
      assert(!got2.contains(0L), got2.toString)            // deleted
      assert(got2(5L) == 210.0, got2.toString)             // 105*2
      assert(got2(10L) == 410.0, got2.toString)            // 205*2
      assert(got2(15L) == 305.5, got2.toString)            // inserted
      // Unsupported shapes fail with the engine's clean error.
      val err = intercept[Exception] {
        s2.sql("MERGE INTO mppmrg.mrg t USING mrg_batch s ON t.v = s.v " +
          "WHEN MATCHED THEN UPDATE SET *")
      }
      assert(err.getMessage.contains("not supported"), err.getMessage)
      // WHEN NOT MATCHED BY SOURCE through the stock parser (round-9):
      // keys 5/10 match (v := 0), target-only rows with v < 4 delete
      // (k = 1, 2, 3), the rest get +1000.
      s2.range(1, 3).toDF("k")
        .withColumn("v", col("k") * 0.0)
        .withColumn("k", col("k") * 5) // keys 5, 10
        .createOrReplaceTempView("mrg_b3")
      s2.sql("MERGE INTO mppmrg.mrg t USING mrg_b3 s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET v = s.v " +
        "WHEN NOT MATCHED BY SOURCE AND t.v < 4.0 THEN DELETE " +
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = t.v + 1000.0")
      val got3 = engine.table("mrg").orderBy("k")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
      assert(!got3.contains(1L) && !got3.contains(2L) && !got3.contains(3L),
        got3.toString)
      assert(got3(5L) == 0.0 && got3(10L) == 0.0, got3.toString)
      assert(got3(4L) == 1004.0 && got3(9L) == 1009.0 &&
        got3(15L) == 1305.5, got3.toString)
    } finally {
      org.apache.spark.sql.SparkSession.clearActiveSession()
      org.apache.spark.sql.SparkSession.clearDefaultSession()
      org.apache.spark.sql.SparkSession.setDefaultSession(spark)
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
    }
  }

  test("CREATE TABLE with TBLPROPERTIES/COMMENT is rejected, nothing created") {
    engine
    val err = intercept[Exception] {
      spark.sql("CREATE TABLE mppcat.props (k BIGINT) " +
        "PARTITIONED BY (bucket(2, k)) TBLPROPERTIES ('a'='b')")
    }
    assert(err.getMessage.contains("propert"), err.getMessage)
    assert(!engine.sql("SHOW TABLES").collect()
      .map(_.getString(0)).contains("props"))
  }

  test("V2 CTAS: CREATE TABLE ... PARTITIONED BY (bucket) AS SELECT " +
      "creates, loads, and hash-places in one statement") {
    engine
    // Spark composes this from the catalog's createTable + the table's
    // SupportsWrite append — both delegate to the engine, so the rows
    // land in their pmod(murmur3(k), n) buckets and pruning works on
    // the result immediately.
    spark.sql("CREATE TABLE mppcat.ctas PARTITIONED BY (bucket(4, k)) " +
      "AS SELECT id AS k, id * 2.0 AS v FROM range(0, 100)")
    assert(spark.table("mppcat.ctas").count() == 100)
    val q = spark.table("mppcat.ctas").filter(col("k") === 42L)
    assert(q.count() == 1)
    assert(q.queryExecution.executedPlan.toString.contains("shards 1/4"))
    spark.sql("DROP TABLE mppcat.ctas")
  }
}
