package graft.mpp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkTestBase
import graft.sources.ColocatedScan

/** One scan for every engine read: the engine's frames, the relations
  * of its SQL and its copy-on-write rewrites all plan the DSv2
  * [[graft.sources.ColocatedScan]] the catalog path plans, and shard
  * pruning lives in that scan, so building an engine installs no
  * session-wide optimizer rule. */
class EngineScanSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  /** (co-located scans, V1 file-source scans) in a plan, AQE stages and
    * subqueries included. */
  private def scanKinds(p: SparkPlan): (Int, Int) = (
    collectWithSubqueries(p) {
      case b: BatchScanExec if b.scan.isInstanceOf[ColocatedScan] => b
    }.size,
    collectWithSubqueries(p) { case f: FileSourceScanExec => f }.size)

  private def executed(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan
  }

  test("table(), a SELECT through engine SQL and an UPDATE's rewrite " +
      "scan all plan a ColocatedScan and no file-source scan; building " +
      "an engine installs no optimizer rule") {
    def graftRules =
      spark.experimental.extraOptimizations
        .filter(_.getClass.getName.startsWith("graft."))
    val e = new MppEngine(spark, tempDir("graft-onescan"))
    assert(graftRules.isEmpty, graftRules)
    e.sql("CREATE TABLE os(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 4")
    e.sql("INSERT INTO os SELECT id, id * 1.0 FROM range(100)")
    assert(scanKinds(executed(e.table("os").filter(col("k") === 7L))) ==
      (1, 0))
    assert(scanKinds(executed(e.sql("SELECT k, v FROM os WHERE v > 50"))) ==
      (1, 0))
    // The rewrite scan is planned inside the statement: capture the
    // staging write's plan (INSERT staging dirs are `.staging/ins-…`).
    val plans = new java.util.concurrent.CopyOnWriteArrayList[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = {
        val s = qe.executedPlan.toString
        if (s.contains(".staging/") && !s.contains(".staging/ins-"))
          plans.add(qe.executedPlan)
        ()
      }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      e.sql("UPDATE os SET v = -v WHERE k % 10 = 0")
      // The listener bus delivers asynchronously — poll briefly.
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (plans.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    assert(!plans.isEmpty, "the UPDATE wrote no staging dir")
    plans.forEach { p =>
      val (colocated, v1) = scanKinds(p)
      assert(colocated >= 1 && v1 == 0, s"rewrite scan:\n$p")
    }
    // k = 10, 20, …, 90 turn negative; k = 0 becomes -0.0.
    assert(e.table("os").filter(col("v") < 0).count() == 9)
    assert(graftRules.isEmpty, graftRules)
  }

  test("a join over scans that do not read the partition column plans " +
      "(dynamic pruning sees no filter attribute it cannot resolve)") {
    val e = new MppEngine(spark, tempDir("graft-onescan-join"))
    e.sql("CREATE TABLE oj(k BIGINT, g STRING, v DOUBLE) " +
      "PARTITION BY (k) WITH BUCKETS 4")
    e.sql("INSERT INTO oj SELECT id, CAST(id % 3 AS STRING), id * 1.0 " +
      "FROM range(30)")
    val a = e.table("oj").groupBy(col("g")).agg(sum("v").as("s"))
    val b = e.table("oj").groupBy(col("g").as("g2"))
      .agg(count(lit(1)).as("n"))
    val rows = a.join(b, a("g") === b("g2")).select("g", "s", "n")
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(rows == Seq(("0", 135.0, 10L), ("1", 145.0, 10L),
      ("2", 155.0, 10L)))
  }

  test("an engine frame runs bytes-sized, bucket-pure splits as its " +
      "own tasks; the catalog path groups each bucket into one task") {
    val e = new MppEngine(spark, tempDir("graft-onescan-split"))
    e.sql("CREATE TABLE sp(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 2")
    // Four appends: four files in each bucket.
    (0 until 4).foreach { i =>
      e.insertInto("sp", spark.range(i * 1000, (i + 1) * 1000).toDF("k")
        .withColumn("v", col("k") * 1.0))
    }
    e.installColocatedCatalog("spcat")
    def tasks(df: DataFrame): Seq[Seq[Int]] = {
      val key = "spark.sql.files.maxPartitionBytes"
      spark.conf.set(key, "1024")
      try df.queryExecution.executedPlan.collect {
        case b: BatchScanExec => b.partitions.map(_.map {
          case p: graft.sources.BucketInputPartition => p.bucket
        })
      }.flatten
      finally spark.conf.unset(key)
    }
    val engine = tasks(e.table("sp"))
    assert(engine.forall(_.size == 1), engine)
    assert(engine.flatten.groupBy(identity).values.forall(_.size >= 4),
      s"a 4-file bucket must split by bytes: $engine")
    assert(tasks(spark.table("spcat.sp")).map(_.distinct) ==
      Seq(Seq(0), Seq(1)))
  }
}
