package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkTestBase
import graft.mpp.MppEngine

/** Pins the streaming READ side of CDC: `readStream` over a
  * distributed table's change feed with catalog-version offsets.
  * Every run uses `Trigger.AvailableNow` — catch up to the current
  * version, then stop — so the tests drive REAL micro-batch planning
  * (offset resolution, checkpoint resume, V1 getBatch re-basing)
  * with deterministic content. */
class CdcReadSpec extends SparkTestBase {

  private def freshEngine(): MppEngine =
    new MppEngine(spark, tempDir("graft-cdcread"))

  /** Run the feed to AvailableNow through foreachBatch (the memory
    * sink cannot RESUME a checkpoint; foreachBatch can) and return the
    * rows this run emitted. */
  private def runOnce(wh: String, table: String, checkpoint: String,
      starting: Option[String]): Seq[(String, Long, Double)] = {
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Double)]
    val q = CdcRead.changeStream(spark, wh, table, starting)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = b.collect().map(r => (r.getAs[String]("_change_type"),
          r.getAs[Long]("k"), r.getAs[Double]("v")))
        buf.synchronized { buf ++= rows }
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "stream did not drain in 120 s")
    buf.synchronized(buf.toSeq)
  }

  test("version offsets: first run bootstraps from earliest, a resumed " +
      "run sees exactly the interval's net changes") {
    val e = freshEngine()
    e.sql("CREATE TABLE cs(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 4")
    e.insertInto("cs", spark.range(0, 50).toDF("k")
      .withColumn("v", col("k") * 1.0))
    val ckpt = tempDir("graft-cdcread-ckpt")

    val first = runOnce(e.warehouse, "cs", ckpt, Some("earliest"))
    assert(first.length == 50 && first.forall(_._1 == "insert"),
      s"bootstrap: ${first.length}")

    // Quiet interval: resuming with nothing new emits nothing.
    assert(runOnce(e.warehouse, "cs", ckpt, Some("earliest")).isEmpty)

    // Mutations: update (retract/add pair), delete, insert.
    e.sql("UPDATE cs SET v = -1 WHERE k % 10 = 3")   // 5 updates
    e.sql("DELETE FROM cs WHERE k >= 45")            // 5 deletes
    e.insertInto("cs", spark.range(100, 103).toDF("k")
      .withColumn("v", lit(0.0)))                    // 3 inserts
    val changes = runOnce(e.warehouse, "cs", ckpt, Some("earliest"))
      .sorted
    val updatedK = (0L until 50L).filter(k => k % 10 == 3 && k < 45)
    val deletedK = (45L until 50L)
    val want = (
      updatedK.map(k => ("delete", k, k.toDouble)) ++
      updatedK.map(k => ("insert", k, -1.0)) ++
      deletedK.map(k => ("delete", k,
        if (k % 10 == 3) -1.0 else k.toDouble)) ++
      (100L until 103L).map(k => ("insert", k, 0.0))).sorted
    assert(changes == want, s"got $changes")
  }

  test("earliest bootstraps the FULL state even when the table's " +
      "creation has aged out of the retention window") {
    // r11 advisor (medium): `earliest` used to diff from the oldest
    // RETAINED version; once history ages past the snapshot window
    // that version's manifest already holds data, and rows unchanged
    // since then were silently never emitted — a partial replica.
    val e = freshEngine()
    e.sql("CREATE TABLE tr(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 4")
    e.insertInto("tr", spark.range(0, 50).toDF("k")
      .withColumn("v", col("k") * 1.0))
    // Push the creation + initial insert out of the retention window
    // (20 snapshots) with single-key updates: each rewrites ONE
    // bucket, so a from-oldest-retained diff would only ever see that
    // bucket's rows — the silent-partial trap this test pins.
    (1 to 25).foreach(i =>
      e.sql(s"UPDATE tr SET v = ${i * 1000} WHERE k = 1"))
    assert(!e.catalog.retainedVersions.contains(2L),
      "precondition: history must be truncated past the initial insert")
    val ckpt = tempDir("graft-cdcread-ckpt")
    val first = runOnce(e.warehouse, "tr", ckpt, Some("earliest"))
    assert(first.length == 50 && first.forall(_._1 == "insert"),
      s"full-state bootstrap expected 50 inserts, got ${first.length}")
    assert(first.find(_._2 == 1L).exists(_._3 == 25000.0))
    // And the stream continues incrementally from the bootstrap cutoff.
    e.sql("DELETE FROM tr WHERE k = 2")
    val next = runOnce(e.warehouse, "tr", ckpt, Some("earliest"))
    assert(next.map(r => (r._1, r._2)) == Seq(("delete", 2L)),
      s"got $next")
  }

  test("startingVersion=latest consumes only post-start changes") {
    val e = freshEngine()
    e.sql("CREATE TABLE cl(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 2")
    e.insertInto("cl", spark.range(0, 20).toDF("k")
      .withColumn("v", col("k") * 1.0))
    val ckpt = tempDir("graft-cdcread-ckpt")
    // latest: history not replayed
    assert(runOnce(e.warehouse, "cl", ckpt, None).isEmpty)
    e.sql("UPDATE cl SET v = -2 WHERE k = 7")
    val got = runOnce(e.warehouse, "cl", ckpt, None)
      .map(r => (r._1, r._2)).sorted
    assert(got == Seq(("delete", 7L), ("insert", 7L)), got.toString)
  }

  test("ADDITIVE schema evolution mid-stream: offsets drain to the " +
      "evolution point, superviseReplica ALTERs the replica and " +
      "converges with the default populated") {
    val src = freshEngine()
    val dst = freshEngine()
    src.sql("CREATE TABLE se(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 4")
    dst.sql("CREATE TABLE se_rep(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 2")
    src.insertInto("se", spark.range(0, 30).toDF("k")
      .withColumn("v", col("k") * 1.0))
    val ckpt = tempDir("graft-cdcread-ckpt")
    def supervise(): Unit = CdcRead.superviseReplica(spark,
      src.warehouse, "se", dst, "se_rep", "k", ckpt,
      Trigger.AvailableNow())
    supervise() // pre-evolution sync
    assert(dst.table("se_rep").count() == 30)

    // Evolve mid-stream: ADD COLUMN with a frozen default, then touch
    // rows under the NEW schema. The next supervised run must drain,
    // hit the typed evolution stop, ALTER the replica, restart from
    // the same checkpoint, and converge.
    src.sql("ALTER TABLE se ADD COLUMN tier INT DEFAULT 7")
    src.sql("UPDATE se SET tier = 9 WHERE k = 3")
    src.insertInto("se", spark.range(100, 103).toDF("k")
      .withColumn("v", lit(0.5))) // tier takes the default
    supervise()
    val rep = dst.table("se_rep").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Double]("v"),
        r.getAs[Int]("tier"))).sorted.toSeq
    val want = src.table("se").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Double]("v"),
        r.getAs[Int]("tier"))).sorted.toSeq
    assert(rep == want, s"replica diverged: $rep")
    // The default reached BOTH row classes: pre-existing replica rows
    // (via the replica's own exist-default) and post-ALTER inserts.
    assert(rep.count(_._3 == 7) == 32 && rep.count(_._3 == 9) == 1)
    // And the stream keeps running incrementally after the evolution.
    src.sql("UPDATE se SET tier = 11 WHERE k = 5")
    supervise()
    assert(dst.table("se_rep").filter(col("k") === 5)
      .head().getAs[Int]("tier") == 11)
  }

  test("NON-additive evolution (DROP COLUMN) mid-stream fails loudly " +
      "with the typed error and is never auto-resumed") {
    val src = freshEngine()
    val dst = freshEngine()
    src.sql("CREATE TABLE sd(k BIGINT, v DOUBLE, tag STRING) " +
      "PARTITION BY (k) WITH BUCKETS 2")
    dst.sql("CREATE TABLE sd_rep(k BIGINT, v DOUBLE, tag STRING) " +
      "PARTITION BY (k) WITH BUCKETS 2")
    src.insertInto("sd", spark.range(0, 10).toDF("k")
      .withColumn("v", col("k") * 1.0).withColumn("tag", lit("a")))
    val ckpt = tempDir("graft-cdcread-ckpt")
    CdcRead.superviseReplica(spark, src.warehouse, "sd", dst, "sd_rep",
      "k", ckpt, Trigger.AvailableNow())
    src.sql("ALTER TABLE sd DROP COLUMN tag")
    src.sql("UPDATE sd SET v = -1 WHERE k = 1")
    val e = intercept[IllegalStateException] {
      CdcRead.superviseReplica(spark, src.warehouse, "sd", dst, "sd_rep",
        "k", ckpt, Trigger.AvailableNow())
    }
    assert(e.getMessage.contains("narrowed") && e.getMessage.contains("tag"),
      e.getMessage)
    // Nothing was silently applied under the narrowed schema.
    assert(dst.table("sd_rep").count() == 10)
    assert(dst.table("sd_rep").filter(col("k") === 1)
      .head().getAs[Double]("v") == 1.0)
  }

  test("LIVE-stream evolution: offsets clamp to the last pre-ALTER " +
      "version, then the run stops with the typed additive error") {
    // Drive the source by hand — the deterministic way to pin the
    // mid-run contract (a real trigger would race the ALTER): a
    // source constructed BEFORE the ALTER must (1) clamp its offsets
    // so every pre-ALTER batch drains under the declared schema, then
    // (2) fail with CdcSchemaEvolvedException carrying the added
    // column and its frozen default.
    val e = freshEngine()
    e.sql("CREATE TABLE lv(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 2")
    e.insertInto("lv", spark.range(0, 10).toDF("k")
      .withColumn("v", col("k") * 1.0))
    val src = new CdcSource(spark, e.warehouse, "lv", None)
    val preAlter = e.catalog.currentVersionOnDisk
    e.sql("ALTER TABLE lv ADD COLUMN tier INT DEFAULT 7")
    e.sql("UPDATE lv SET tier = 9 WHERE k = 1")
    val lim = org.apache.spark.sql.connector.read.streaming
      .ReadLimit.allAvailable()
    // Poll 1: latest is past the ALTER, but the offset clamps to the
    // last pre-evolution version — nothing under the old schema is
    // skipped, nothing under the new schema leaks into this run.
    val off1 = src.latestOffset(null, lim)
    assert(off1 == org.apache.spark.sql.execution.streaming.runtime
      .LongOffset(preAlter), s"expected clamp to $preAlter, got $off1")
    // Poll 2 (previous batch committed): the run is drained — the
    // typed error fires with everything a supervisor needs.
    val ex = intercept[CdcSchemaEvolvedException] {
      src.latestOffset(
        org.apache.spark.sql.execution.streaming.runtime
          .LongOffset(preAlter), lim)
    }
    assert(ex.additive && ex.atVersion == preAlter + 1, ex.getMessage)
    assert(ex.addedColumns == Seq(("tier", "INT", Some("7"))),
      ex.addedColumns.toString)
  }

  test("replicaPipeline: change feed + MERGE apply converges the " +
      "replica to the source, including deletes, and replays converge") {
    val src = freshEngine()
    val dst = freshEngine()
    src.sql("CREATE TABLE rt(k BIGINT, v DOUBLE, tag STRING) " +
      "PARTITION BY (k) WITH BUCKETS 4")
    dst.sql("CREATE TABLE rt_rep(k BIGINT, v DOUBLE, tag STRING) " +
      "PARTITION BY (k) WITH BUCKETS 2") // different bucketing is fine
    src.insertInto("rt", spark.range(0, 40).toDF("k")
      .withColumn("v", col("k") * 1.0).withColumn("tag", lit("a")))
    src.sql("UPDATE rt SET tag = 'b' WHERE k % 4 = 1")
    val ckpt = tempDir("graft-cdcread-ckpt")

    def sync(): Unit = {
      val q = CdcRead.replicaPipeline(spark, src.warehouse, "rt",
        dst, "rt_rep", "k", ckpt, Trigger.AvailableNow())
      assert(q.awaitTermination(120000), "sync did not drain in 120 s")
      ()
    }
    def state(e: MppEngine, t: String) =
      e.table(t).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
        .sorted.toSeq

    sync()
    assert(state(dst, "rt_rep") == state(src, "rt"))

    src.sql("DELETE FROM rt WHERE k >= 30")
    src.sql("UPDATE rt SET v = v + 100 WHERE k < 5")
    src.insertInto("rt", spark.range(500, 505).toDF("k")
      .withColumn("v", lit(-1.0)).withColumn("tag", lit("n")))
    sync()
    assert(state(dst, "rt_rep") == state(src, "rt"))

    // Replay the same checkpoint with nothing new: no drift.
    sync()
    assert(state(dst, "rt_rep") == state(src, "rt"))

    // Fresh checkpoint from earliest re-applies everything: the
    // retract/add MERGE apply is convergent, not just incremental.
    val ckpt2 = tempDir("graft-cdcread-ckpt")
    val q2 = CdcRead.replicaPipeline(spark, src.warehouse, "rt",
      dst, "rt_rep", "k", ckpt2, Trigger.AvailableNow())
    assert(q2.awaitTermination(120000), "re-apply did not drain")
    assert(state(dst, "rt_rep") == state(src, "rt"))
  }
}
