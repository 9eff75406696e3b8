package graft.mpp

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Pins `ALTER TABLE … REBUCKET n` — the online bucket-count change
  * (capability superset: the reference fixes shard count at creation,
  * create_distributed_table.cpp:134-140). The contract: one COW
  * rewrite into the new layout, exact rows before and after, pruning
  * and routing consistent with the NEW count immediately, shard
  * bookkeeping re-derived, time travel across the boundary intact,
  * and RESTORE bringing the old count back with the old files. */
class RebucketSpec extends SparkTestBase {

  private def freshEngine(): MppEngine =
    new MppEngine(spark, tempDir("graft-rb-test"))

  private def rows(e: MppEngine, t: String): Map[Long, Double] =
    e.table(t).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  private def liveBucketDirs(e: MppEngine, t: String): Set[Int] = {
    val root = java.nio.file.Paths.get(e.warehouse, "data", t)
    val s = java.nio.file.Files.list(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(p => java.nio.file.Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("bucket="))
        .map(_.getFileName.toString.stripPrefix("bucket=").toInt)
        .toSet
    } finally s.close()
  }

  test("REBUCKET grows and shrinks: exact rows, new-k pruning, " +
      "shard bookkeeping, inserts route under the new layout") {
    val e = freshEngine()
    e.sql("CREATE TABLE rb(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 4")
    e.insertInto("rb", spark.range(0, 1000).toDF("k")
      .withColumn("v", col("k") * 1.0))
    val expect = (0L until 1000L).map(k => k -> k.toDouble).toMap

    e.sql("ALTER TABLE rb REBUCKET 8")
    val t8 = e.catalog.state.liveTable("rb").get
    assert(t8.buckets == 8)
    assert(e.catalog.state.shards.count(_.tableOid == t8.tableOid) == 8)
    assert(rows(e, "rb") == expect)
    // Pruning hashes against the NEW modulus.
    assert(e.explainShards(e.table("rb").filter("k = 7")) == "Shards: 1/8")
    // A post-rebucket insert routes by the new layout and prunes back.
    e.insertInto("rb", spark.range(5000, 5001).toDF("k")
      .withColumn("v", lit(5.0)))
    assert(e.table("rb").filter("k = 5000").count() == 1)
    assert(e.table("rb").count() == 1001)

    e.sql("ALTER TABLE rb REBUCKET 3")
    val t3 = e.catalog.state.liveTable("rb").get
    assert(t3.buckets == 3)
    assert(e.catalog.state.shards.count(_.tableOid == t3.tableOid) == 3)
    assert(e.table("rb").count() == 1001)
    assert(rows(e, "rb") - 5000L == expect)
    assert(e.explainShards(e.table("rb").filter("k = 7")) == "Shards: 1/3")
    // Shrink leaves no live dir beyond the new k (old dirs archived).
    assert(liveBucketDirs(e, "rb").forall(_ < 3))
    // A SECOND engine on the same warehouse sees the new layout.
    val e2 = new MppEngine(spark, e.warehouse)
    assert(e2.table("rb").count() == 1001)
    assert(e2.catalog.state.liveTable("rb").get.buckets == 3)
  }

  test("time travel across REBUCKET: pre-rebucket versions read " +
      "exactly; RESTORE brings the old bucket count back") {
    val e = freshEngine()
    e.sql("CREATE TABLE rt(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 4")
    e.insertInto("rt", spark.range(0, 200).toDF("k")
      .withColumn("v", col("k") * 1.0))
    val vBefore = e.catalog.currentVersionOnDisk
    e.sql("ALTER TABLE rt REBUCKET 8")
    e.sql("UPDATE rt SET v = -1 WHERE k < 10")
    assert(e.tableAsOf("rt", vBefore).count() == 200)
    assert(e.tableAsOf("rt", vBefore)
      .filter(col("v") === -1).count() == 0)
    // RESTORE to the 4-bucket version: files AND k come back.
    e.sql(s"RESTORE TABLE rt TO VERSION AS OF $vBefore")
    val t = e.catalog.state.liveTable("rt").get
    assert(t.buckets == 4, s"bucket count not restored: ${t.buckets}")
    assert(e.catalog.state.shards.count(_.tableOid == t.tableOid) == 4)
    assert(e.table("rt").filter(col("v") === -1).count() == 0)
    assert(e.table("rt").count() == 200)
    assert(e.explainShards(e.table("rt").filter("k = 7")) == "Shards: 1/4")
  }

  test("RESTORE across a SHRINK (grow-back): the restored manifest " +
      "references every file in dirs beyond the current k — nothing " +
      "is stranded for a stray-sweeping VACUUM to delete") {
    val e = freshEngine()
    e.sql("CREATE TABLE rg(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 8")
    e.insertInto("rg", spark.range(0, 500).toDF("k")
      .withColumn("v", col("k") * 1.0))
    val v8 = e.catalog.currentVersionOnDisk
    e.sql("ALTER TABLE rg REBUCKET 4")
    // Restore to the WIDER layout: files come back into bucket dirs
    // 4..7, beyond the pre-restore k=4 — the restored manifest must
    // reference them (a listing bounded by the current k would
    // silently drop them; review-found data-loss path).
    e.sql(s"RESTORE TABLE rg TO VERSION AS OF $v8")
    val t = e.catalog.state.liveTable("rg").get
    assert(t.buckets == 8)
    val mName = e.catalog.state.tableManifests(t.tableOid.toString)
    val manifest = e.loadManifest(mName).get
    assert((0 until 8).forall(k =>
      manifest.exists(_.startsWith(s"bucket=$k/"))),
      s"manifest misses wide-layout dirs: $manifest")
    assert(e.table("rg").count() == 500)
    assert(e.tableAsOf("rg",
      e.catalog.currentVersionOnDisk).count() == 500)
    assert(e.explainShards(e.table("rg").filter("k = 7")) == "Shards: 1/8")
    // End-to-end data-safety: the stray-sweeping default vacuum, with
    // no grace window, finds nothing unreferenced among the restored
    // files.
    e.vacuumTimeTravel(graceMs = 0L)
    assert(e.table("rg").count() == 500)
  }

  test("REBUCKET commits the new bucket count, its shard rows and a " +
      "new manifest pointer in one catalog version") {
    val e = freshEngine()
    e.sql("CREATE TABLE rn(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 2")
    e.insertInto("rn", spark.range(0, 100).toDF("k")
      .withColumn("v", col("k") * 1.0))
    val oid = e.catalog.state.liveTable("rn").get.tableOid
    val before = e.catalog.state.tableManifests(oid.toString)
    val vBefore = e.catalog.currentVersionOnDisk
    e.sql("ALTER TABLE rn REBUCKET 6")
    val versions = (vBefore + 1 to e.catalog.currentVersionOnDisk)
      .map(v => v -> e.catalog.snapshotAt(v).get)
    assert(versions.exists(_._2.tables
      .exists(t => t.tableOid == oid && t.buckets == 6)),
      "no catalog version carries buckets = 6")
    // Every version is either wholly before the REBUCKET or wholly
    // after it: no version pairs the new count with the old files.
    versions.foreach { case (v, st) =>
      val k = st.tables.find(_.tableOid == oid).get.buckets
      val ptr = st.tableManifests.get(oid.toString)
      if (k == 6) {
        assert(st.shards.count(_.tableOid == oid) == 6, s"v$v shards")
        assert(ptr.exists(_ != before), s"v$v kept the old manifest")
      } else {
        assert(k == 2 && ptr.contains(before), s"v$v: k=$k, $ptr")
      }
    }
    assert(e.catalog.state.liveTable("rn").get.buckets == 6)
    assert(e.table("rn").count() == 100)
    assert(e.explainShards(e.table("rn").filter("k = 7")) ==
      "Shards: 1/6")
  }

  test("both orderings of the writer-vs-REBUCKET race fail LOUDLY: " +
      "the layout guard trips a stale-modulus commit, and a rebucket " +
      "with a contended manifest base aborts") {
    val e = freshEngine()
    e.sql("CREATE TABLE rc(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 4")
    e.insertInto("rc", spark.range(0, 100).toDF("k")
      .withColumn("v", col("k") * 1.0))
    val tOld = e.catalog.state.liveTable("rc").get
    // Ordering A — writer commits AFTER a peer's REBUCKET: its rows
    // were routed under the old modulus; the commit must refuse.
    val peer = new MppEngine(spark, e.warehouse)
    peer.sql("ALTER TABLE rc REBUCKET 8")
    val exA = intercept[IllegalStateException] {
      e.commitManifest(tOld,
        Some(MppEngine.ManifestDelta(Set.empty, Vector.empty, None)))
    }
    assert(exA.getMessage.contains("bucket count changed mid-statement"),
      exA.getMessage)
    // Ordering B — a peer commits DURING the relay (the rebucket's
    // captured base is stale at its own commit): the rebucket aborts
    // instead of quietly committing a listing that lost the peer's
    // rows.
    val t8 = e.catalog.state.liveTable("rc").get
    val staleBase = e.catalog.state.tableManifests.get(t8.tableOid.toString)
    peer.insertInto("rc", spark.range(1000, 1010).toDF("k")
      .withColumn("v", lit(1.0)))
    val exB = intercept[IllegalStateException] {
      e.commitManifest(t8,
        Some(MppEngine.ManifestDelta((0 until 8).toSet, Vector.empty,
          staleBase)), failOnContention = true)
    }
    assert(exB.getMessage.contains("concurrent statement committed"),
      exB.getMessage)
    // Neither failed commit moved the table: the peer's rows survive.
    assert(new MppEngine(spark, e.warehouse).table("rc").count() == 110)
  }

  test("a PEER engine with a warm (stale) catalog converges on the " +
      "relaid layout at its next read — refresh-on-read") {
    val e1 = freshEngine()
    e1.sql("CREATE TABLE rp(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 2")
    e1.insertInto("rp", spark.range(0, 100).toDF("k")
      .withColumn("v", col("k") * 1.0))
    val e2 = new MppEngine(spark, e1.warehouse)
    assert(e2.table("rp").count() == 100) // warms e2's cached state k=2
    e1.sql("ALTER TABLE rp REBUCKET 6")
    // e2 commits NOTHING — its next read alone must observe the new
    // metadata (bucket count became mutable; a stale k means pruning
    // under the wrong modulus).
    assert(e2.table("rp").count() == 100)
    assert(e2.catalog.state.liveTable("rp").get.buckets == 6,
      "peer reads must re-align with the published catalog")
    assert(e2.explainShards(e2.table("rp").filter("k = 7")) ==
      "Shards: 1/6")
  }

  test("live reads DURING a relay pin to the last committed version " +
      "(marker present, a bucket mid-swap in its aside dir): exact " +
      "rows, never zero/double; writes and raw dir scans fail loudly") {
    val e = freshEngine()
    e.sql("CREATE TABLE rr(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 4")
    e.insertInto("rr", spark.range(0, 400).toDF("k")
      .withColumn("v", col("k") * 1.0))
    // Simulate REBUCKET's swap loop mid-flight: marker present, and
    // bucket dir 0 sitting in its dot-prefixed aside location (the
    // transient third place a file lives between move-aside and
    // archive).
    val root = java.nio.file.Paths.get(e.warehouse, "data", "rr")
    java.nio.file.Files.write(root.resolve(".rebucket.json"),
      """{"from":4,"to":8}""".getBytes("UTF-8"))
    java.nio.file.Files.move(root.resolve("bucket=0"),
      root.resolve(".swap-bucket=0"))
    // The raw live dirs are missing bucket 0's rows; the pinned read
    // is not — it resolves them through the manifest's aside probe.
    assert(e.table("rr").count() == 400)
    assert(e.table("rr").filter(col("k") === 0).count() == 1)
    // Writes fail FAST at statement start, not at a doomed commit.
    val exW = intercept[IllegalStateException] {
      e.insertInto("rr", spark.range(1000, 1001).toDF("k")
        .withColumn("v", lit(1.0)))
    }
    assert(exW.getMessage.contains("REBUCKET relay"), exW.getMessage)
    intercept[IllegalStateException] {
      e.sql("UPDATE rr SET v = 0 WHERE k = 1")
    }
    intercept[IllegalStateException] {
      e.sql("ALTER TABLE rr REBUCKET 16")
    }
    // Raw bucket-directory scans (the DSv2/co-located path) have no
    // manifest to pin to — loud failure, never a double/zero count.
    e.listingCache.invalidate(root.toString)
    val t = e.catalog.state.liveTable("rr").get
    val exS = intercept[IllegalStateException] {
      e.listingCache.get(spark, root.toString,
        org.apache.spark.sql.types.StructType.fromDDL(
          "k BIGINT, v DOUBLE, bucket INT"),
        e.catalog.state.tableManifests(t.tableOid.toString), t.buckets,
        e.manifestDirDiff)
    }
    assert(exS.getMessage.contains("REBUCKET relay"), exS.getMessage)
    // Relay completes: aside archives... here, moves back; marker off.
    java.nio.file.Files.move(root.resolve(".swap-bucket=0"),
      root.resolve("bucket=0"))
    java.nio.file.Files.delete(root.resolve(".rebucket.json"))
    assert(e.table("rr").count() == 400)
    e.insertInto("rr", spark.range(1000, 1001).toDF("k")
      .withColumn("v", lit(1.0)))
    assert(e.table("rr").count() == 401)
  }

  test("a relay CRASHED between its swap and its catalog commit: " +
      "reads keep serving the pre-rebucket version, writes fail " +
      "loudly, RESTORE converges the layout and clears the marker") {
    val e = freshEngine()
    e.sql("CREATE TABLE rx(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 3")
    e.insertInto("rx", spark.range(0, 300).toDF("k")
      .withColumn("v", col("k") * 1.0))
    val v0 = e.catalog.currentVersionOnDisk
    // Crash-state construction, faithful to the swap's mechanics:
    // every old bucket dir archived (as archiveOrDelete does — the
    // bucket=k path segment kept), the live dirs relaid under k=6
    // with the SAME physical files in OTHER buckets (content hashed
    // under a modulus the catalog does not carry), marker present.
    val root = java.nio.file.Paths.get(e.warehouse, "data", "rx")
    val gen = root.resolve(".archive").resolve("crashsim")
    java.nio.file.Files.createDirectories(gen)
    import scala.jdk.CollectionConverters._
    val bucketDirs = java.nio.file.Files.list(root).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("bucket=")).toVector
    bucketDirs.foreach { d =>
      java.nio.file.Files.move(d, gen.resolve(d.getFileName.toString))
    }
    (0 until 6).foreach { b =>
      java.nio.file.Files.createDirectories(root.resolve(s"bucket=$b"))
    }
    // The relaid copies: the same row content under FRESH file names
    // in shifted dirs — faithful to a real crashed relay, whose live
    // dirs hold the rebucket job's own staged files (new job UUID, so
    // names never collide with the manifest's pre-rebucket entries).
    // A raw scan would see all 300 rows in WRONG buckets (silent
    // mispruning, the r13-advisor failure mode this machinery closes).
    bucketDirs.foreach { d =>
      val oldB = d.getFileName.toString.stripPrefix("bucket=").toInt
      val newB = (oldB + 1) % 6
      java.nio.file.Files.list(gen.resolve(d.getFileName.toString))
        .iterator().asScala.filter(p =>
          !p.getFileName.toString.startsWith(".")).foreach { f =>
          java.nio.file.Files.copy(f,
            root.resolve(s"bucket=$newB")
              .resolve(s"relaid-${f.getFileName}"))
        }
    }
    java.nio.file.Files.write(root.resolve(".rebucket.json"),
      """{"from":3,"to":6}""".getBytes("UTF-8"))
    // A fresh engine on this warehouse boots (poisoning is lazy) and
    // serves the LAST COMMITTED version — exact rows, correct pruned
    // point-reads — while writes stay disabled.
    val e2 = new MppEngine(spark, e.warehouse)
    assert(e2.table("rx").count() == 300)
    assert(e2.table("rx").filter(col("k") === 7).count() == 1)
    intercept[IllegalStateException] {
      e2.insertInto("rx", spark.range(999, 1000).toDF("k")
        .withColumn("v", lit(1.0)))
    }
    // RESTORE is the documented recovery: layout and metadata agree
    // again, marker off, reads/writes live. The relaid dirs beyond
    // the catalog's k (4, 5) must be archived out too — a listing
    // bounded by k=3 would leave them for later scans to double-read.
    e2.sql(s"RESTORE TABLE rx TO VERSION AS OF $v0")
    assert(!java.nio.file.Files.exists(root.resolve(".rebucket.json")))
    assert(e2.table("rx").count() == 300)
    // RESTORE archives files (not dirs): dirs beyond k may remain
    // empty, but no data file may survive in them.
    assert((3 until 6).forall { b =>
      val d = root.resolve(s"bucket=$b")
      !java.nio.file.Files.exists(d) ||
        !java.nio.file.Files.list(d).iterator().asScala
          .exists(_.getFileName.toString.endsWith(".parquet"))
    }, "data files survive beyond the restored bucket count")
    e2.insertInto("rx", spark.range(999, 1000).toDF("k")
      .withColumn("v", lit(1.0)))
    assert(e2.table("rx").count() == 301)
  }

  test("a relay marker on a never-written table pins reads to its " +
      "empty created version (0 rows, never mispruned rows), writes " +
      "fail loudly, and engine bootstrap over the table succeeds") {
    val e = freshEngine()
    e.sql("CREATE TABLE rto(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 2")
    val oid = e.catalog.state.liveTable("rto").get.tableOid.toString
    assert(e.loadManifest(e.catalog.state.tableManifests(oid))
      .contains(Vector.empty))
    val root = java.nio.file.Paths.get(e.warehouse, "data", "rto")
    java.nio.file.Files.createDirectories(root)
    java.nio.file.Files.write(root.resolve(".rebucket.json"),
      """{"from":2,"to":4}""".getBytes("UTF-8"))
    val e2 = new MppEngine(spark, e.warehouse) // bootstrap survives
    assert(e2.table("rto").count() == 0)
    val exW = intercept[IllegalStateException] {
      e2.insertInto("rto", spark.range(0, 10).toDF("k")
        .withColumn("v", lit(1.0)))
    }
    assert(exW.getMessage.contains("REBUCKET relay"), exW.getMessage)
  }

  test("tableChanges across a REBUCKET forces the single-pass diff: " +
      "bucketPasses>1 emits no spurious delete+insert pairs for " +
      "unchanged rows") {
    val e = freshEngine()
    e.sql("CREATE TABLE tcb(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 4")
    e.insertInto("tcb", spark.range(0, 200).toDF("k")
      .withColumn("v", col("k") * 1.0))
    val v1 = e.catalog.currentVersionOnDisk
    e.sql("ALTER TABLE tcb REBUCKET 7")
    e.sql("UPDATE tcb SET v = -5 WHERE k = 3") // the ONLY real change
    val v2 = e.catalog.currentVersionOnDisk
    def changeSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getAs[String]("_change_type"), r.getAs[Long]("k"),
          r.getAs[Double]("v"))).sorted.toSeq
    val want = Seq(("delete", 3L, 3.0), ("insert", 3L, -5.0)).sorted
    assert(changeSet(e.tableChanges("tcb", v1, v2)) == want)
    // Before the fix, a row's before-copy (bucket=pmod(h,4)) and
    // after-copy (bucket=pmod(h,7)) could land in different passes
    // and never cancel — spurious pairs for all ~200 unchanged rows.
    spark.conf.set("graft.changes.bucketPasses", "3")
    try {
      assert(changeSet(e.tableChanges("tcb", v1, v2)) == want,
        "multi-pass diff across a REBUCKET emitted spurious changes")
    } finally spark.conf.unset("graft.changes.bucketPasses")
  }

  test("the loud contended-REBUCKET abort holds with " +
      "graft.manifest.incremental=false (the full-listing fallback " +
      "honors failOnContention)") {
    val e = freshEngine()
    e.sql("CREATE TABLE rcni(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 4")
    e.insertInto("rcni", spark.range(0, 100).toDF("k")
      .withColumn("v", col("k") * 1.0))
    val t = e.catalog.state.liveTable("rcni").get
    val staleBase = e.catalog.state.tableManifests.get(t.tableOid.toString)
    val peer = new MppEngine(spark, e.warehouse)
    peer.insertInto("rcni", spark.range(500, 510).toDF("k")
      .withColumn("v", lit(1.0)))
    spark.conf.set("graft.manifest.incremental", "false")
    try {
      val ex = intercept[IllegalStateException] {
        e.commitManifest(t,
          Some(MppEngine.ManifestDelta((0 until 4).toSet, Vector.empty,
            staleBase)), failOnContention = true)
      }
      assert(ex.getMessage.contains("concurrent statement committed"),
        ex.getMessage)
    } finally spark.conf.unset("graft.manifest.incremental")
    // The peer's committed rows survive the refused commit.
    assert(new MppEngine(spark, e.warehouse).table("rcni").count() == 110)
  }

  test("REBUCKET to the same count is a no-op; other ALTER forms " +
      "still reject") {
    val e = freshEngine()
    e.sql("CREATE TABLE rs(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 2")
    e.insertInto("rs", spark.range(0, 10).toDF("k")
      .withColumn("v", col("k") * 1.0))
    val vBefore = e.catalog.currentVersionOnDisk
    e.sql("ALTER TABLE rs REBUCKET 2")
    assert(e.catalog.currentVersionOnDisk == vBefore,
      "same-count REBUCKET must not commit a version")
    intercept[UnsupportedOperationException] {
      e.sql("ALTER TABLE rs RENAME TO rs2")
    }
    intercept[IllegalArgumentException] {
      e.rebucket("rs", 0)
    }
  }

  test("a REBUCKET that fails BEFORE its first bucket swap clears the " +
      "relay marker — the layout is untouched, so writes resume with " +
      "no RESTORE (a mid-swap crash still keeps the marker: the " +
      "crashed-relay case above)") {
    val e = freshEngine()
    e.sql("CREATE TABLE rbf(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 4")
    e.insertInto("rbf", spark.range(0, 100).toDF("k")
      .withColumn("v", col("k") * 1.0))
    // Fail the relay in its STAGING phase (before any live-dir
    // rename): stageAndSwap parses this knob before writing anything.
    spark.conf.set("graft.optimize.taskBytes", "bogus")
    try intercept[NumberFormatException] {
      e.sql("ALTER TABLE rbf REBUCKET 8")
    } finally spark.conf.unset("graft.optimize.taskBytes")
    val marker = java.nio.file.Paths.get(
      e.warehouse, "data", "rbf", ".rebucket.json")
    assert(!java.nio.file.Files.exists(marker),
      "a pre-swap REBUCKET failure must remove the relay marker")
    assert(e.catalog.state.liveTable("rbf").get.buckets == 4)
    assert(e.table("rbf").count() == 100)
    // Writes resume immediately — the round-14 shape required a
    // manual RESTORE for this no-op failure.
    e.insertInto("rbf", spark.range(100, 110).toDF("k")
      .withColumn("v", lit(1.0)))
    assert(e.table("rbf").count() == 110)
    // And the repaired statement completes normally.
    e.sql("ALTER TABLE rbf REBUCKET 8")
    assert(e.catalog.state.liveTable("rbf").get.buckets == 8)
    assert(e.table("rbf").count() == 110)
    assert(e.explainShards(e.table("rbf").filter("k = 7")) == "Shards: 1/8")
  }
}
