package graft.mpp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.mpp.BucketPruning.BucketCol

/** Pins `VERSION AS OF` semantics over the versioned catalog: every
  * mutating statement commits a file manifest, replaced files are
  * archived (not deleted), and `tableAsOf` reconstructs the exact row
  * set of any retained version — across UPDATE, DELETE, MERGE,
  * truncate, and OPTIMIZE rewrites. Also pins the retention contract:
  * versions beyond the snapshot window fail with a clear error and
  * the vacuum bounds archive growth. */
class TimeTravelSpec extends SparkTestBase {

  private def freshEngine(): MppEngine =
    new MppEngine(spark, tempDir("graft-tt-test"))

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.select("k", "v").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq

  test("tableAsOf reconstructs each committed state across update/" +
      "delete/optimize/truncate") {
    val e = freshEngine()
    e.sql("CREATE TABLE tt(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 4")
    e.insertInto("tt", spark.range(0, 100).toDF("k")
      .withColumn("v", col("k") * 1.0))
    val v1 = e.catalog.currentVersionOnDisk
    e.sql("UPDATE tt SET v = v + 1000 WHERE k % 2 = 0")
    val v2 = e.catalog.currentVersionOnDisk
    e.sql("DELETE FROM tt WHERE k >= 50")
    val v3 = e.catalog.currentVersionOnDisk
    e.sql("OPTIMIZE tt SORT BY (v)")
    val v4 = e.catalog.currentVersionOnDisk

    val s1 = (0L until 100L).map(k => (k, k.toDouble))
    val s2 = s1.map { case (k, v) => (k, if (k % 2 == 0) v + 1000 else v) }
    val s3 = s2.filter(_._1 < 50)
    assert(rows(e.tableAsOf("tt", v1)) == s1)
    assert(rows(e.tableAsOf("tt", v2)) == s2)
    assert(rows(e.tableAsOf("tt", v3)) == s3)
    assert(rows(e.tableAsOf("tt", v4)) == s3) // optimize: same rows
    assert(rows(e.table("tt")) == s3)

    // Truncate archives too; the pre-truncate version still reads.
    e.sql("DELETE FROM tt")
    assert(e.table("tt").count() == 0L)
    assert(rows(e.tableAsOf("tt", v4)) == s3)
    assert(e.tableAsOf("tt",
      e.catalog.currentVersionOnDisk).count() == 0L)
  }

  test("merge-mutated tables time travel (broadcast COW + insert-only " +
      "append paths both manifest)") {
    val e = freshEngine()
    e.sql("CREATE TABLE tm(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 4")
    e.insertInto("tm", spark.range(0, 20).toDF("k")
      .withColumn("v", col("k") * 1.0))
    val v1 = e.catalog.currentVersionOnDisk
    import spark.implicits._
    Seq((5L, -5.0), (100L, 1.0)).toDF("k", "v")
      .createOrReplaceTempView("tm_b")
    e.sql("MERGE INTO tm t USING (SELECT * FROM tm_b) s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET v = s.v " +
      "WHEN NOT MATCHED THEN INSERT *")
    val v2 = e.catalog.currentVersionOnDisk
    Seq((200L, 2.0)).toDF("k", "v").createOrReplaceTempView("tm_b2")
    e.sql("MERGE INTO tm t USING (SELECT * FROM tm_b2) s ON t.k = s.k " +
      "WHEN NOT MATCHED THEN INSERT *") // insert-only append path
    val s1 = (0L until 20L).map(k => (k, k.toDouble))
    val s2 = s1.map { case (k, v) => (k, if (k == 5) -5.0 else v) } :+
      (100L, 1.0)
    assert(rows(e.tableAsOf("tm", v1)) == s1)
    assert(rows(e.tableAsOf("tm", v2)) == s2)
    assert(rows(e.table("tm")) == (s2 :+ (200L, 2.0)))
  }

  test("versions beyond the retention window fail clearly and vacuum " +
      "bounds archive growth") {
    val e = freshEngine()
    e.sql("CREATE TABLE tv(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 2")
    e.insertInto("tv", spark.range(0, 10).toDF("k")
      .withColumn("v", col("k") * 1.0))
    val vFirst = e.catalog.currentVersionOnDisk
    // Push far past the snapshot window (each update = 1 commit).
    (1 to MppCatalog.RetainSnapshots + 8).foreach { i =>
      e.sql(s"UPDATE tv SET v = $i WHERE k = 0")
    }
    val ex = intercept[IllegalArgumentException] {
      e.tableAsOf("tv", vFirst)
    }
    assert(ex.getMessage.contains("not retained"), ex.getMessage)
    // Oldest retained version still reconstructs exactly.
    val oldest = e.catalog.retainedVersions.head
    val got = rows(e.tableAsOf("tv", oldest))
    assert(got.size == 10 && got.filter(_._1 != 0L)
      .forall { case (k, v) => v == k.toDouble })
    // Vacuum (zero grace) drops unreferenced manifests + archives;
    // retained versions must SURVIVE it.
    e.vacuumTimeTravel(graceMs = 0L)
    assert(rows(e.tableAsOf("tv", oldest)) == got)
    val mDir = java.nio.file.Paths.get(e.catalog.manifestDir)
    val manifests = {
      val s = java.nio.file.Files.list(mDir)
      try s.count() finally s.close()
    }
    // At most one manifest per retained snapshot can stay directly
    // referenced, plus the oldest retained delta's base chain back to
    // its checkpoint (≤ checkpointEvery−1 files) — vacuum must keep
    // the transitive closure or retained versions become unreadable.
    val checkpointEvery =
      spark.conf.get("graft.manifest.checkpointEvery", "10").toInt
    assert(manifests <= MppCatalog.RetainSnapshots + checkpointEvery,
      s"manifest files not swept: $manifests")
    // Unreferenced archive generations were removed (bounded history).
    val arch = java.nio.file.Paths.get(e.warehouse, "data", "tv",
      ".archive")
    if (java.nio.file.Files.exists(arch)) {
      val s = java.nio.file.Files.list(arch)
      val gens = try s.count() finally s.close()
      assert(gens <= MppCatalog.RetainSnapshots + 1,
        s"archive generations not swept: $gens")
    }
  }

  test("SQL temporal syntax: SELECT ... VERSION AS OF / TIMESTAMP AS " +
      "OF resolve through Spark's own grammar") {
    val e = freshEngine()
    e.sql("CREATE TABLE ts(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 2")
    e.insertInto("ts", spark.range(0, 50).toDF("k")
      .withColumn("v", col("k") * 1.0))
    val v1 = e.catalog.currentVersionOnDisk
    Thread.sleep(1100) // timestamp granularity for TIMESTAMP AS OF
    val tsBetween = new java.sql.Timestamp(System.currentTimeMillis())
    Thread.sleep(1100)
    e.sql("UPDATE ts SET v = -1 WHERE k < 25")
    // Stock Spark grammar parses the temporal clause; the engine's
    // plan rewrite resolves it onto tableAsOf. readSql covers both
    // the injected-parser and plain-session paths.
    val viaVersion = MppEngine.readSql(spark,
      s"SELECT round(sum(v), 1) AS s FROM ts VERSION AS OF $v1")
      .head().getDouble(0)
    assert(viaVersion == (0 until 50).sum.toDouble, viaVersion)
    val viaTs = MppEngine.readSql(spark,
      s"SELECT round(sum(v), 1) AS s FROM ts TIMESTAMP AS OF '$tsBetween'")
      .head().getDouble(0)
    assert(viaTs == (0 until 50).sum.toDouble, viaTs)
    val now = MppEngine.readSql(spark,
      "SELECT round(sum(v), 1) AS s FROM ts").head().getDouble(0)
    assert(now == (25 until 50).sum.toDouble - 25.0, now)

    // Temporal CTAS composes: a deep CLONE of any retained version is
    // one statement (the dialect's CTAS source runs through the same
    // plan rewrite).
    e.sql("CREATE TABLE ts_clone PARTITION BY (k) WITH BUCKETS 2 AS " +
      s"SELECT * FROM ts VERSION AS OF $v1")
    assert(e.table("ts_clone").agg(sum("v")).head().getDouble(0) ==
      (0 until 50).sum.toDouble)
  }

  test("TIMESTAMP AS OF string literals resolve under the SESSION " +
      "time zone, not the JVM default") {
    // r11 advisor: java.sql.Timestamp.valueOf parses in the JVM
    // default zone; when spark.sql.session.timeZone differs the
    // clause silently resolved to the wrong catalog version. Pin:
    // express the between-commits instant as a Tokyo wall clock and
    // resolve it under session tz Asia/Tokyo — a JVM-default (UTC)
    // parse would read it 9 h in the future and see the post-update
    // state.
    val e = freshEngine()
    e.sql("CREATE TABLE tz(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 2")
    e.insertInto("tz", spark.range(0, 10).toDF("k")
      .withColumn("v", col("k") * 1.0))
    Thread.sleep(1100)
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(1100)
    e.sql("UPDATE tz SET v = 0 WHERE k >= 0")
    val tokyoWallClock = java.time.LocalDateTime.ofInstant(
      java.time.Instant.ofEpochMilli(betweenMs),
      java.time.ZoneId.of("Asia/Tokyo"))
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    val saved = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
      val got = MppEngine.readSql(spark,
        s"SELECT round(sum(v), 1) AS s FROM tz TIMESTAMP AS OF " +
          s"'$tokyoWallClock'").head().getDouble(0)
      assert(got == (0 until 10).sum.toDouble,
        s"session-zone resolution saw the wrong version: $got")
    } finally spark.conf.set("spark.sql.session.timeZone", saved)
  }

  test("TIMESTAMP AS OF mtime contract: version order always wins; a " +
      "perturbed snapshot mtime only narrows timestamp reachability") {
    // Resolution trusts snapshot-file mtimes (the publish instant).
    // Copying a warehouse without preserving mtimes (cp without -p)
    // degrades TIMESTAMP resolution but can never reorder versions:
    // versionAtTimestamp filters by mtime and then takes the NEWEST
    // version, so a stale version with a bumped mtime is skipped for
    // past instants and shadowed by newer versions for current ones.
    val e = freshEngine()
    e.sql("CREATE TABLE mt(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 2")
    e.insertInto("mt", spark.range(0, 5).toDF("k")
      .withColumn("v", col("k") * 1.0))
    val vOld = e.catalog.currentVersionOnDisk
    Thread.sleep(1100)
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(1100)
    e.sql("UPDATE mt SET v = -1 WHERE k >= 0")
    assert(e.catalog.versionAtTimestamp(betweenMs).contains(vOld))
    // Simulate an mtime-losing copy: the OLD snapshot's mtime jumps
    // to now (newer than the UPDATE's publish instant).
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(e.warehouse, "_mpp_catalog",
        f"v$vOld%05d.json"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() + 60000))
    // Past instants no longer reach vOld (its claimed publish time
    // moved) — they resolve to an older version or none at all…
    assert(!e.catalog.versionAtTimestamp(betweenMs).contains(vOld))
    // …and CURRENT instants still resolve to the newest version:
    // version order wins over the perturbed mtime, history is never
    // reordered.
    assert(e.catalog.versionAtTimestamp(
      System.currentTimeMillis() + 120000).contains(
        e.catalog.retainedVersions.last))
  }

  test("tableChanges keeps exact MULTISET semantics on duplicate full " +
      "rows (round-16 fused single-aggregate diff)") {
    // A table can legitimately hold bit-identical rows; the feed must
    // report the NET multiplicity delta per distinct row, not a
    // distinct-row diff. Before: one copy of each row; after: two —
    // exactly one insert per row must surface.
    val e = freshEngine()
    e.sql("CREATE TABLE tdup(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 2")
    val batch = spark.range(0, 6).toDF("k").withColumn("v", col("k") * 1.5)
    e.insertInto("tdup", batch)
    e.insertInto("tdup", batch) // identical rows again: 2 copies each
    val v1 = e.catalog.currentVersionOnDisk
    e.sql("UPDATE tdup SET v = v + 500 WHERE k = 3")
    val v2 = e.catalog.currentVersionOnDisk
    val got = e.tableChanges("tdup", v1, v2).collect()
      .map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("k"),
        r.getAs[Double]("v"))).sorted.toSeq
    // Both copies of k=3 changed: the feed carries each side TWICE
    // (multiset replication), and the duplicated CARRIED rows in the
    // rewritten bucket cancel 2-against-2, never surfacing.
    assert(got == Seq(("delete", 3L, 4.5), ("delete", 3L, 4.5),
      ("insert", 3L, 504.5), ("insert", 3L, 504.5)).sorted, got)
  }

  test("tableChanges yields the exact net row diff between versions " +
      "(insert / update retract-add / delete / created-in-interval)") {
    val e = freshEngine()
    e.sql("CREATE TABLE tc(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 4")
    e.insertInto("tc", spark.range(0, 40).toDF("k")
      .withColumn("v", col("k") * 1.0))
    val v1 = e.catalog.currentVersionOnDisk
    e.sql("UPDATE tc SET v = v + 500 WHERE k % 4 = 0") // 10 updates
    e.sql("DELETE FROM tc WHERE k >= 30 AND k % 4 <> 0") // deletes
    e.insertInto("tc", spark.range(100, 105).toDF("k")
      .withColumn("v", col("k") * 2.0)) // 5 inserts
    val v2 = e.catalog.currentVersionOnDisk

    def changeSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getAs[String]("_change_type"), r.getAs[Long]("k"),
          r.getAs[Double]("v"))).sorted.toSeq
    val got = changeSet(e.tableChanges("tc", v1, v2))
    val updatedKeys = (0L until 40L).filter(_ % 4 == 0)
    val deletedKeys = (30L until 40L).filterNot(_ % 4 == 0)
    val want = (
      updatedKeys.map(k => ("delete", k, k.toDouble)) ++
      updatedKeys.map(k => ("insert", k, k.toDouble + 500)) ++
      deletedKeys.map(k => ("delete", k, k.toDouble)) ++
      (100L until 105L).map(k => ("insert", k, k * 2.0))).sorted
    assert(got == want)

    // Rows untouched by the interval never appear — even though their
    // buckets were rewritten (COW file granularity cancels verbatim).
    assert(!got.exists { case (_, k, _) => k == 1L || k == 2L })

    // Same-version diff is empty; created-in-interval = all inserts.
    assert(e.tableChanges("tc", v2, v2).count() == 0L)
    e.sql("CREATE TABLE tc2(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 2")
    e.insertInto("tc2", spark.range(0, 7).toDF("k")
      .withColumn("v", col("k") * 1.0))
    val v3 = e.catalog.currentVersionOnDisk
    val created = e.tableChanges("tc2", v1, v3)
    assert(created.filter(col("_change_type") === "insert").count() == 7L)
    assert(created.count() == 7L)
    // Pure-insert intervals (bootstrap first consumption included)
    // must plan WITHOUT the exceptAll set-op: at 100 TB that exchange
    // is 2× the snapshot in shuffle scratch for a diff against an
    // empty side.
    assert(!created.queryExecution.optimizedPlan.toString
      .contains("Except"), "bootstrap interval planned an Except")

    // OPTIMIZE rewrites files but changes no rows: empty feed.
    e.sql("OPTIMIZE tc SORT BY (v)")
    val v4 = e.catalog.currentVersionOnDisk
    assert(e.tableChanges("tc", v2, v4).count() == 0L)

    // Sequential bucket passes (the scratch-bound knob) are EXACTLY
    // the single-pass feed — including across a partition-column
    // UPDATE that moves rows between buckets.
    e.sql("UPDATE tc SET k = k + 400, v = v + 0.25 WHERE k < 3")
    val v5 = e.catalog.currentVersionOnDisk
    val single = changeSet(e.tableChanges("tc", v1, v5))
    spark.conf.set("graft.changes.bucketPasses", "3")
    try {
      val multi = changeSet(e.tableChanges("tc", v1, v5))
      assert(multi == single,
        s"bucket-pass diff diverged: ${multi.size} vs ${single.size}")
    } finally spark.conf.unset("graft.changes.bucketPasses")
  }

  test("RESTORE TABLE TO VERSION AS OF: renames the exact past state " +
      "back live, restores schema, and is itself undoable") {
    val e = freshEngine()
    e.sql("CREATE TABLE rs(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 4")
    e.insertInto("rs", spark.range(0, 60).toDF("k")
      .withColumn("v", col("k") * 1.0))
    val v1 = e.catalog.currentVersionOnDisk
    val s1 = rows(e.table("rs"))
    // Wreck the table thoroughly: update, delete, insert, compact,
    // evolve the schema.
    e.sql("UPDATE rs SET v = -1 WHERE k % 3 = 0")
    e.sql("DELETE FROM rs WHERE k >= 40")
    e.insertInto("rs", spark.range(200, 205).toDF("k")
      .withColumn("v", lit(9.0)))
    e.sql("OPTIMIZE rs SORT BY (v)")
    e.sql("ALTER TABLE rs ADD COLUMN tier INT DEFAULT 5")
    val vWrecked = e.catalog.currentVersionOnDisk
    val sWrecked = e.table("rs").orderBy("k").collect().toSeq

    e.sql(s"RESTORE TABLE rs TO VERSION AS OF $v1")
    assert(e.table("rs").columns.toSeq == Seq("k", "v")) // schema back
    assert(rows(e.table("rs")) == s1) // rows back, exactly
    // Further DML works on the restored state.
    e.sql("UPDATE rs SET v = 100 WHERE k = 1")
    assert(rows(e.table("rs")) ==
      s1.map { case (k, v) => (k, if (k == 1) 100.0 else v) })

    // The restore was versioned: the wrecked state is still reachable
    // AND restorable — restore is undoable.
    e.sql(s"RESTORE TABLE rs TO VERSION AS OF $vWrecked")
    assert(e.table("rs").columns.toSeq == Seq("k", "v", "tier"))
    assert(e.table("rs").orderBy("k").collect().toSeq == sWrecked)

    // Guard: unknown version errors clearly.
    assert(intercept[IllegalArgumentException] {
      e.sql("RESTORE TABLE rs TO VERSION AS OF 99999")
    }.getMessage.contains("not retained"))
  }

  test("DESCRIBE HISTORY lists retained versions with change flags; " +
      "VACUUM statement sweeps beyond the grace") {
    val e = freshEngine()
    e.sql("CREATE TABLE dh(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 2")
    val vCreate = e.catalog.currentVersionOnDisk
    e.insertInto("dh", spark.range(0, 10).toDF("k")
      .withColumn("v", col("k") * 1.0))
    e.sql("UPDATE dh SET v = -1 WHERE k = 3")
    e.sql("CREATE SCHEMA unrelated") // version bump, table unchanged
    val h = e.sql("DESCRIBE HISTORY dh")
      .orderBy("version").collect()
    assert(h.length == e.catalog.retainedVersions.size)
    val changed = h.filter(_.getAs[Boolean]("changed_table"))
      .map(_.getAs[Long]("version")).toSeq
    // Exactly the insert and the update changed the table's files.
    assert(changed.size == 2 && changed.forall(_ > vCreate), changed)
    assert(h.last.getAs[Boolean]("table_exists"))
    assert(h.last.getAs[Int]("data_files") > 0)
    // data_bytes: the latest version pins exactly its live data files.
    val tableDir = java.nio.file.Paths.get(e.warehouse, "data", "dh")
    def parquetUnder(glob: String): Seq[java.nio.file.Path] = {
      val m = tableDir.getFileSystem.getPathMatcher(s"glob:$tableDir/$glob")
      val s = java.nio.file.Files.walk(tableDir)
      try s.iterator.asScala.filter(m.matches).toVector finally s.close()
    }
    val liveBytes = parquetUnder(s"$BucketCol=*/*.parquet")
      .map(java.nio.file.Files.size).sum
    assert(liveBytes > 0L)
    assert(h.last.getAs[Long]("data_bytes") == liveBytes)
    // The statement form of the vacuum runs (zero-grace sweep),
    // returns the reclaim accounting, and retained versions survive.
    val latest = e.catalog.currentVersionOnDisk
    val vr = e.sql("VACUUM RETAIN 0 HOURS").collect()(0)
    assert(vr.getAs[Long]("bytes_reclaimed") >= 0L)
    assert(e.tableAsOf("dh", latest).count() == 10L)

    // An archived file deleted out of band: every version that pins it
    // reports unknown bytes (never a partial sum) and the same file
    // count; every other version keeps its bytes.
    def history() = e.describeHistory("dh").collect()
      .map(r => r.getAs[Long]("version") -> r).toMap
    val before = history()
    val pinned = before.collect {
      case (v, r) if r.getAs[Boolean]("table_exists") =>
        v -> e.tableAsOf("dh", v).inputFiles
          .map(p => new org.apache.hadoop.fs.Path(p).getName).toSet
    }
    val gone = parquetUnder(s".archive/*/$BucketCol=*/*.parquet").head
    java.nio.file.Files.delete(gone)
    val after = history()
    assert(after.keySet == before.keySet)
    val hit = pinned.filter(_._2.contains(gone.getFileName.toString)).keySet
    assert(hit.nonEmpty && hit.size < pinned.size, pinned)
    after.foreach { case (v, r) =>
      val was = before(v)
      assert(r.get(r.fieldIndex("data_files")) ==
        was.get(was.fieldIndex("data_files")), s"version $v")
      if (hit(v)) assert(r.isNullAt(r.fieldIndex("data_bytes")), s"version $v")
      else assert(r.get(r.fieldIndex("data_bytes")) ==
        was.get(was.fieldIndex("data_bytes")), s"version $v")
    }
  }

  test("DESCRIBE HISTORY, RESTORE and VACUUM list plain directories: " +
      "no located listing, history listings bounded by the layout") {
    import graft.tools.{CountingAbstractFs, CountingFileSystem}
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.countfs.impl", classOf[CountingFileSystem].getName)
    hc.set("fs.AbstractFileSystem.countfs.impl",
      classOf[CountingAbstractFs].getName)
    // The delegate is RawLocalFileSystem: rename/O_EXCL-create ARE
    // atomic, so the operator assertion is true by construction.
    spark.conf.set("graft.catalog.fs.assumeAtomic", "true")
    try {
      val local = tempDir("graft-tt-countfs")
      val e = new MppEngine(spark, s"countfs:$local")
      val buckets = 4
      e.sql("CREATE TABLE sh(k BIGINT, v DOUBLE) PARTITION BY (k) " +
        s"WITH BUCKETS $buckets")
      e.insertInto("sh", spark.range(0, 40).toDF("k")
        .withColumn("v", col("k") * 1.0))
      val v1 = e.catalog.currentVersionOnDisk
      e.sql("UPDATE sh SET v = -1 WHERE k % 3 = 0")
      e.sql("DELETE FROM sh WHERE k = 5")
      def ops[A](body: => A): (A, Map[String, Long]) = {
        val before = CountingFileSystem.snapshotByOp()
        val out = body
        (out, CountingFileSystem.snapshotByOp().map { case (k, n) =>
          k -> (n - before.getOrElse(k, 0L)) }.filter(_._2 > 0))
      }
      val (hist, histOps) = ops(e.sql("DESCRIBE HISTORY sh").collect())
      assert(hist.exists(_.getAs[Boolean]("table_exists")))
      assert(hist.filter(_.getAs[Boolean]("table_exists"))
        .forall(r => !r.isNullAt(r.fieldIndex("data_bytes"))))
      val generations = {
        val d = new java.io.File(s"$local/data/sh/.archive")
        Option(d.listFiles).map(_.count(_.isDirectory)).getOrElse(0)
      }
      assert(generations > 0)
      val bound = 2 + (generations + 1) * (buckets + 1)
      assert(histOps.getOrElse("listStatus", 0L) <= bound,
        s"$histOps, bound $bound")
      val (_, restoreOps) = ops(e.sql(s"RESTORE TABLE sh TO VERSION AS OF $v1"))
      assert(e.table("sh").count() == 40L)
      val (_, vacuumOps) = ops(e.sql("VACUUM RETAIN 0 HOURS").collect())
      Seq("history" -> histOps, "restore" -> restoreOps,
          "vacuum" -> vacuumOps).foreach { case (stmt, byOp) =>
        assert(!byOp.contains("listLocatedStatus"), s"$stmt: $byOp")
      }
    } finally {
      spark.conf.unset("graft.catalog.fs.assumeAtomic")
      Seq("fs.countfs.impl", "fs.AbstractFileSystem.countfs.impl")
        .foreach(hc.unset)
    }
  }

  test("VACUUM respects retention under churn: every retained version " +
      "stays readable, swept versions reclaim real bytes") {
    val e = freshEngine()
    e.sql("CREATE TABLE ch(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 2")
    e.insertInto("ch", spark.range(0, 20).toDF("k")
      .withColumn("v", col("k") * 1.0))
    // Churn far past the retention window so archives accumulate
    // across MANY swept generations (each update rewrites a bucket).
    // Values offset by 1000 so no statement is value-identical — the
    // convergent-DML match-prune SKIPS those entirely, including the
    // manifest commit (the pinned probe lesson).
    (1 to MppCatalog.RetainSnapshots + 8).foreach(i =>
      e.sql(s"UPDATE ch SET v = ${i + 1000} WHERE k = ${i % 20}"))
    val retained = e.catalog.retainedVersions
    assert(retained.size == MppCatalog.RetainSnapshots)
    val stats = e.vacuumTimeTravel(graceMs = 0L)
    // Real bytes came back from the swept generations…
    assert(stats.filesDeleted > 0L && stats.bytesReclaimed > 0L, stats)
    // …while something archived stays pinned by the window…
    assert(stats.archiveBytesRetained > 0L, stats)
    // …and EVERY retained version still reconstructs exactly.
    retained.foreach { v =>
      assert(e.tableAsOf("ch", v).count() == 20L, s"version $v")
    }
    // Beyond the window: the retention error, never a wrong answer.
    assert(intercept[IllegalArgumentException] {
      e.tableAsOf("ch", retained.head - 1)
    }.getMessage.contains("not retained"))
    // The history's bytes column answers the capacity question for
    // every retained version post-vacuum.
    val hist = e.describeHistory("ch").collect()
    assert(hist.forall(r => !r.isNullAt(r.fieldIndex("data_bytes")) &&
      r.getAs[Long]("data_bytes") > 0L))
  }

  test("incremental INSERT manifests: every version's snapshot is " +
      "exact, two writers' deltas compose, missing base falls back") {
    val e = freshEngine()
    e.sql("CREATE TABLE im(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 4")
    // Mixed history: appends (incremental manifests) interleaved with
    // a COW UPDATE (full-listing manifest) — every retained version
    // must reconstruct the exact cumulative state.
    e.insertInto("im", spark.range(0, 100).toDF("k")
      .withColumn("v", col("k") * 1.0))
    val v1 = e.catalog.currentVersionOnDisk
    e.insertInto("im", spark.range(100, 250).toDF("k")
      .withColumn("v", col("k") * 1.0))
    val v2 = e.catalog.currentVersionOnDisk
    e.sql("UPDATE im SET v = -1 WHERE k < 50")
    val v3 = e.catalog.currentVersionOnDisk
    e.insertInto("im", spark.range(250, 300).toDF("k")
      .withColumn("v", col("k") * 1.0))
    val v4 = e.catalog.currentVersionOnDisk
    assert(e.tableAsOf("im", v1).count() == 100)
    assert(e.tableAsOf("im", v2).count() == 250)
    assert(e.tableAsOf("im", v3).count() == 250)
    assert(e.tableAsOf("im", v3).filter(col("v") === -1).count() == 50)
    assert(e.tableAsOf("im", v4).count() == 300)
    // The incremental manifest carries NO duplicates and exactly the
    // live file set: it must equal a from-scratch listing's row set.
    assert(e.table("im").count() == 300)

    // Two ENGINES alternate appends: each commit's manifest derives
    // from the PEER's freshly committed one (the CAS closure re-reads
    // state on rebase), so the deltas compose — no version may miss
    // either writer's rows.
    val e2 = new MppEngine(spark, e.warehouse)
    e.insertInto("im", spark.range(1000, 1100).toDF("k")
      .withColumn("v", lit(1.0)))
    e2.insertInto("im", spark.range(2000, 2100).toDF("k")
      .withColumn("v", lit(2.0)))
    e.insertInto("im", spark.range(3000, 3100).toDF("k")
      .withColumn("v", lit(3.0)))
    val vAll = e2.catalog.currentVersionOnDisk
    assert(new MppEngine(spark, e.warehouse)
      .tableAsOf("im", vAll).count() == 600)

    // Fallback: with the base manifest FILE gone (swept), the next
    // INSERT re-derives from a full listing — state stays exact.
    val mDir = java.nio.file.Paths.get(e.catalog.manifestDir)
    val s = java.nio.file.Files.list(mDir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.foreach(p =>
        java.nio.file.Files.deleteIfExists(p))
    } finally s.close()
    val e3 = new MppEngine(spark, e.warehouse)
    e3.insertInto("im", spark.range(4000, 4050).toDF("k")
      .withColumn("v", lit(4.0)))
    assert(e3.tableAsOf("im",
      e3.catalog.currentVersionOnDisk).count() == 650)
  }

  test("CONTENDED incremental manifest: a delta entry the peer's " +
      "manifest already carries dedupes; one the peer archived drops") {
    // Deterministic reproduction of the race the compose path guards:
    // e1's statement is mid-flight when e2 commits a full-listing
    // manifest for the SAME table. e1's CAS rebase must then (a) not
    // double-enter files the peer's listing already captured and
    // (b) not resurrect files the peer's COW rewrite archived.
    val e1 = freshEngine()
    e1.sql("CREATE TABLE cm(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 2")
    e1.insertInto("cm", spark.range(0, 100).toDF("k")
      .withColumn("v", col("k") * 1.0))
    val t1 = e1.catalog.state.liveTable("cm").get
    // A live logical file from a bucket the peer's UPDATE will NOT
    // touch (k=1 hashes to one bucket; take a file from the other).
    val dataRoot = java.nio.file.Paths.get(e1.warehouse, "data", "cm")
    def liveLogical(): Set[String] = {
      // LIVE bucket dirs only (never .archive), data files only (the
      // manifest's name rule: no '.'/'_' committer artifacts).
      import scala.jdk.CollectionConverters._
      val buckets = java.nio.file.Files.list(dataRoot)
      try buckets.iterator().asScala
        .filter(d => java.nio.file.Files.isDirectory(d) &&
          d.getFileName.toString.startsWith("bucket="))
        .flatMap { d =>
          val fs = java.nio.file.Files.list(d)
          try fs.iterator().asScala
            .filter(p => java.nio.file.Files.isRegularFile(p) &&
              !p.getFileName.toString.startsWith(".") &&
              !p.getFileName.toString.startsWith("_"))
            .map(p => s"${d.getFileName}/${p.getFileName}").toVector
          finally fs.close()
        }.toSet
      finally buckets.close()
    }
    // Peer commit lands while e1's state is stale: e2 rewrites the
    // k=1 bucket (archives its old file, full-listing manifest).
    val e2 = new MppEngine(spark, e1.warehouse)
    e2.sql("UPDATE cm SET v = -1 WHERE k = 1")
    val peerFiles = liveLogical()
    val dup = peerFiles.head // already in the peer's manifest
    val ghost = "bucket=0/part-archived-by-peer.parquet"
    // e1 (stale base) commits an incremental delta containing both.
    e1.commitManifest(t1,
      Some(MppEngine.ManifestDelta(Set.empty, Vector(dup, ghost), None)))
    val e3 = new MppEngine(spark, e1.warehouse)
    val mName = e3.catalog.state.tableManifests(t1.tableOid.toString)
    val manifest = e3.loadManifest(mName).get // reconstructs v2 chains
    assert(manifest.distinct == manifest, s"duplicate entries: $manifest")
    assert(!manifest.contains(ghost), s"dead entry resurrected: $manifest")
    assert(manifest.toSet == peerFiles,
      s"manifest ${manifest.toSet} != live $peerFiles")
    assert(e3.tableAsOf("cm", e3.catalog.currentVersionOnDisk)
      .count() == 100)
  }

  test("genuinely CONCURRENT appends from two engines: every row " +
      "lands once, the final manifest is duplicate-free and live") {
    val e1 = freshEngine()
    e1.sql("CREATE TABLE cc(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 4")
    val e2 = new MppEngine(spark, e1.warehouse)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val fa = Future((0 until 4).foreach(i =>
      e1.insertInto("cc", spark.range(i * 1000, i * 1000 + 250)
        .toDF("k").withColumn("v", lit(1.0)))))
    val fb = Future((0 until 4).foreach(i =>
      e2.insertInto("cc", spark.range(10000 + i * 1000,
        10000 + i * 1000 + 250).toDF("k").withColumn("v", lit(2.0)))))
    Await.result(fa.zip(fb), scala.concurrent.duration.Duration(300, "s"))
    val e3 = new MppEngine(spark, e1.warehouse)
    val t = e3.catalog.state.liveTable("cc").get
    assert(e3.table("cc").count() == 2000)
    assert(e3.tableAsOf("cc", e3.catalog.currentVersionOnDisk)
      .count() == 2000, "final manifest must hold both writers' rows")
    val mName = e3.catalog.state.tableManifests(t.tableOid.toString)
    val manifest = e3.loadManifest(mName).get // reconstructs v2 chains
    assert(manifest.distinct == manifest, "duplicate manifest entries")
  }

  test("VACUUM sweeps stray live files BY DEFAULT (the staged " +
      "INSERT's driver-crash residue) once they are past the grace " +
      "window, and leaves committed rows untouched") {
    val e = freshEngine()
    e.sql("CREATE TABLE sv(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 2")
    e.insertInto("sv", spark.range(0, 20).toDF("k")
      .withColumn("v", col("k") * 1.0))
    def bucketDir = {
      val d = java.nio.file.Paths.get(e.warehouse, "data", "sv")
      val s = java.nio.file.Files.list(d)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(p =>
          java.nio.file.Files.isDirectory(p) &&
            p.getFileName.toString.contains("=")).toSeq.head
      } finally s.close()
    }
    // Crash residue: a parquet-shaped file in a live bucket dir that
    // NO manifest references (a driver death between the staged
    // INSERT's bucket moves and commitManifest — SURVEY §8). Every
    // table has a manifest from CREATE on, so "unreferenced" is
    // authoritative: swept by default, no conf needed.
    val stray = bucketDir.resolve("part-stray-crash-residue.parquet")
    java.nio.file.Files.write(stray, Array.fill[Byte](128)(1))
    val st1 = e.vacuumTimeTravel(graceMs = 0L)
    assert(st1.strayLiveFiles == 1L && st1.strayLiveBytes == 128L, st1)
    assert(st1.filesDeleted >= 1L, st1)
    assert(!java.nio.file.Files.exists(stray),
      "a stray past the grace window must sweep by default")
    assert(e.table("sv").count() == 20L) // committed data untouched
    // A file younger than the grace window (an in-flight peer INSERT's
    // moved-but-uncommitted output) is never reported, never swept.
    val young = bucketDir.resolve("part-young-inflight.parquet")
    java.nio.file.Files.write(young, Array.fill[Byte](64)(1))
    val st3 = e.vacuumTimeTravel() // default 10-minute grace
    assert(st3.strayLiveFiles == 0L, st3)
    assert(java.nio.file.Files.exists(young))
    java.nio.file.Files.delete(young)
    // The SQL statement reports and sweeps the same way.
    val stray2 = bucketDir.resolve("part-stray-2.parquet")
    java.nio.file.Files.write(stray2, Array.fill[Byte](64)(1))
    val row = e.sql("VACUUM RETAIN 0 HOURS").head()
    assert(row.getAs[Long]("stray_live_files") == 1L, row.toString)
    assert(!java.nio.file.Files.exists(stray2))
    assert(e.table("sv").count() == 20L)
  }

  // --- manifest delta log (format v2) ---------------------------------

  /** Manifest names in the table's catalog dir, with their raw JSON
    * first byte: '[' = full (v1/checkpoint), '{' = delta (v2). */
  private def manifestShapes(e: MppEngine): Map[String, Char] = {
    val mDir = java.nio.file.Paths.get(e.catalog.manifestDir)
    val s = java.nio.file.Files.list(mDir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map { p =>
        val b = java.nio.file.Files.readAllBytes(p)
        p.getFileName.toString -> b.dropWhile(_.toChar.isWhitespace)
          .head.toChar
      }.toMap
    } finally s.close()
  }

  test("manifest delta log: INSERT/UPDATE/DELETE/truncate commit " +
      "DELTAS, every retained version reconstructs exactly, " +
      "checkpoints bound the chain") {
    val e = freshEngine()
    e.sql("CREATE TABLE dl(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 4")
    // A history long enough to cross the checkpoint cadence (10):
    // appends, a narrow COW update, a delete, a truncate, more appends.
    var expected = Map.empty[Long, Double]
    val versions = Vector.newBuilder[(Long, Map[Long, Double])]
    def snap(): Unit =
      versions += ((e.catalog.currentVersionOnDisk, expected))
    (0 until 4).foreach { i =>
      e.insertInto("dl", spark.range(i * 100, i * 100 + 100).toDF("k")
        .withColumn("v", col("k") * 1.0))
      expected ++= (i * 100 until i * 100 + 100)
        .map(k => k.toLong -> k.toDouble)
      snap()
    }
    e.sql("UPDATE dl SET v = -1 WHERE k < 50")
    expected = expected.map { case (k, v) => k -> (if (k < 50) -1.0 else v) }
    snap()
    e.sql("DELETE FROM dl WHERE k >= 350")
    expected = expected.filter(_._1 < 350)
    snap()
    e.sql("DELETE FROM dl") // truncate fast path: constant-size delta
    expected = Map.empty
    snap()
    (0 until 8).foreach { i =>
      e.insertInto("dl", spark.range(i * 10, i * 10 + 10).toDF("k")
        .withColumn("v", lit(7.0)))
      expected ++= (i * 10 until i * 10 + 10).map(k => k.toLong -> 7.0)
      snap()
    }
    val retained = e.catalog.retainedVersions.toSet
    versions.result().filter(v => retained(v._1)).foreach {
      case (v, exp) =>
        val got = rows(e.tableAsOf("dl", v)).toMap
        assert(got == exp, s"version $v: ${got.size} vs ${exp.size}")
    }
    // The log is REALLY a delta log: most commits wrote objects, and
    // the checkpoint cadence wrote at least one full array past the
    // CREATE-time baseline.
    val shapes = manifestShapes(e)
    assert(shapes.values.count(_ == '{') >= 10,
      s"expected mostly delta manifests: $shapes")
    assert(shapes.values.count(_ == '[') >= 1, s"$shapes")
    // Name-encoded depth never reaches the checkpoint cadence.
    val depthRe = """\.d(\d+)\.json$""".r
    val maxDepth = shapes.keys
      .flatMap(n => depthRe.findFirstMatchIn(n).map(_.group(1).toInt))
      .maxOption.getOrElse(0)
    assert(maxDepth < 10, s"chain unbounded: depth $maxDepth")
    // DESCRIBE HISTORY reconstructs counts/bytes through the chains.
    val hist = e.describeHistory("dl").collect()
    assert(hist.exists(r => !r.isNullAt(r.fieldIndex("data_files")) &&
      r.getAs[Int]("data_files") > 0))
  }

  test("manifest delta log: vacuum keeps the base CLOSURE — the " +
      "oldest retained version reconstructs after a zero-grace sweep " +
      "even with checkpoints far apart") {
    // Force long chains so retained deltas reference bases OUTSIDE
    // the direct-reference set — the sweep must keep them.
    spark.conf.set("graft.manifest.checkpointEvery", "1000")
    try {
      val e = freshEngine()
      e.sql("CREATE TABLE vc(k BIGINT, v DOUBLE) PARTITION BY (k) " +
        "WITH BUCKETS 2")
      (0 until 30).foreach { i =>
        e.insertInto("vc", spark.range(i * 10, i * 10 + 10).toDF("k")
          .withColumn("v", lit(i.toDouble)))
      }
      e.vacuumTimeTravel(graceMs = 0L)
      val oldest = e.catalog.retainedVersions.head
      val got = e.tableAsOf("vc", oldest).count()
      assert(got > 0, "oldest retained version must stay readable")
      assert(e.tableAsOf("vc",
        e.catalog.currentVersionOnDisk).count() == 300)
    } finally spark.conf.unset("graft.manifest.checkpointEvery")
  }

  test("graft.manifest.incremental=false writes only FULL manifests " +
      "(the A/B control) and history still reconstructs") {
    spark.conf.set("graft.manifest.incremental", "false")
    try {
      val e = freshEngine()
      e.sql("CREATE TABLE fm(k BIGINT, v DOUBLE) PARTITION BY (k) " +
        "WITH BUCKETS 2")
      e.insertInto("fm", spark.range(0, 50).toDF("k")
        .withColumn("v", col("k") * 1.0))
      val v1 = e.catalog.currentVersionOnDisk
      e.sql("UPDATE fm SET v = -1 WHERE k < 10")
      val v2 = e.catalog.currentVersionOnDisk
      // A MERGE append (insert-only) and a truncate: the two other
      // delta shapes, an append and every bucket replaced.
      spark.range(100, 110).toDF("k").withColumn("v", lit(7.0))
        .createOrReplaceTempView("fm_b")
      e.sql("MERGE INTO fm t USING (SELECT * FROM fm_b) s ON t.k = s.k " +
        "WHEN NOT MATCHED THEN INSERT *")
      assert(e.table("fm").count() == 60)
      e.sql("DELETE FROM fm")
      assert(manifestShapes(e).values.forall(_ == '['),
        "knob off ⇒ every manifest a full array")
      assert(e.tableAsOf("fm", v1).filter(col("v") === -1).count() == 0)
      assert(e.tableAsOf("fm", v2).filter(col("v") === -1).count() == 10)
      assert(e.table("fm").count() == 0)
    } finally spark.conf.unset("graft.manifest.incremental")
  }
}
