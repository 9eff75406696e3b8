package graft.mpp

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Pins the manifest-pointer-keyed listing cache: cache hits are
  * zero-listing identity hits, commits rotate the key and the rebuild
  * picks up exactly the committed state, peer commits from a SECOND
  * engine invalidate through the published manifest diff, every table
  * has a pointer from CREATE on (a table from an older build's catalog
  * is upgraded to one), and each engine owns its cache. The RPC
  * economics (29 vs 81,951 RPCs per pruned point read) are recorded in
  * BASELINE §24; this spec pins the CORRECTNESS contract the economics
  * ride on. */
class ListingCacheSpec extends SparkTestBase {

  private def freshEngine(): MppEngine =
    new MppEngine(spark, tempDir("graft-lc-test"))

  test("same manifest pointer = identity cache hit; a commit rotates " +
      "the key and the rebuild serves exactly the committed state") {
    val e = freshEngine()
    e.sql("CREATE TABLE lc(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 4")
    e.insertInto("lc", spark.range(0, 100).toDF("k")
      .withColumn("v", col("k") * 1.0))
    val root = s"${e.warehouse}/data/lc"
    val t = e.catalog.state.liveTable("lc").get
    val key = e.catalog.state.tableManifests(t.tableOid.toString)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "k BIGINT, v DOUBLE, bucket INT")
    val i1 = e.listingCache.get(spark, root, schema, key, 4,
      e.manifestDirDiff)
    val i2 = e.listingCache.get(spark, root, schema, key, 4,
      e.manifestDirDiff)
    assert(i1 eq i2, "same pointer must be an identity cache hit")
    // The index exposes the bucket partition column (pruning rides it).
    assert(i1.partitionSchema.fieldNames.map(_.toLowerCase)
      .contains("bucket"))
    // Commit → pointer rotates → rebuild sees the new rows.
    e.insertInto("lc", spark.range(500, 520).toDF("k")
      .withColumn("v", lit(1.0)))
    val key2 = e.catalog.state.tableManifests(t.tableOid.toString)
    assert(key2 != key, "a commit must advance the pointer")
    val i3 = e.listingCache.get(spark, root, schema, key2, 4,
      e.manifestDirDiff)
    assert(!(i3 eq i1))
    assert(i3.allFiles().size > i1.allFiles().size)
    assert(e.table("lc").count() == 120)
    // Uncommitted strays are invisible until a commit (snapshot-pointer
    // isolation): plant a file, same pointer → same listing.
    val bucketDir = java.nio.file.Paths.get(root, "bucket=0")
    java.nio.file.Files.createDirectories(bucketDir)
    java.nio.file.Files.write(bucketDir.resolve("part-stray.parquet"),
      Array.fill[Byte](16)(1))
    val i4 = e.listingCache.get(spark, root, schema, key2, 4,
      e.manifestDirDiff)
    assert(i4 eq i3, "an uncommitted stray must not invalidate")
    java.nio.file.Files.delete(bucketDir.resolve("part-stray.parquet"))
  }

  test("a PEER engine's commit is visible at this engine's next read " +
      "(invalidation derives from the PUBLISHED manifest diff, not " +
      "from local knowledge)") {
    val e1 = freshEngine()
    e1.sql("CREATE TABLE lp(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 4")
    e1.insertInto("lp", spark.range(0, 100).toDF("k")
      .withColumn("v", col("k") * 1.0))
    assert(e1.table("lp").count() == 100) // warms e1's cached listing
    val e2 = new MppEngine(spark, e1.warehouse)
    e2.insertInto("lp", spark.range(1000, 1050).toDF("k")
      .withColumn("v", lit(2.0)))
    // e1 committed nothing; refresh-on-read aligns its catalog and the
    // rotated pointer re-lists exactly the dirs the peer touched.
    assert(e1.table("lp").count() == 150)
    // And a COW rewrite by the peer (files REPLACED, not added) also
    // lands: stale entries would serve swapped-away files and fail
    // the read loudly — neither may happen.
    e2.sql("UPDATE lp SET v = -1 WHERE k = 3")
    assert(e1.table("lp").filter(col("v") === -1).count() == 1)
    assert(e1.table("lp").count() == 150)
  }

  test("a warm version-keyed cache HIT still probes the relay marker: " +
      "mid-relay direct scans get the typed relay error, not a " +
      "task-level FileNotFound (round-14 verdict item 4)") {
    val e = freshEngine()
    e.sql("CREATE TABLE lrm(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 2")
    e.insertInto("lrm", spark.range(0, 10).toDF("k")
      .withColumn("v", col("k") * 1.0))
    val root = s"${e.warehouse}/data/lrm"
    val t = e.catalog.state.liveTable("lrm").get
    val key = e.catalog.state.tableManifests(t.tableOid.toString)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "k BIGINT, v DOUBLE, bucket INT")
    val i1 = e.listingCache.get(spark, root, schema, key, 2,
      e.manifestDirDiff) // warm the cache
    val marker = java.nio.file.Paths.get(root, ".rebucket.json")
    java.nio.file.Files.write(marker, "{}".getBytes)
    try {
      val ex = intercept[IllegalStateException] {
        e.listingCache.get(spark, root, schema, key, 2,
          e.manifestDirDiff)
      }
      assert(ex.getMessage.contains("REBUCKET relay"), ex.getMessage)
      // A caller that probed the marker itself (an engine read frame)
      // skips the probe on a hit only; a miss probes before it lists.
      assert(e.listingCache.get(spark, root, schema, key, 2,
        e.manifestDirDiff, relayProbed = true) eq i1)
      val exMiss = intercept[IllegalStateException] {
        e.listingCache.get(spark, root, schema, "another-version", 2,
          e.manifestDirDiff, relayProbed = true)
      }
      assert(exMiss.getMessage.contains("REBUCKET relay"), exMiss.getMessage)
    } finally java.nio.file.Files.delete(marker)
    // Marker gone → the same pointer serves the warm hit again.
    assert(e.listingCache.get(spark, root, schema, key, 2,
      e.manifestDirDiff) eq i1)
  }

  test("advance(): an INSERT whose published statuses are already " +
      "known rotates the cache key IN PLACE — the next read is an " +
      "identity hit with zero re-listing — and refuses a stale base") {
    val e = freshEngine()
    e.sql("CREATE TABLE lad(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 2")
    e.insertInto("lad", spark.range(0, 20).toDF("k")
      .withColumn("v", col("k") * 1.0))
    val root = s"${e.warehouse}/data/lad"
    val t = e.catalog.state.liveTable("lad").get
    val key1 = e.catalog.state.tableManifests(t.tableOid.toString)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "k BIGINT, v DOUBLE, bucket INT")
    val i1 = e.listingCache.get(spark, root, schema, key1, 2,
      e.manifestDirDiff)
    // A base that is not the cached key: refused (a peer commit
    // interleaved — the cached listing may miss its files).
    assert(!e.listingCache.advance(spark, root, schema,
      "not-the-cached-base", "k2", 2, Nil))
    assert(e.listingCache.get(spark, root, schema, key1, 2,
      e.manifestDirDiff) eq i1, "a refused advance must not disturb")
    // Matching base: in-place rotation. The sentinel diff throws if a
    // rebuild runs — the rotated entry must serve as an identity hit.
    val added = Seq(graft.sources.ColocatedFileIndex.AddedFile(
      "bucket=0", "part-synthetic.parquet", 123L, 1L << 20, 42L))
    assert(e.listingCache.advance(spark, root, schema, key1,
      "synthetic-key", 2, added))
    val i2 = e.listingCache.get(spark, root, schema,
      "synthetic-key", 2,
      (_, _) => throw new AssertionError(
        "rebuild ran — advance() did not pre-rotate the key"))
    assert(!(i2 eq i1))
    assert(i2.allFiles().exists(f =>
      f.getPath.getName == "part-synthetic.parquet" && f.getLen == 123L),
      "the advanced index must contain the appended status")
    e.listingCache.invalidate(root) // drop the synthetic entry
    // End-to-end: with a warm cache, a real INSERT goes through the
    // advance path and its rows are immediately visible.
    assert(e.table("lad").count() == 20)
    e.insertInto("lad", spark.range(100, 130).toDF("k")
      .withColumn("v", lit(1.0)))
    assert(e.table("lad").count() == 50)
  }

  test("advance(): merging dedupes by file name — a concurrent reader " +
      "that re-listed the touched dir (already containing the renamed " +
      "file) into the shared per-dir cache must not make the append " +
      "double-count the file's rows (round-15 advisor)") {
    val e = freshEngine()
    e.sql("CREATE TABLE ladd(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 2")
    e.insertInto("ladd", spark.range(0, 20).toDF("k")
      .withColumn("v", col("k") * 1.0))
    val root = s"${e.warehouse}/data/ladd"
    val t = e.catalog.state.liveTable("ladd").get
    val key1 = e.catalog.state.tableManifests(t.tableOid.toString)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "k BIGINT, v DOUBLE, bucket INT")
    e.listingCache.get(spark, root, schema, key1, 2, e.manifestDirDiff)
    val added = Seq(graft.sources.ColocatedFileIndex.AddedFile(
      "bucket=0", "part-racedup.parquet", 99L, 1L << 20, 7L))
    // First advance puts the file in the per-dir cache — exactly the
    // state a racing reader's re-list would leave behind. The second
    // advance then merges the SAME status again; without name-dedupe
    // the index would list it twice.
    assert(e.listingCache.advance(spark, root, schema, key1,
      "race-k2", 2, added))
    assert(e.listingCache.advance(spark, root, schema,
      "race-k2", "race-k3", 2, added))
    val idx = e.listingCache.get(spark, root, schema,
      "race-k3", 2,
      (_, _) => throw new AssertionError("rebuild ran"))
    assert(idx.allFiles().count(
      _.getPath.getName == "part-racedup.parquet") == 1,
      "the merged listing must contain the file exactly once")
    e.listingCache.invalidate(root)
  }

  test("advance(): a relay marker REFUSES the rotation instead of " +
      "throwing — the statement's commit already happened, so a " +
      "post-commit exception would make a committed INSERT look " +
      "failed and invite a duplicating retry (round-15 advisor)") {
    val e = freshEngine()
    e.sql("CREATE TABLE ladr(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 2")
    e.insertInto("ladr", spark.range(0, 10).toDF("k")
      .withColumn("v", col("k") * 1.0))
    val root = s"${e.warehouse}/data/ladr"
    val t = e.catalog.state.liveTable("ladr").get
    val key1 = e.catalog.state.tableManifests(t.tableOid.toString)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "k BIGINT, v DOUBLE, bucket INT")
    e.listingCache.get(spark, root, schema, key1, 2, e.manifestDirDiff)
    val marker = java.nio.file.Paths.get(root, ".rebucket.json")
    java.nio.file.Files.write(marker, "{}".getBytes)
    try {
      // No throw; refused; the cached entry is dropped so the next
      // read takes the rebuild path (which reports the relay).
      assert(!e.listingCache.advance(spark, root, schema, key1,
        "relay-k2", 2, Nil))
      val ex = intercept[IllegalStateException] {
        e.listingCache.get(spark, root, schema, key1, 2,
          e.manifestDirDiff)
      }
      assert(ex.getMessage.contains("REBUCKET relay"))
    } finally java.nio.file.Files.delete(marker)
  }

  test("a live table without a manifest pointer (a catalog an older " +
      "build wrote) is upgraded at its first read: one full listing " +
      "of its bucket dirs, committed in one new catalog version, with " +
      "every row visible") {
    val e = freshEngine()
    e.sql("CREATE TABLE lti(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 2")
    e.insertInto("lti", spark.range(0, 100).toDF("k")
      .withColumn("v", col("k") * 1.0))
    val oid = e.catalog.state.liveTable("lti").get.tableOid.toString
    // What an older build left: rows in the bucket dirs, no pointer.
    e.catalog.mutate(s => s.copy(tableManifests = s.tableManifests - oid))
    val v0 = e.catalog.currentVersionOnDisk
    assert(e.table("lti").count() == 100)
    assert(e.catalog.currentVersionOnDisk == v0 + 1,
      "the upgrade must be exactly one catalog version")
    val root = java.nio.file.Paths.get(e.warehouse, "data", "lti")
    val live = (0 until 2).flatMap { b =>
      val d = root.resolve(s"bucket=$b")
      val s = java.nio.file.Files.list(d)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".parquet")).map(n => s"bucket=$b/$n").toVector
      } finally s.close()
    }.toSet
    val m = e.catalog.state.tableManifests(oid)
    assert(e.loadManifest(m).get.toSet == live)
    // Upgraded once: later reads commit nothing, writes compose onto it.
    assert(e.table("lti").count() == 100)
    assert(e.catalog.currentVersionOnDisk == v0 + 1)
    e.insertInto("lti", spark.range(2000, 2005).toDF("k")
      .withColumn("v", lit(3.0)))
    assert(e.table("lti").count() == 105)
    assert(e.tableAsOf("lti", v0 + 1).count() == 100)
  }

  test("a freshly created table has a manifest pointer and reads 0 " +
      "rows through the version-keyed cache; its first INSERT " +
      "composes a delta onto the empty manifest") {
    val e = freshEngine()
    e.sql("CREATE TABLE lo(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 2")
    val t = e.catalog.state.liveTable("lo").get
    val created = e.catalog.state.tableManifests(t.tableOid.toString)
    assert(e.listingVersionKey(t) == created)
    assert(e.loadManifest(created).contains(Vector.empty))
    assert(e.table("lo").count() == 0)
    e.insertInto("lo", spark.range(0, 10).toDF("k")
      .withColumn("v", col("k") * 1.0))
    val first = e.catalog.state.tableManifests(t.tableOid.toString)
    assert(first.endsWith(".d1.json"), s"not a delta on the empty base: $first")
    assert(e.table("lo").count() == 10)
    e.insertInto("lo", spark.range(10, 25).toDF("k")
      .withColumn("v", lit(1.0)))
    assert(e.table("lo").count() == 25)
  }

  test("CREATE sets the manifest pointer in the table's own catalog " +
      "version; a snapshot carrying an older build's manifestEpochs " +
      "loads and reads back; two engines keep separate listing caches") {
    val e1 = freshEngine()
    val v0 = e1.catalog.currentVersionOnDisk
    e1.sql("CREATE TABLE lw(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 2")
    assert(e1.catalog.currentVersionOnDisk == v0 + 1,
      "CREATE must stay one catalog version")
    val t1 = e1.catalog.state.liveTable("lw").get
    val snap = e1.catalog.snapshotAt(v0 + 1).get
    assert(snap.tableManifests.contains(t1.tableOid.toString))
    e1.insertInto("lw", spark.range(0, 40).toDF("k")
      .withColumn("v", col("k") * 1.0))
    // An older build's snapshot format: the same JSON plus a
    // `manifestEpochs` map. It must load, and VERSION AS OF must read
    // that version exactly.
    val v1 = e1.catalog.currentVersionOnDisk
    val snapFile = java.nio.file.Paths.get(e1.warehouse, "_mpp_catalog",
      f"v$v1%05d.json")
    val json = new String(java.nio.file.Files.readAllBytes(snapFile), "UTF-8")
    assert(json.endsWith("}"), json)
    java.nio.file.Files.write(snapFile, (json.dropRight(1) +
      s""","manifestEpochs":{"${t1.tableOid}":1700000000000}}""")
      .getBytes("UTF-8"))
    val reopened = new MppEngine(spark, e1.warehouse)
    assert(reopened.catalog.snapshotAt(v1).isDefined)
    assert(reopened.tableAsOf("lw", v1).orderBy("k").collect().toSeq ==
      e1.table("lw").orderBy("k").collect().toSeq)
    assert(reopened.table("lw").count() == 40)
    // Two engines on two warehouses: separate caches. One engine
    // invalidating the other's table root leaves the other's cached
    // index untouched, and it never serves the other's entry.
    val a = freshEngine()
    val b = freshEngine()
    Seq(a, b).foreach { e =>
      e.sql("CREATE TABLE lx(k BIGINT, v DOUBLE) PARTITION BY (k) " +
        "WITH BUCKETS 2")
      e.insertInto("lx", spark.range(0, 10).toDF("k")
        .withColumn("v", col("k") * 1.0))
    }
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "k BIGINT, v DOUBLE, bucket INT")
    val tb = b.catalog.state.liveTable("lx").get
    val rootB = s"${b.warehouse}/data/lx"
    val keyB = b.catalog.state.tableManifests(tb.tableOid.toString)
    val idxB = b.listingCache.get(spark, rootB, schema, keyB, 2,
      b.manifestDirDiff)
    a.listingCache.invalidate(rootB)
    assert(b.listingCache.get(spark, rootB, schema, keyB, 2,
      b.manifestDirDiff) eq idxB)
    assert(!(a.listingCache.get(spark, rootB, schema, keyB, 2,
      b.manifestDirDiff) eq idxB))
  }
}
