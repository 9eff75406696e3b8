package graft.mpp

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.sources.ColocatedFileIndex

/** Pins the manifest-pointer-keyed listing cache (round 14): cache
  * hits are zero-listing identity hits, commits rotate the key and the
  * rebuild picks up exactly the committed state, peer commits from a
  * SECOND engine invalidate through the published manifest diff, and
  * tables without a manifest-complete epoch (never written, or left by
  * an older build's manifest-less writes) fall back to the mtime
  * fingerprint. The RPC economics (29 vs 81,951 RPCs per pruned point
  * read) are recorded in BASELINE §24; this spec pins the CORRECTNESS
  * contract the economics ride on. */
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
    val key = e.catalog.state.tableManifests.get(t.tableOid.toString)
    assert(key.isDefined)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "k BIGINT, v DOUBLE, bucket INT")
    val i1 = ColocatedFileIndex.get(spark, root, schema, key, 4,
      e.manifestDirDiff)
    val i2 = ColocatedFileIndex.get(spark, root, schema, key, 4,
      e.manifestDirDiff)
    assert(i1 eq i2, "same pointer must be an identity cache hit")
    // The index exposes the bucket partition column (pruning rides it).
    assert(i1.partitionSchema.fieldNames.map(_.toLowerCase)
      .contains("bucket"))
    // Commit → pointer rotates → rebuild sees the new rows.
    e.insertInto("lc", spark.range(500, 520).toDF("k")
      .withColumn("v", lit(1.0)))
    val key2 = e.catalog.state.tableManifests.get(t.tableOid.toString)
    assert(key2 != key, "a commit must advance the pointer")
    val i3 = ColocatedFileIndex.get(spark, root, schema, key2, 4,
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
    val i4 = ColocatedFileIndex.get(spark, root, schema, key2, 4,
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
    val key = e.catalog.state.tableManifests.get(t.tableOid.toString)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "k BIGINT, v DOUBLE, bucket INT")
    val i1 = ColocatedFileIndex.get(spark, root, schema, key, 2,
      e.manifestDirDiff) // warm the cache
    val marker = java.nio.file.Paths.get(root, ".rebucket.json")
    java.nio.file.Files.write(marker, "{}".getBytes)
    try {
      val ex = intercept[IllegalStateException] {
        ColocatedFileIndex.get(spark, root, schema, key, 2,
          e.manifestDirDiff)
      }
      assert(ex.getMessage.contains("REBUCKET relay"), ex.getMessage)
    } finally java.nio.file.Files.delete(marker)
    // Marker gone → the same pointer serves the warm hit again.
    assert(ColocatedFileIndex.get(spark, root, schema, key, 2,
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
    val key1 = e.catalog.state.tableManifests.get(t.tableOid.toString)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "k BIGINT, v DOUBLE, bucket INT")
    val i1 = ColocatedFileIndex.get(spark, root, schema, key1, 2,
      e.manifestDirDiff)
    // A base that is not the cached key: refused (a peer commit
    // interleaved — the cached listing may miss its files).
    assert(!ColocatedFileIndex.advance(spark, root, schema,
      Some("not-the-cached-base"), "k2", 2, Nil))
    assert(ColocatedFileIndex.get(spark, root, schema, key1, 2,
      e.manifestDirDiff) eq i1, "a refused advance must not disturb")
    // Matching base: in-place rotation. The sentinel diff throws if a
    // rebuild runs — the rotated entry must serve as an identity hit.
    val added = Seq(ColocatedFileIndex.AddedFile(
      "bucket=0", "part-synthetic.parquet", 123L, 1L << 20, 42L))
    assert(ColocatedFileIndex.advance(spark, root, schema, key1,
      "synthetic-key", 2, added))
    val i2 = ColocatedFileIndex.get(spark, root, schema,
      Some("synthetic-key"), 2,
      (_, _) => throw new AssertionError(
        "rebuild ran — advance() did not pre-rotate the key"))
    assert(!(i2 eq i1))
    assert(i2.allFiles().exists(f =>
      f.getPath.getName == "part-synthetic.parquet" && f.getLen == 123L),
      "the advanced index must contain the appended status")
    ColocatedFileIndex.invalidate(root) // drop the synthetic entry
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
    val key1 = e.catalog.state.tableManifests.get(t.tableOid.toString)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "k BIGINT, v DOUBLE, bucket INT")
    ColocatedFileIndex.get(spark, root, schema, key1, 2, e.manifestDirDiff)
    val added = Seq(ColocatedFileIndex.AddedFile(
      "bucket=0", "part-racedup.parquet", 99L, 1L << 20, 7L))
    // First advance puts the file in the per-dir cache — exactly the
    // state a racing reader's re-list would leave behind. The second
    // advance then merges the SAME status again; without name-dedupe
    // the index would list it twice.
    assert(ColocatedFileIndex.advance(spark, root, schema, key1,
      "race-k2", 2, added))
    assert(ColocatedFileIndex.advance(spark, root, schema,
      Some("race-k2"), "race-k3", 2, added))
    val idx = ColocatedFileIndex.get(spark, root, schema,
      Some("race-k3"), 2,
      (_, _) => throw new AssertionError("rebuild ran"))
    assert(idx.allFiles().count(
      _.getPath.getName == "part-racedup.parquet") == 1,
      "the merged listing must contain the file exactly once")
    ColocatedFileIndex.invalidate(root)
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
    val key1 = e.catalog.state.tableManifests.get(t.tableOid.toString)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "k BIGINT, v DOUBLE, bucket INT")
    ColocatedFileIndex.get(spark, root, schema, key1, 2, e.manifestDirDiff)
    val marker = java.nio.file.Paths.get(root, ".rebucket.json")
    java.nio.file.Files.write(marker, "{}".getBytes)
    try {
      // No throw; refused; the cached entry is dropped so the next
      // read takes the rebuild path (which reports the relay).
      assert(!ColocatedFileIndex.advance(spark, root, schema, key1,
        "relay-k2", 2, Nil))
      val ex = intercept[IllegalStateException] {
        ColocatedFileIndex.get(spark, root, schema, key1, 2,
          e.manifestDirDiff)
      }
      assert(ex.getMessage.contains("REBUCKET relay"))
    } finally java.nio.file.Files.delete(marker)
  }

  test("a TT-OFF interlude (e.g. a PEER writing without time travel) " +
      "clears the manifest-complete epoch and degrades the key to the " +
      "fingerprint: rows committed without manifests become visible " +
      "instead of the stale pointer serving old listings forever") {
    val e = freshEngine()
    e.sql("CREATE TABLE lti(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 2")
    e.insertInto("lti", spark.range(0, 100).toDF("k")
      .withColumn("v", col("k") * 1.0))
    assert(e.table("lti").count() == 100) // warm, version-keyed
    // An older build's manifest-less write: it cleared the epoch, then
    // moved files in without advancing the pointer.
    OutOfBand.clearEpoch(e, "lti")
    OutOfBand.writeRows(e, "lti", spark.range(1000, 1010).toDF("k")
      .withColumn("v", lit(2.0)))
    // Round-14 shape: the unchanged pointer served the 100-row listing
    // indefinitely. Epoch-gated, the key falls back to the fingerprint
    // and the out-of-band rows are visible.
    assert(e.table("lti").count() == 110)
    val oid = e.catalog.state.liveTable("lti").get.tableOid.toString
    assert(!e.catalog.state.manifestEpochs.contains(oid))
    // The next commit re-establishes the epoch and the keyed path.
    e.insertInto("lti", spark.range(2000, 2005).toDF("k")
      .withColumn("v", lit(3.0)))
    assert(e.catalog.state.manifestEpochs.contains(oid))
    assert(e.table("lti").count() == 115)
  }

  test("a never-written table reads through the mtime fingerprint; " +
      "its first INSERT sets the manifest pointer and the epoch") {
    val e = freshEngine()
    e.sql("CREATE TABLE lo(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 2")
    val t = e.catalog.state.liveTable("lo").get
    val oid = t.tableOid.toString
    assert(e.listingVersionKey(t).isEmpty)
    assert(e.table("lo").count() == 0)
    e.insertInto("lo", spark.range(0, 10).toDF("k")
      .withColumn("v", col("k") * 1.0))
    assert(e.catalog.state.tableManifests.contains(oid))
    assert(e.catalog.state.manifestEpochs.contains(oid))
    assert(e.table("lo").count() == 10)
    e.insertInto("lo", spark.range(10, 25).toDF("k")
      .withColumn("v", lit(1.0)))
    assert(e.table("lo").count() == 25)
  }
}
