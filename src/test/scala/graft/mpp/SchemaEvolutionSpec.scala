package graft.mpp

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Pins metadata-only schema evolution (ALTER TABLE ADD/DROP COLUMN):
  * no data file is read or written by the DDL itself; scans request
  * the declared schema so pre-ADD files null-fill and post-DROP files
  * project away. Also pins the one real hazard of name-based column
  * resolution — re-ADDing a dropped name would resurrect stored
  * values — and its quarantine/OPTIMIZE-release contract. */
class SchemaEvolutionSpec extends SparkTestBase {

  private def freshEngine(): MppEngine =
    new MppEngine(spark, tempDir("graft-evo-test"))

  test("ADD COLUMN: DEFAULT backfills existing rows metadata-only " +
      "(Postgres attmissingval), stored NULLs stay NULL, plain ADD " +
      "reads NULL, DML carries the new column") {
    val e = freshEngine()
    e.sql("CREATE TABLE ev(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 4")
    e.insertInto("ev", spark.range(0, 20).toDF("k")
      .withColumn("v", col("k") * 1.0))
    e.sql("ALTER TABLE ev ADD COLUMN tier INT DEFAULT 7")
    // Postgres semantics, zero rewrite: pre-ADD files fill the frozen
    // default per-FILE in the reader (no data file was touched).
    assert(e.table("ev").filter(col("tier") === 7).count() == 20L)
    // Partial insert omits tier -> CURRENT_DEFAULT resolves it.
    e.insertInto("ev", spark.range(100, 110).toDF("k")
      .withColumn("v", lit(-1.0)))
    assert(e.table("ev").filter(col("tier") === 7).count() == 30L)
    // Full-width insert carries an explicit value.
    e.insertInto("ev", spark.range(200, 205).toDF("k")
      .withColumn("v", lit(0.0)).withColumn("tier", lit(3)))
    assert(e.table("ev").filter(col("tier") === 3).count() == 5L)
    // An explicitly stored NULL is NOT confused with "file predates
    // the column" — only physically-missing columns fill.
    e.insertInto("ev", spark.range(300, 302).toDF("k")
      .withColumn("v", lit(0.0))
      .withColumn("tier", lit(null).cast("int")))
    assert(e.table("ev").filter(col("tier").isNull).count() == 2L)
    // A plain ADD (no default) reads NULL everywhere.
    e.sql("ALTER TABLE ev ADD COLUMN note STRING")
    assert(e.table("ev").filter(col("note").isNull).count() ==
      e.table("ev").count())
    // COW UPDATE through a rewrite keeps the evolved column intact
    // (and materializes the fill into the rewritten files).
    e.sql("UPDATE ev SET v = -9 WHERE tier = 7")
    assert(e.table("ev").filter(col("v") === -9).count() == 30L)
    assert(e.table("ev").filter(col("tier") === 7).count() == 30L)
    // SQL reads through the refreshed view see the evolved schema.
    assert(MppEngine.readSql(spark,
      "SELECT count(1) AS n FROM ev WHERE tier = 7")
      .head().getLong(0) == 30L)
  }

  test("DROP COLUMN projects the column away; re-ADD of the name is " +
      "quarantined until OPTIMIZE SORT BY rewrites the files") {
    val e = freshEngine()
    e.sql("CREATE TABLE dv(k BIGINT, v DOUBLE, tag STRING) " +
      "PARTITION BY (k) WITH BUCKETS 2")
    e.insertInto("dv", spark.range(0, 10).toDF("k")
      .withColumn("v", col("k") * 1.0)
      .withColumn("tag", concat(lit("x"), col("k"))))
    e.sql("ALTER TABLE dv DROP COLUMN tag")
    assert(e.table("dv").columns.toSeq == Seq("k", "v"))
    // Old files still hold tag values: re-ADDing the name must reject
    // (name-based parquet resolution would resurrect them).
    val ex = intercept[IllegalArgumentException] {
      e.sql("ALTER TABLE dv ADD COLUMN tag STRING")
    }
    assert(ex.getMessage.contains("previously dropped"), ex.getMessage)
    // A full rewrite purges the stored values and lifts the quarantine
    // in the swap's own commit (one version); the re-added column must
    // then read NULL, never the old values.
    val vBefore = e.catalog.currentVersionOnDisk
    e.sql("OPTIMIZE dv SORT BY (k)")
    assert(e.catalog.currentVersionOnDisk == vBefore + 1)
    e.sql("ALTER TABLE dv ADD COLUMN tag STRING")
    assert(e.table("dv").filter(col("tag").isNotNull).count() == 0L)
  }

  test("change feed across a drop + re-add cycle does NOT resurrect " +
      "stale stored values (before side reads under ITS schema)") {
    val e = freshEngine()
    e.sql("CREATE TABLE rr(k BIGINT, v DOUBLE, tag STRING) " +
      "PARTITION BY (k) WITH BUCKETS 2")
    e.insertInto("rr", spark.range(0, 12).toDF("k")
      .withColumn("v", col("k") * 1.0)
      .withColumn("tag", concat(lit("old"), col("k"))))
    e.sql("ALTER TABLE rr DROP COLUMN tag")
    // From-version: declared schema has no tag, but the live files
    // still physically store the old generation's values. The update
    // must CHANGE a value — value-identical statements skip the
    // rewrite and the manifest commit.
    e.sql("UPDATE rr SET v = -5 WHERE k = 0")
    val vFrom = e.catalog.currentVersionOnDisk
    e.sql("OPTIMIZE rr SORT BY (k)") // purges values, lifts quarantine
    e.sql("ALTER TABLE rr ADD COLUMN tag STRING")
    val vTo = e.catalog.currentVersionOnDisk
    // Nothing row-level changed in the interval: the feed must be
    // EMPTY — name-based resolution of the before-side files would
    // instead resurrect tag='old<k>' into spurious retract/add pairs.
    assert(e.tableChanges("rr", vFrom, vTo).count() == 0L)
  }

  test("a full-rewrite OPTIMIZE on an EMPTIED table still lifts the " +
      "dropped-name quarantine") {
    val e = freshEngine()
    e.sql("CREATE TABLE qe(k BIGINT, v DOUBLE, tag STRING) " +
      "PARTITION BY (k) WITH BUCKETS 2")
    e.insertInto("qe", spark.range(0, 5).toDF("k")
      .withColumn("v", col("k") * 1.0).withColumn("tag", lit("x")))
    e.sql("ALTER TABLE qe DROP COLUMN tag")
    e.sql("DELETE FROM qe") // truncate: no live file holds tag values
    e.sql("OPTIMIZE qe SORT BY (k)") // nothing to rewrite...
    e.sql("ALTER TABLE qe ADD COLUMN tag STRING") // ...but re-ADD works
    assert(e.table("qe").columns.contains("tag"))
  }

  test("guards: partition column undropppable, NOT NULL add rejected, " +
      "unknown/duplicate columns rejected, other ALTER forms keep " +
      "reference error parity") {
    val e = freshEngine()
    e.sql("CREATE TABLE gv(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 2")
    assert(intercept[IllegalArgumentException] {
      e.sql("ALTER TABLE gv DROP COLUMN k")
    }.getMessage.contains("partition column"))
    assert(intercept[IllegalArgumentException] {
      e.sql("ALTER TABLE gv ADD COLUMN w INT NOT NULL")
    }.getMessage.contains("NOT NULL"))
    assert(intercept[IllegalArgumentException] {
      e.sql("ALTER TABLE gv ADD COLUMN ts TIMESTAMP " +
        "DEFAULT current_timestamp()")
    }.getMessage.contains("constant"))
    assert(intercept[IllegalArgumentException] {
      e.sql("ALTER TABLE gv ADD COLUMN v DOUBLE")
    }.getMessage.contains("already exists"))
    assert(intercept[IllegalArgumentException] {
      e.sql("ALTER TABLE gv DROP COLUMN nope")
    }.getMessage.contains("no column"))
    assert(intercept[UnsupportedOperationException] {
      e.sql("ALTER TABLE gv RENAME COLUMN v TO w")
    }.getMessage.contains("reference parity"))
  }

  test("time travel reads each version under ITS schema; the change " +
      "feed across an ADD null-fills the before side") {
    val e = freshEngine()
    e.sql("CREATE TABLE tv(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 2")
    e.insertInto("tv", spark.range(0, 6).toDF("k")
      .withColumn("v", col("k") * 1.0))
    val v1 = e.catalog.currentVersionOnDisk
    e.sql("ALTER TABLE tv ADD COLUMN tier INT")
    e.insertInto("tv", spark.range(10, 13).toDF("k")
      .withColumn("v", lit(0.0)).withColumn("tier", lit(1)))
    val v2 = e.catalog.currentVersionOnDisk
    // The pre-ADD snapshot has the pre-ADD schema.
    assert(e.tableAsOf("tv", v1).columns.toSeq == Seq("k", "v"))
    assert(e.tableAsOf("tv", v2).columns.toSeq == Seq("k", "v", "tier"))
    // Change feed across the ALTER: only the inserted rows appear
    // (the ALTER itself moved no data), under the TO schema.
    val ch = e.tableChanges("tv", v1, v2)
    assert(ch.count() == 3L)
    assert(ch.filter(col("_change_type") === "insert" &&
      col("tier") === 1).count() == 3L)
  }

  test("DSv2 catalog reads see the evolved schema") {
    val e = freshEngine()
    e.sql("CREATE TABLE cv(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 2")
    e.insertInto("cv", spark.range(0, 8).toDF("k")
      .withColumn("v", col("k") * 1.0))
    e.installColocatedCatalog("evocat")
    try {
      assert(spark.table("evocat.cv").columns.toSeq == Seq("k", "v"))
      e.sql("ALTER TABLE cv ADD COLUMN tier INT DEFAULT 2")
      assert(spark.table("evocat.cv").columns.toSeq ==
        Seq("k", "v", "tier"))
      // Both scan paths agree on the exist-default fill.
      assert(spark.table("evocat.cv")
        .filter(col("tier") === 2).count() == 8L)
      assert(e.table("cv").filter(col("tier") === 2).count() == 8L)
    } finally spark.conf.unset("spark.sql.catalog.evocat")
  }
}
