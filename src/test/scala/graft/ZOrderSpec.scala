package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.mpp.MppEngine
import graft.sources.ColocatedScan

/** Pins `OPTIMIZE … ZORDER BY (a, b)`: the interleaved-rank clustering
  * must (1) never change the row set, (2) leave per-file zone maps
  * that prune range predicates on EVERY z dimension — the property
  * that separates it from SORT BY, which only the lead column's
  * predicates can prune. Also pins the bit kernel and the statement
  * guards. */
class ZOrderSpec extends SparkTestBase {

  private def scanKept(df: DataFrame): (Int, Int) = {
    df.collect()
    val scan = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }.collectFirst { case c: ColocatedScan => c }
      .getOrElse(fail("no ColocatedScan in plan"))
    scan.zonePrunedFiles.getOrElse(fail("zone pass did not run"))
  }

  private def grid(n: Int): DataFrame =
    spark.range(0, n).toDF("k")
      .withColumn("x", col("k") % 317)
      .withColumn("y", (col("k") * 7919) % 331)

  test("interleave_bits kernel: known values, codegen ≡ interpreted") {
    graft.functions.VectorFunctions.register(spark)
    // bit j of child i -> position j*n + i: (1,0) -> 1; (0,1) -> 2;
    // (1,1) -> 3; (65535, 0) -> 0x5555_5555; full ranks -> -1 >>> 32.
    val got = spark.sql(
      """SELECT interleave_bits(1L, 0L), interleave_bits(0L, 1L),
        |       interleave_bits(1L, 1L), interleave_bits(65535L, 0L),
        |       interleave_bits(65535L, 65535L),
        |       interleave_bits(1L, 0L, 0L), interleave_bits(0L, 0L, 1L)
        |""".stripMargin).head()
    assert(got.getLong(0) == 1L)
    assert(got.getLong(1) == 2L)
    assert(got.getLong(2) == 3L)
    assert(got.getLong(3) == 0x55555555L)
    assert(got.getLong(4) == 0xFFFFFFFFL)
    assert(got.getLong(5) == 1L)
    assert(got.getLong(6) == 4L)
    // Interpreted path (e.g. off-codegen contexts) agrees.
    val e = graft.functions.InterleaveBits(Seq(
      org.apache.spark.sql.catalyst.expressions.Literal(65535L),
      org.apache.spark.sql.catalyst.expressions.Literal(0L)))
    assert(e.eval(null) == 0x55555555L)
  }

  test("ZORDER BY clusters so zone maps prune on BOTH dimensions; " +
      "SORT BY only prunes its lead column") {
    val e = new MppEngine(spark, tempDir("graft-zorder"))
    e.sql("CREATE TABLE zo(k BIGINT, x BIGINT, y BIGINT) " +
      "PARTITION BY (k) WITH BUCKETS 2")
    e.insertInto("zo", grid(100000))
    e.installColocatedCatalog("zocat")
    val before = e.table("zo").orderBy("k").collect().toSeq
    spark.conf.set("graft.optimize.maxRecordsPerFile", "5000")
    try {
      e.sql("OPTIMIZE zo ZORDER BY (x, y)")
      assert(e.table("zo").orderBy("k").collect().toSeq == before,
        "ZORDER changed the row set")
      val (keptX, totalX) = scanKept(
        spark.table("zocat.zo").filter(col("x") < 32))
      val (keptY, totalY) = scanKept(
        spark.table("zocat.zo").filter(col("y") < 33))
      assert(totalX >= 20, s"expected a multi-file layout, saw $totalX")
      // A ~10% range on EITHER dimension prunes most files.
      assert(keptX <= totalX * 6 / 10, s"x-range kept $keptX/$totalX")
      assert(keptY <= totalY * 6 / 10, s"y-range kept $keptY/$totalY")

      // Contrast: SORT BY (x) — x prunes hard, y prunes ~nothing.
      e.sql("OPTIMIZE zo SORT BY (x)")
      val (keptX2, totalX2) = scanKept(
        spark.table("zocat.zo").filter(col("x") < 32))
      val (keptY2, totalY2) = scanKept(
        spark.table("zocat.zo").filter(col("y") < 33))
      assert(keptX2 <= totalX2 * 3 / 10, s"sorted x kept $keptX2/$totalX2")
      assert(keptY2 >= totalY2 * 9 / 10,
        s"sort-by should NOT prune y ($keptY2/$totalY2) — if it does, " +
          "the contrast claim in the docs is stale")
      // And the z-ordered y pruning beat the sorted layout's.
      assert(keptY < keptY2, s"z $keptY !< sorted $keptY2")
    } finally spark.conf.unset("graft.optimize.maxRecordsPerFile")
  }

  test("statement guards: dimension count, types, exclusivity") {
    val e = new MppEngine(spark, tempDir("graft-zorder"))
    e.sql("CREATE TABLE zg(k BIGINT, x BIGINT, s STRING) " +
      "PARTITION BY (k) WITH BUCKETS 2")
    e.insertInto("zg", spark.range(0, 10).toDF("k")
      .withColumn("x", col("k")).withColumn("s", lit("a")))
    assert(intercept[IllegalArgumentException] {
      e.sql("OPTIMIZE zg ZORDER BY (x)")
    }.getMessage.contains("2-4"))
    assert(intercept[IllegalArgumentException] {
      e.sql("OPTIMIZE zg ZORDER BY (x, s)")
    }.getMessage.contains("not orderable"))
    assert(intercept[IllegalArgumentException] {
      e.sql("OPTIMIZE zg SORT BY (x) ZORDER BY (k, x)")
    }.getMessage.contains("exclusive"))
    assert(intercept[IllegalArgumentException] {
      e.sql("OPTIMIZE zg ZORDER BY (x, nope)")
    }.getMessage.contains("no such ZORDER BY column"))
    // The rank key's working-column name is reserved end to end: a
    // user column with it would be silently replaced then dropped.
    assert(intercept[IllegalArgumentException] {
      e.sql("CREATE TABLE zres(k BIGINT, __graft_z BIGINT) " +
        "PARTITION BY (k) WITH BUCKETS 2")
    }.getMessage.contains("reserved"))
    assert(intercept[IllegalArgumentException] {
      e.sql("ALTER TABLE zg ADD COLUMN __graft_z BIGINT")
    }.getMessage.contains("reserved"))
  }
}
