package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.mpp.{BucketPruning, MppEngine, MppParser}

/** Shared fault injector for the executor-loss test: requests a
  * cooperative kill of the first attempt of one task per stage via
  * `SparkContext.killTaskAttempt` (throwing from inside a UDF would be
  * WRAPPED into a plain task failure by the UDF error handler and abort
  * the job at local-mode maxFailures=1; a requested kill is discovered
  * at the next interrupt check and reported as TaskKilled, which does
  * not count toward failures and reschedules the task). An object, so
  * the UDF closure serializes without capturing the suite. */
object KillOncePerStage {
  val seen: java.util.Set[Integer] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Integer]()
  def strike(): Unit = {
    val tc = org.apache.spark.TaskContext.get()
    if (tc != null && tc.attemptNumber() == 0 && seen.add(tc.stageId()))
      org.apache.spark.SparkContext.getOrCreate().killTaskAttempt(
        tc.taskAttemptId(), interruptThread = false,
        reason = "graft test: simulated executor loss")
  }
}

/** Replays the reference's SQLLogicTest scenarios against the Spark-native
  * engine: `/root/reference/test/sql/{mpp, mpp_filter, mpp_update,
  * mpp_delete, mpp_transaction}.test` (same statements and semantics;
  * golden values re-derived, since physical row placement is allowed to
  * differ — SURVEY.md §7 hash-compatibility note). */
class MppSpec extends SparkTestBase {

  private def freshEngine(): MppEngine =
    new MppEngine(spark, tempDir("graft-mpp-test"))

  // --- mpp.test:39-76 — DDL, INSERT round trip, filtered SELECT ---------

  test("create + insert + select round trip with bucket pruning (mpp.test)") {
    val e = freshEngine()
    e.sql("CREATE TABLE t1(c0 INT, c1 DOUBLE) PARTITION BY (c0) WITH BUCKETS 4")
    assert(e.systemTable("tables").filter("name = 't1'").count() == 1)
    assert(e.systemTable("shards").count() == 4)
    val n = e.sql(
      "INSERT INTO t1 VALUES (1, 0.1), (2, 0.2), (3, 0.3), (4, 0.4), " +
        "(5, 0.5), (6, 0.6), (7, 0.7), (NULL, 0.8)")
    assert(n.head().getLong(0) == 8L)
    val q = e.table("t1").filter(col("c0") === 3).select("c0", "c1")
    assert(q.collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq ==
      Seq((3, 0.3)))
    assert(e.explainShards(q) == "Shards: 1/4")
    // NULL partition values land in (and prune to) the deterministic
    // null bucket (mpp.test:75-81, mpp_filter.test:73-75).
    val qn = e.table("t1").filter(col("c0").isNull)
    assert(qn.count() == 1L)
    assert(e.explainShards(qn) == "Shards: 1/4")
  }

  // --- mpp_filter.test:60-87 — pruning plan assertions ------------------

  test("shard pruning: eq / in / or / residual (mpp_filter.test)") {
    val e = freshEngine()
    e.sql("CREATE TABLE ft(id BIGINT, v TEXT) PARTITION BY (id) WITH BUCKETS 12")
    e.insertInto("ft", spark.range(0, 1000).toDF("id")
      .withColumn("v", concat(lit("row"), col("id"))))
    val t = e.table("ft")
    assert(e.explainShards(t.filter("id = 7")) == "Shards: 1/12")
    val in3 = t.filter("id IN (1, 2, 3)")
    val inShards = e.explainShards(in3)
    assert(inShards.matches("Shards: [1-3]/12"), inShards)
    assert(in3.count() == 3)
    val or2 = t.filter("id = 1 OR id = 2")
    assert(e.explainShards(or2).matches("Shards: [1-2]/12"))
    // const = col order also prunes (reference quirk 4 fixed).
    assert(e.explainShards(t.filter("5 = id")) == "Shards: 1/12")
    // Non-partition predicates do not prune but stay correct.
    val np = t.filter("v = 'row42'")
    assert(e.explainShards(np) == "Shards: 12/12")
    assert(np.count() == 1)
    // Pruned queries return exactly the right rows.
    assert(t.filter("id = 7").head().getLong(0) == 7L)
    // EXPLAIN through the SQL surface carries the same annotation
    // (mpp_filter.test:60-87 asserts on EXPLAIN output text).
    val ex = e.sql("EXPLAIN SELECT id, v FROM ft WHERE id = 7")
      .collect().map(_.getString(0))
    assert(ex.head == "Shards: 1/12", ex.head)
    assert(ex.exists(_.contains("PushedFilters")), ex.mkString("\n"))
    // EXPLAIN for dialect DML shows write-path pruning WITHOUT executing
    // (reference explains any statement — mpp_delete.test:90).
    val exu = e.sql("EXPLAIN UPDATE ft SET v = 'x' WHERE id = 7")
      .collect().map(_.getString(0))
    assert(exu.head.startsWith("UPDATE ft"), exu.head)
    assert(exu(1) == "Shards: 1/12", exu(1))
    val exd = e.sql("EXPLAIN DELETE FROM ft WHERE id = 3")
      .collect().map(_.getString(0))
    assert(exd(1) == "Shards: 1/12", exd(1))
    // ... and did not execute: the rows are intact.
    assert(e.table("ft").filter("id = 7").head().getString(1) == "row7")
    assert(e.table("ft").filter("id = 3").count() == 1)
    val exi = e.sql("EXPLAIN INSERT INTO ft SELECT 2000, 'n'")
      .collect().map(_.getString(0))
    assert(exi.head.contains("hash shuffle"), exi.head)
    assert(e.table("ft").count() == 1000)
    // Non-dialect EXPLAIN forms delegate to the stock planner instead
    // of erroring (round-2 ADVICE: EXPLAIN EXTENDED/FORMATTED SELECT
    // must not regress).
    val exf = e.sql("EXPLAIN FORMATTED SELECT id FROM ft WHERE id = 7")
    assert(exf.collect().map(_.getString(0))
      .exists(_.contains("Physical Plan")) ||
      exf.collect().nonEmpty)
    val exe = e.sql("EXPLAIN EXTENDED SELECT count(1) FROM ft")
    assert(exe.collect().nonEmpty)
    // EXPLAIN of a dialect CREATE rejects cleanly (and must never
    // recurse through the injected parser).
    val exc = intercept[UnsupportedOperationException] {
      e.sql("EXPLAIN CREATE TABLE zz(a INT) PARTITION BY (a) WITH BUCKETS 2")
    }
    assert(exc.getMessage.contains("EXPLAIN is not supported"),
      exc.getMessage)
  }

  // --- mpp_update.test --------------------------------------------------

  test("UPDATE with expressions and DEFAULT (mpp_update.test)") {
    val e = freshEngine()
    e.sql("CREATE TABLE u(id INT, name TEXT DEFAULT 'tom', " +
      "create_date DATE) PARTITION BY (id) WITH BUCKETS 3")
    e.sql("INSERT INTO u VALUES (1, 'a', DATE '2024-01-01'), " +
      "(2, 'b', DATE '2024-01-02'), (3, 'c', DATE '2024-01-03'), " +
      "(4, 'd', DATE '2024-01-04')")
    // mpp_update.test:63 analog: SET name=DEFAULT, date arithmetic.
    val n = e.sql("UPDATE u SET name = DEFAULT, " +
      "create_date = create_date + INTERVAL 1 DAY WHERE id % 2 = 0")
    assert(n.head().getLong(0) == 2L)
    val rows = e.table("u").orderBy("id")
      .select("id", "name", "create_date").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDate(2).toString))
    assert(rows.toSeq == Seq(
      (1, "a", "2024-01-01"), (2, "tom", "2024-01-03"),
      (3, "c", "2024-01-03"), (4, "tom", "2024-01-05")))
    // Update on the partition column predicate rewrites 1 bucket only.
    val n2 = e.sql("UPDATE u SET name = 'x' WHERE id = 1")
    assert(n2.head().getLong(0) == 1L)
    assert(e.table("u").filter("name = 'x'").count() == 1)
    // Idempotent UPDATE: reports the MATCHED count (DuckDB/Postgres
    // semantics) even though no value changes and nothing rewrites.
    val n3 = e.sql("UPDATE u SET name = 'x' WHERE id = 1")
    assert(n3.head().getLong(0) == 1L)
    // Typo'd SET column: clean validation error, not empty.reduce.
    val ex = intercept[IllegalArgumentException] {
      e.sql("UPDATE u SET nmae = 'y' WHERE id = 1")
    }
    assert(ex.getMessage.contains("no such column"), ex.getMessage)
  }

  test("NOT NULL is forwarded and enforced at insert and update") {
    // Spark surfaces task-side raise_error through SparkException
    // layers; search the whole cause chain for the engine's message.
    def fullMsg(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString("\n")
    val e = freshEngine()
    e.sql("CREATE TABLE nn(c0 INT NOT NULL, c1 TEXT DEFAULT 'd', " +
      "c2 INT NOT NULL DEFAULT 7) PARTITION BY (c0) WITH BUCKETS 2")
    assert(e.sql("INSERT INTO nn VALUES (1, 'a', 2)").head().getLong(0) == 1)
    // Missing NOT NULL column with a default: default satisfies it.
    assert(e.sql("INSERT INTO nn(c0, c1) SELECT 2, 'b'")
      .head().getLong(0) == 1)
    // NULL into a NOT NULL column: rejected, table unchanged —
    // reference parity (constraints forwarded into shard DDL,
    // create_distributed_table.cpp:107; host rejects the NULL).
    val ex = intercept[Exception] {
      e.sql("INSERT INTO nn VALUES (NULL, 'c', 3)")
    }
    assert(fullMsg(ex).contains("NOT NULL constraint failed"), fullMsg(ex))
    assert(e.table("nn").count() == 2)
    // A NOT NULL inside a DEFAULT expression is part of the default,
    // not a constraint: the column stays nullable and the default
    // evaluates intact.
    e.sql("CREATE TABLE nn2(a INT, b BOOLEAN DEFAULT (a IS NOT NULL)) " +
      "PARTITION BY (a) WITH BUCKETS 2")
    e.sql("INSERT INTO nn2(a) SELECT 1")
    assert(e.table("nn2").head().getBoolean(1))
    e.sql("INSERT INTO nn2 VALUES (2, NULL)") // b is nullable
    assert(e.table("nn2").filter("b IS NULL").count() == 1)
    // UPDATE writing NULL into a NOT NULL column: rejected pre-swap.
    val ex2 = intercept[Exception] {
      e.sql("UPDATE nn SET c2 = NULL WHERE c0 = 1")
    }
    assert(fullMsg(ex2).contains("NOT NULL constraint failed"),
      fullMsg(ex2))
    assert(e.table("nn").filter("c2 IS NULL").count() == 0)
  }

  // --- mpp_delete.test --------------------------------------------------

  test("DELETE with predicates and counts (mpp_delete.test)") {
    val e = freshEngine()
    e.sql("CREATE TABLE d(id INT, v DOUBLE) PARTITION BY (id) WITH BUCKETS 4")
    e.insertInto("d", spark.range(0, 100).toDF("id")
      .withColumn("v", col("id") * 1.5))
    // Scalar-function predicate (mpp_delete.test:90: abs/upper style).
    assert(e.sql("DELETE FROM d WHERE abs(v - 3.0) < 0.1").head().getLong(0) == 1L)
    assert(e.sql("DELETE FROM d WHERE id % 10 = 0").head().getLong(0) == 10L)
    assert(e.table("d").count() == 89L)
    // DELETE without WHERE empties the table, count is exact.
    assert(e.sql("DELETE FROM d").head().getLong(0) == 89L)
    assert(e.table("d").count() == 0L)
    // Insert after full delete still works (schema preserved).
    assert(e.insertInto("d", spark.range(5, 8).toDF("id")
      .withColumn("v", lit(1.0))) == 3L)
    assert(e.table("d").count() == 3L)
    // Foldable-true WHERE: Catalyst collapses the rewrite to
    // Filter(false) and erases the CollectMetrics observer — the count
    // must come from the fallback pass, not hang or return 0.
    assert(e.sql("DELETE FROM d WHERE 1 = 1").head().getLong(0) == 3L)
    assert(e.table("d").count() == 0L)
    // Empty-source INSERT returns 0 and leaves the table untouched.
    assert(e.insertInto("d",
      spark.range(0, 0).toDF("id").withColumn("v", lit(0.0))) == 0L)
    // UPDATE without WHERE touches every row.
    e.insertInto("d", spark.range(0, 7).toDF("id").withColumn("v", lit(2.0)))
    assert(e.sql("UPDATE d SET v = v * 2").head().getLong(0) == 7L)
    assert(e.table("d").agg(sum("v")).head().getDouble(0) == 28.0)
  }

  test("UPDATE of the partition column re-buckets the moved rows") {
    val e = freshEngine()
    e.sql("CREATE TABLE mv(id BIGINT, v TEXT) PARTITION BY (id) WITH BUCKETS 4")
    e.insertInto("mv", spark.range(0, 20).toDF("id")
      .withColumn("v", concat(lit("r"), col("id"))))
    assert(e.sql("UPDATE mv SET id = id + 100 WHERE id < 5")
      .head().getLong(0) == 5L)
    assert(e.table("mv").count() == 20L)
    // The moved row is found by a PRUNED point lookup — i.e. it really
    // lives in the bucket hash(103) selects, not its old one.
    val q = e.table("mv").filter(col("id") === 103L)
    assert(e.explainShards(q) == "Shards: 1/4")
    assert(q.collect().map(_.getString(1)).toSeq == Seq("r3"))
    // And per-bucket placement is consistent for every row.
    val mis = e.sql("SELECT * FROM mv").count() // view refresh sanity
    assert(mis == 20L)
  }

  // --- mpp.test:161-171 — DROP bookkeeping ------------------------------

  test("MERGE INTO: upsert via the dialect (SET *, INSERT *, counts, " +
      "convergence)") {
    val e = freshEngine()
    e.sql("CREATE TABLE m1(k BIGINT, v DOUBLE, tag TEXT) " +
      "PARTITION BY (k) WITH BUCKETS 4")
    e.sql("INSERT INTO m1 VALUES (1, 1.0, 'a'), (2, 2.0, 'b'), (3, 3.0, 'c')")
    import spark.implicits._
    Seq((2L, 20.0, "B"), (4L, 40.0, "D"))
      .toDF("k", "v", "tag").createOrReplaceTempView("m1_batch")
    // update k=2, insert k=4; k=1,3 untouched
    val n = e.sql("MERGE INTO m1 t USING (SELECT * FROM m1_batch) s " +
      "ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *").head().getLong(0)
    assert(n == 2L, s"matched+inserted should be 2, got $n")
    val got = e.table("m1").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    assert(got.toSeq == Seq((1L, 1.0, "a"), (2L, 20.0, "B"),
      (3L, 3.0, "c"), (4L, 40.0, "D")))
    // Re-merge converges: same final state, both rows now matched.
    val n2 = e.sql("MERGE INTO m1 t USING (SELECT * FROM m1_batch) s " +
      "ON t.k = s.k WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *").head().getLong(0)
    assert(n2 == 2L)
    assert(e.table("m1").count() == 4L)
    // Explicit assignments referencing both sides, matched-only merge.
    val n3 = e.sql("MERGE INTO m1 t USING (SELECT * FROM m1_batch) s " +
      "ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET v = t.v + s.v, tag = s.tag")
      .head().getLong(0)
    assert(n3 == 2L)
    val got3 = e.table("m1").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got3(2L) == 40.0 && got3(4L) == 80.0 && got3(1L) == 1.0)
    // Insert-only merge (no WHEN MATCHED): appends without rewriting.
    Seq((2L, 0.0, "x"), (5L, 5.0, "e"))
      .toDF("k", "v", "tag").createOrReplaceTempView("m1_batch2")
    val n4 = e.sql("MERGE INTO m1 t USING (SELECT * FROM m1_batch2) s " +
      "ON t.k = s.k WHEN NOT MATCHED THEN INSERT *").head().getLong(0)
    assert(n4 == 1L) // only k=5 is new; matched k=2 left untouched
    assert(e.table("m1").filter(col("k") === 2).head().getDouble(1) == 40.0)
    assert(e.table("m1").count() == 5L)
  }

  test("MERGE INTO error parity: duplicate source keys, non-partition " +
      "ON, partition-column SET, missing clause") {
    val e = freshEngine()
    e.sql("CREATE TABLE m2(k BIGINT, v DOUBLE) PARTITION BY (k) WITH BUCKETS 2")
    e.sql("INSERT INTO m2 VALUES (1, 1.0)")
    import spark.implicits._
    Seq((1L, 2.0), (1L, 3.0)).toDF("k", "v")
      .createOrReplaceTempView("m2_dup")
    val dup = intercept[IllegalArgumentException] {
      e.sql("MERGE INTO m2 t USING (SELECT * FROM m2_dup) s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET *")
    }
    assert(dup.getMessage.contains("duplicate join keys"), dup.getMessage)
    // Regression (round-10, advisor high): with NO matched clause but a
    // BY SOURCE clause, the full-outer COW rewrite still runs — a
    // dup-key source used to slip past the guard and each matched
    // target row came out of the rewrite N× (silent duplication).
    val dupBySrc = intercept[IllegalArgumentException] {
      e.sql("MERGE INTO m2 t USING (SELECT * FROM m2_dup) s ON t.k = s.k " +
        "WHEN NOT MATCHED THEN INSERT * " +
        "WHEN NOT MATCHED BY SOURCE THEN DELETE")
    }
    assert(dupBySrc.getMessage.contains("duplicate join keys"),
      dupBySrc.getMessage)
    assert(e.table("m2").count() == 1L,
      "rejected merge must not have touched the table")
    val badOn = intercept[IllegalArgumentException] {
      e.sql("MERGE INTO m2 t USING (SELECT * FROM m2_dup) s ON t.v = s.v " +
        "WHEN MATCHED THEN UPDATE SET *")
    }
    assert(badOn.getMessage.contains("partition column"), badOn.getMessage)
    Seq((1L, 2.0)).toDF("k", "v").createOrReplaceTempView("m2_one")
    val badSet = intercept[IllegalArgumentException] {
      e.sql("MERGE INTO m2 t USING (SELECT * FROM m2_one) s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET k = s.k + 1")
    }
    assert(badSet.getMessage.contains("partition column"), badSet.getMessage)
    // BY SOURCE UPDATE SET * is meaningless (no source row) — clean error.
    val badStar = intercept[UnsupportedOperationException] {
      e.sql("MERGE INTO m2 t USING (SELECT * FROM m2_one) s ON t.k = s.k " +
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET *")
    }
    assert(badStar.getMessage.contains("SET *"), badStar.getMessage)
    // Explicit INSERT list must carry the partition column from the
    // source — any other value could leave the bucket-local contract.
    val badPc = intercept[IllegalArgumentException] {
      e.sql("MERGE INTO m2 t USING (SELECT * FROM m2_one) s ON t.k = s.k " +
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k + 1, s.v)")
    }
    assert(badPc.getMessage.contains("partition column"), badPc.getMessage)
    // Insert-only merges permit duplicate source keys (ANSI: both rows
    // are legal NOT MATCHED inserts; 21000 covers updates/deletes only).
    import org.apache.spark.sql.functions.col
    val nDup = e.sql("MERGE INTO m2 t USING (SELECT k + 10 AS k, v " +
      "FROM m2_dup) s ON t.k = s.k WHEN NOT MATCHED THEN INSERT *")
      .head().getLong(0)
    assert(nDup == 2L, s"both duplicate-key rows should insert, got $nDup")
    assert(e.table("m2").filter(col("k") === 11L).count() == 2L)
  }

  test("MERGE INTO full clause surface: conditional WHEN, matched " +
      "DELETE, explicit INSERT list, first-match-wins order") {
    val e = freshEngine()
    e.sql("CREATE TABLE m3(k BIGINT, v DOUBLE, tag TEXT DEFAULT 'dflt') " +
      "PARTITION BY (k) WITH BUCKETS 4")
    e.sql("INSERT INTO m3 VALUES (1, 1.0, 'a'), (2, 2.0, 'b'), " +
      "(3, 3.0, 'c'), (4, 4.0, 'd')")
    import spark.implicits._
    // k=1: matched, cond deletes; k=2: matched, conditional update;
    // k=3: matched, no clause applies (passes through); k=5: not
    // matched, explicit INSERT list (tag takes its default); k=6: not
    // matched, no insert clause applies (dropped).
    Seq((1L, -1.0, "del"), (2L, 20.0, "upd"), (3L, 0.0, "skip"),
        (5L, 50.0, "ins"), (6L, -1.0, "skip"))
      .toDF("k", "v", "tag").createOrReplaceTempView("m3_batch")
    val n = e.sql("MERGE INTO m3 t USING (SELECT * FROM m3_batch) s " +
      "ON t.k = s.k " +
      "WHEN MATCHED AND s.tag = 'del' THEN DELETE " +
      "WHEN MATCHED AND s.tag = 'upd' THEN UPDATE SET " +
      "v = t.v + s.v, tag = s.tag " +
      "WHEN NOT MATCHED AND s.tag = 'ins' THEN INSERT (k, v) " +
      "VALUES (s.k, s.v * 2)").head().getLong(0)
    assert(n == 3L, s"1 delete + 1 update + 1 insert = 3, got $n")
    val got = e.table("m3").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
    assert(got == Seq((2L, 22.0, "upd"), (3L, 3.0, "c"),
      (4L, 4.0, "d"), (5L, 100.0, "dflt")), got.toString)
    // First-match-wins: a row satisfying BOTH conditions takes the
    // first clause in declaration order (update before delete here).
    Seq((2L, 5.0, "x")).toDF("k", "v", "tag")
      .createOrReplaceTempView("m3_b2")
    e.sql("MERGE INTO m3 t USING (SELECT * FROM m3_b2) s ON t.k = s.k " +
      "WHEN MATCHED AND s.v > 0 THEN UPDATE SET v = s.v " +
      "WHEN MATCHED THEN DELETE")
    assert(e.table("m3").filter("k = 2").head().getDouble(1) == 5.0)
    // Unconditional DELETE clause after the conditional one still fires
    // for rows the first condition rejects.
    Seq((3L, -3.0, "x"), (4L, 4.5, "y")).toDF("k", "v", "tag")
      .createOrReplaceTempView("m3_b3")
    val n3 = e.sql("MERGE INTO m3 t USING (SELECT * FROM m3_b3) s " +
      "ON t.k = s.k " +
      "WHEN MATCHED AND s.v > 0 THEN UPDATE SET v = s.v " +
      "WHEN MATCHED THEN DELETE").head().getLong(0)
    assert(n3 == 2L)
    val ks = e.table("m3").orderBy("k").collect().map(_.getLong(0)).toSeq
    assert(ks == Seq(2L, 4L, 5L), ks.toString) // k=3 deleted, k=4 updated
    assert(e.table("m3").filter("k = 4").head().getDouble(1) == 4.5)
    // Literals containing alias-like text survive the parsed-expression
    // translation (round-7 ADVICE: the regex path corrupted them).
    Seq((5L, 1.0, "z")).toDF("k", "v", "tag")
      .createOrReplaceTempView("m3_b4")
    e.sql("MERGE INTO m3 t USING (SELECT * FROM m3_b4) s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET tag = 's.v is literal'")
    assert(e.table("m3").filter("k = 5").head().getString(2) ==
      "s.v is literal")
  }

  test("dialect DML parses with Spark's grammar: unparenthesized CASE " +
      "in MERGE clauses, a backquoted SET column") {
    val e = freshEngine()
    e.sql("CREATE TABLE m5(k BIGINT, v DOUBLE, tag TEXT) " +
      "PARTITION BY (k) WITH BUCKETS 4")
    e.sql("INSERT INTO m5 VALUES (1, 1.0, 'a'), (2, 2.0, 'b'), (3, 3.0, 'c')")
    import spark.implicits._
    Seq((1L, 10.0, "x"), (2L, -20.0, "y"), (4L, 40.0, "z"))
      .toDF("k", "v", "tag").createOrReplaceTempView("m5_batch")
    def rows() = e.table("m5").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
    // k=1 matches and its CASE condition holds: updated; k=2 matches
    // but the condition is false: untouched; k=4 is inserted.
    val n = e.sql("MERGE INTO m5 t USING m5_batch s ON t.k = s.k " +
      "WHEN MATCHED AND CASE WHEN s.v > 0 THEN true ELSE false END " +
      "THEN UPDATE SET v = CASE WHEN s.v > 5 THEN s.v ELSE t.v END, " +
      "tag = s.tag WHEN NOT MATCHED THEN INSERT *").head().getLong(0)
    assert(n == 2L, s"1 update + 1 insert = 2, got $n")
    assert(rows() == Seq((1L, 10.0, "x"), (2L, 2.0, "b"), (3L, 3.0, "c"),
      (4L, 40.0, "z")), rows().toString)
    val u = e.sql("UPDATE m5 SET `v` = v + 1 WHERE k = 3").head().getLong(0)
    assert(u == 1L, s"one row updated, got $u")
    assert(rows() == Seq((1L, 10.0, "x"), (2L, 2.0, "b"), (3L, 4.0, "c"),
      (4L, 40.0, "z")), rows().toString)
    // A backquoted target: the parsed statement names it.
    assert(e.sql("UPDATE `m5` SET v = 0 WHERE k = 2").head().getLong(0) == 1L)
    assert(e.sql("INSERT INTO `m5` VALUES (6, 6.0, 'f')").head()
      .getLong(0) == 1L)
    assert(e.sql("DELETE FROM `m5` WHERE k = 6").head().getLong(0) == 1L)
    assert(rows() == Seq((1L, 10.0, "x"), (2L, 0.0, "b"), (3L, 4.0, "c"),
      (4L, 40.0, "z")), rows().toString)
  }

  test("MERGE INTO: WHEN NOT MATCHED BY SOURCE acts on unmatched " +
      "target rows (dialect; conditional chain, empty source)") {
    val e = freshEngine()
    e.sql("CREATE TABLE m4(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 4")
    e.sql("INSERT INTO m4 VALUES (1, 1.0), (2, 2.0), (3, 3.0), (4, 4.0)")
    import spark.implicits._
    Seq((2L, 20.0), (5L, 50.0)).toDF("k", "v")
      .createOrReplaceTempView("m4_batch")
    // k=2 matched-updates, k=5 inserts; of the unmatched target rows
    // k=1 (v<2) deletes via the first BY SOURCE clause, k=3 and k=4
    // update via the second (first-match-wins within the chain).
    val n = e.sql("MERGE INTO m4 t USING (SELECT * FROM m4_batch) s " +
      "ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT * " +
      "WHEN NOT MATCHED BY SOURCE AND v < 2.0 THEN DELETE " +
      "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = v + 100.0")
      .head().getLong(0)
    assert(n == 5L, s"1 upd + 1 ins + 1 bysrc-del + 2 bysrc-upd = 5, got $n")
    val got = e.table("m4").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == Seq((2L, 20.0), (3L, 103.0), (4L, 104.0), (5L, 50.0)),
      got.toString)
    // Rows the next merge keeps (v < 100), so that some bucket dirs
    // hold no row its BY SOURCE condition hits: k=2..5 share two dirs.
    e.insertInto("m4", spark.range(10, 18).toDF("k")
      .withColumn("v", col("k") * 1.0))
    // Data file names per bucket dir, and the dirs holding a v >= 100
    // row, read from the dirs themselves.
    val root = new java.io.File(s"${e.warehouse}/data/m4")
    def filesByBucket(): Map[String, Set[String]] =
      root.listFiles().filter(_.getName.startsWith(
          s"${BucketPruning.BucketCol}=")).map(d => d.getName ->
        d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet)
        .toMap
    val before = filesByBucket()
    val hit = before.keySet.filter(b => before(b).nonEmpty &&
      spark.read.parquet(s"$root/$b").filter("v >= 100.0").count() > 0)
    assert(hit.nonEmpty && (before.keySet -- hit).exists(before(_).nonEmpty),
      s"layout must hold hit and clean buckets: $before, hit $hit")
    // ANSI corner: an EMPTY source makes every target row "not matched
    // by source" — the merge is NOT a no-op.
    val n2 = e.sql("MERGE INTO m4 t USING (SELECT * FROM m4_batch " +
      "WHERE v > 1e9) s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED BY SOURCE AND v >= 100.0 THEN DELETE")
      .head().getLong(0)
    assert(n2 == 2L, s"empty source still BY-SOURCE-deletes, got $n2")
    val ks = e.table("m4").orderBy("k").collect().map(_.getLong(0)).toSeq
    assert(ks == Seq(2L, 5L) ++ (10L until 18L), ks.toString)
    // BY SOURCE match pruning: only the dirs holding a row the
    // condition hits are rewritten; every other dir keeps its files.
    val after = filesByBucket()
    (before.keySet -- hit).foreach(b =>
      assert(after.getOrElse(b, Set.empty) == before(b), s"$b rewritten"))
    hit.foreach(b => assert(
      (after.getOrElse(b, Set.empty) intersect before(b)).isEmpty,
      s"$b not rewritten: ${before(b)} -> ${after.get(b)}"))
  }

  test("DROP TABLE marks metadata deleted and removes data (mpp.test)") {
    val e = freshEngine()
    e.sql("CREATE TABLE dr(id INT) PARTITION BY (id) WITH BUCKETS 2")
    e.insertInto("dr", spark.range(10).toDF("id"))
    e.sql("DROP TABLE dr")
    val meta = e.systemTable("tables").filter("name = 'dr'")
    assert(meta.count() == 1 && meta.head().getAs[Boolean]("deleted"))
    intercept[IllegalArgumentException] { e.table("dr") }
    // Re-creating under the same name works (fresh oid).
    e.sql("CREATE TABLE dr(id INT) PARTITION BY (id) WITH BUCKETS 2")
    assert(e.table("dr").count() == 0)
  }

  // --- mpp_transaction.test:15-26 — metadata rollback -------------------

  test("transaction rollback discards staged DDL metadata (mpp_transaction.test)") {
    val e = freshEngine()
    e.begin()
    e.createDistributedTable("tx", "id INT, v STRING", "id", 4)
    assert(e.catalog.state.liveTable("tx").isDefined)
    e.rollback()
    assert(e.catalog.state.liveTable("tx").isEmpty)
    // And a committed transaction persists across engine restart.
    e.begin()
    e.createDistributedTable("tx2", "id INT", "id", 2)
    e.commit()
    val e2 = new MppEngine(spark, e.warehouse)
    assert(e2.catalog.state.liveTable("tx2").isDefined)
    // Same semantics through the SQL script surface (the literal shape
    // of mpp_transaction.test:15-26).
    e2.sql("BEGIN")
    e2.sql("CREATE TABLE tx3(id INT) PARTITION BY (id) WITH BUCKETS 2")
    assert(e2.catalog.state.liveTable("tx3").isDefined)
    e2.sql("ROLLBACK")
    assert(e2.catalog.state.liveTable("tx3").isEmpty)
    e2.sql("BEGIN TRANSACTION")
    e2.sql("CREATE TABLE tx4(id INT) PARTITION BY (id) WITH BUCKETS 2")
    e2.sql("COMMIT")
    assert(e2.catalog.state.liveTable("tx4").isDefined)
  }

  // --- mpp.test:30-36 — cluster metadata --------------------------------

  test("master_add_node surface (mpp.test)") {
    val e = freshEngine()
    e.masterAddNode("10.0.0.1", 5432)
    e.masterAddNode("10.0.0.2", 5432)
    e.masterAddNode("10.0.0.1", 5432) // duplicate-tolerant
    assert(e.systemTable("nodes").count() == 2)
    intercept[IllegalArgumentException] { e.masterAddNode("x", -1) }
    // Shards of a new table round-robin over registered nodes.
    e.sql("CREATE TABLE nt(id INT) PARTITION BY (id) WITH BUCKETS 4")
    val nodes = e.systemTable("shards")
      .join(e.systemTable("tables").filter("name = 'nt'"), "table_oid")
      .select("node").distinct().count()
    assert(nodes == 2)
  }

  // --- CTAS (capability superset — reference throws, mpp_catalog.cpp:109)

  test("CREATE TABLE ... AS SELECT creates and loads a distributed table") {
    val e = freshEngine()
    spark.range(0, 100).selectExpr("id", "id * 2 AS dbl")
      .createOrReplaceTempView("ctas_src")
    e.sql("CREATE TABLE ctas_t PARTITION BY (id) WITH BUCKETS 4 " +
      "AS SELECT * FROM ctas_src")
    assert(e.table("ctas_t").count() == 100L)
    assert(e.systemTable("shards")
      .join(e.systemTable("tables").filter("name = 'ctas_t'"), "table_oid")
      .count() == 4)
    val pruned = e.table("ctas_t").filter(col("id") === 7L)
    assert(e.explainShards(pruned) == "Shards: 1/4")
    assert(pruned.head().getLong(1) == 14L)
  }

  // --- schema namespace + catalog scan + shard debug (D4/D5/M2) ---------

  test("create schema / show tables / single-shard debug read") {
    val e = freshEngine()
    e.sql("CREATE SCHEMA analytics")
    intercept[IllegalArgumentException] { e.createSchema("analytics") }
    e.sql("CREATE SCHEMA IF NOT EXISTS analytics") // idempotent form
    assert(e.catalog.state.schemas.contains("analytics"))
    // DROP SCHEMA errors, like the reference (mpp_catalog.cpp:130-132).
    intercept[UnsupportedOperationException] { e.sql("DROP SCHEMA analytics") }
    e.sql("CREATE TABLE st(id INT, v TEXT) PARTITION BY (id) WITH BUCKETS 3")
    e.sql("INSERT INTO st VALUES (1, 'a'), (2, 'b'), (3, 'c'), (4, 'd')")
    val shown = e.sql("SHOW TABLES").collect()
    assert(shown.map(_.getString(0)).toSeq == Seq("st"))
    // DESCRIBE binds to the engine's own table.
    val desc = e.sql("DESCRIBE st").collect().map(_.getString(0))
    assert(desc.take(2).toSeq == Seq("id", "v"), desc.toSeq)
    // Engine names match as Spark's relations do: case-insensitively.
    assert(e.sql("SELECT count(*) FROM ST").head.getLong(0) == 4L)
    // A CTE body reads the engine table; a CTE of the same name shadows it.
    assert(e.sql("WITH w AS (SELECT * FROM st) SELECT count(*) FROM w")
      .head.getLong(0) == 4L)
    assert(e.sql("WITH st AS (SELECT 1 AS id) SELECT count(*) FROM st")
      .head.getLong(0) == 1L)
    // Shard reads partition the table: disjoint, complete.
    val perShard = (0 until 3).map(k => e.readShard("st", k).count()).sum
    assert(perShard == 4L)
    intercept[IllegalArgumentException] { e.readShard("st", 9) }
  }

  test("every statement and API call matches a table name as DELETE does") {
    val e = freshEngine()
    e.sql("CREATE TABLE st(id INT, v TEXT) PARTITION BY (id) WITH BUCKETS 2")
    e.sql("INSERT INTO st VALUES (1, 'a'), (2, 'b')")
    val hist = e.sql("DESCRIBE HISTORY ST").collect()
    val v = hist.map(_.getAs[Long]("version")).max
    e.sql("DELETE FROM ST WHERE id = 2")
    e.sql("INSERT INTO st VALUES (3, 'c')")
    assert(e.sql("OPTIMIZE ST").head().getLong(0) >= 0L)
    e.sql("ALTER TABLE ST ADD COLUMN w INT")
    assert(e.table("ST").columns.toSeq == Seq("id", "v", "w"))
    e.sql(s"RESTORE TABLE ST TO VERSION AS OF $v")
    assert(e.table("ST").collect().map(r => (r.getInt(0), r.getString(1)))
      .toSet == Set((1, "a"), (2, "b")))
    val ex = intercept[UnsupportedOperationException] {
      e.sql("INSERT INTO ST VALUES (9, 'z') ON CONFLICT DO NOTHING")
    }
    assert(ex.getMessage.contains("Conflict action is not supported"))
    // The data path is the table's own, whatever the spelling.
    e.dropTable("ST")
    assert(e.catalog.state.liveTable("st").isEmpty)
    assert(!Files.exists(java.nio.file.Paths.get(e.warehouse, "data", "st")))
  }

  // --- parser-extension path (D2) ---------------------------------------

  test("SparkSessionExtensions parser intercepts the dialect end-to-end") {
    val e = freshEngine()
    assert(MppParser.intercepts(
      "CREATE TABLE px(a INT) PARTITION BY (a) WITH BUCKETS 3"))
    assert(!MppParser.intercepts("SELECT 1"))
    // A session with injected extensions routes dialect SQL through the
    // engine without touching engine.sql directly.
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    val s2 = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .withExtensions(new graft.mpp.MppExtensions()(_))
      .getOrCreate()
    try {
      s2.sql("CREATE TABLE px(a INT, b TEXT) PARTITION BY (a) WITH BUCKETS 3")
      assert(e.catalog.state.liveTable("px").isDefined)
      // Typed dialect results (reference mpp_physical_insert.cpp:215-221,
      // mpp_physical_update.cpp:104-111): DML through spark.sql carries
      // the same `Count BIGINT` schema as engine.sql, not a flattened
      // string.
      val ins = s2.sql("INSERT INTO px VALUES (1, 'x'), (2, 'y')")
      assert(ins.schema.map(f => (f.name, f.dataType)) ==
        Seq(("Count", org.apache.spark.sql.types.LongType)), ins.schema)
      assert(ins.head().getLong(0) == 2L)
      assert(e.table("px").count() == 2)
      val upd = s2.sql("UPDATE px SET b = 'z' WHERE a = 1")
      assert(upd.schema.head.name == "Count" && upd.head().getLong(0) == 1L)
      val del = s2.sql("DELETE FROM px WHERE a = 2")
      assert(del.schema.head.name == "Count" && del.head().getLong(0) == 1L)
      val mrg = s2.sql("MERGE INTO px t USING (SELECT 1 AS a, 'm' AS b) s " +
        "ON t.a = s.a WHEN MATCHED THEN UPDATE SET b = s.b")
      assert(mrg.schema.map(f => (f.name, f.dataType)) ==
        Seq(("Count", org.apache.spark.sql.types.LongType)), mrg.schema)
      assert(mrg.head().getLong(0) == 1L)
      s2.sql("DELETE FROM px")
      s2.sql("DROP TABLE px")
      assert(e.catalog.state.liveTable("px").isEmpty)
      // Full SQL lifecycle: ATTACH bootstraps a catalog (the reference
      // entry point, mpp.test:15-31), ENDPOINT registers the
      // coordinator node, DETACH releases it.
      val wh = tempDir("graft-attach")
      s2.sql(s"ATTACH '$wh' AS g (TYPE mpp, ENDPOINT '127.0.0.1:5432')")
      val attached = graft.mpp.MppEngine.current.get
      assert(attached.warehouse == wh)
      assert(attached.systemTable("nodes").count() == 1)
      s2.sql("CREATE TABLE at1(id INT) PARTITION BY (id) WITH BUCKETS 2")
      s2.sql("INSERT INTO at1 VALUES (1), (2), (3)")
      assert(attached.table("at1").count() == 3)
      // The two front ends agree: on a live table of the USE'd catalog,
      // each statement below runs through spark.sql and through
      // engine.sql with the same result columns and the same effect.
      s2.sql("USE g")
      s2.sql("CREATE TABLE pt(id INT, v TEXT) PARTITION BY (id) WITH BUCKETS 2")
      s2.sql("INSERT INTO pt VALUES (1, 'a'), (2, 'b'), (3, 'c')")
      def rows() = attached.table("pt").collect().map(_.toSeq).toSet
      def both(viaSpark: String, viaEngine: String) = {
        val (a, b) = (s2.sql(viaSpark), attached.sql(viaEngine))
        assert(a.schema == b.schema, s"$viaSpark: ${a.schema} vs ${b.schema}")
        (a.collect().toSeq, b.collect().toSeq)
      }
      def same(sql: String) = both(sql, sql)
      // A backquoted target is recognized on Spark's parse of it.
      assert(same("UPDATE `pt` SET v = 'x' WHERE id = 1") ==
        (Seq(Row(1L)), Seq(Row(1L))))
      assert(rows()(Seq(1, "x")))
      // WITH … INSERT: the CTE scopes the source query.
      assert(both("WITH s AS (SELECT 4 AS id, 'd' AS v) INSERT INTO pt SELECT * FROM s",
        "WITH s AS (SELECT 5 AS id, 'e' AS v) INSERT INTO pt SELECT * FROM s") ==
        (Seq(Row(1L)), Seq(Row(1L))))
      assert(rows().map(_.head) == Set(1, 2, 3, 4, 5))
      val withUpd = "WITH s AS (SELECT 1 AS id) UPDATE pt SET v = 'y' WHERE id = 1"
      val fronts = Seq[String => DataFrame](s2.sql(_), attached.sql(_))
      fronts.foreach { run =>
        val wex = intercept[UnsupportedOperationException](run(withUpd))
        assert(wex.getMessage.contains("WITH … UPDATE"), wex.getMessage)
      }
      val (h1, h2) = same("DESCRIBE HISTORY pt")
      assert(h1 == h2 && h1.nonEmpty)
      val vFive = h1.map(_.getLong(0)).max
      val before = rows()
      val (o1, o2) = same("OPTIMIZE pt")
      assert(o1.size == 1 && o2.size == 1 && rows() == before)
      val restored = fronts.map { run =>
        attached.sql("DELETE FROM pt WHERE id = 2")
        val r = run(s"RESTORE TABLE pt TO VERSION AS OF $vFive")
        assert(rows() == before)
        r.schema
      }
      assert(restored.distinct.size == 1)
      both("ALTER TABLE pt ADD COLUMN c1 INT", "ALTER TABLE pt ADD COLUMN c2 INT")
      assert(attached.table("pt").columns.toSeq == Seq("id", "v", "c1", "c2"))
      both("ALTER TABLE pt REBUCKET 4", "ALTER TABLE pt REBUCKET 3")
      assert(attached.catalog.state.liveTable("pt").get.buckets == 3)
      assert(attached.table("pt").count() == 5)
      // INSERT OVERWRITE would run as an append: it fails, rows intact.
      val ow = intercept[IllegalArgumentException] {
        s2.sql("INSERT OVERWRITE pt SELECT 9, 'o', 0, 0")
      }
      assert(ow.getMessage.contains("OVERWRITE"), ow.getMessage)
      assert(attached.table("pt").count() == 5)
      // mpp-scoped error parity through the injected parser: a create
      // targeting the attached catalog (alias-qualified or unqualified
      // while it is USE'd) rejects like the reference's schema entry.
      val vex = intercept[Exception] {
        s2.sql("CREATE VIEW g.badview AS SELECT 1")
      }
      assert(vex.getMessage.contains("MppSchemaEntry::CreateView"),
        vex.getMessage)
      // CREATE INDEX names the index, not the table: the ON target is
      // what makes it mpp-scoped.
      val iex = intercept[Exception] {
        s2.sql("CREATE INDEX ix1 ON g.at1(id)")
      }
      assert(iex.getMessage.contains("MppSchemaEntry::CreateIndex"),
        iex.getMessage)
      s2.sql("DETACH g")
      assert(graft.mpp.MppEngine.current.isEmpty)
    } finally {
      org.apache.spark.sql.SparkSession.clearActiveSession()
      org.apache.spark.sql.SparkSession.clearDefaultSession()
      org.apache.spark.sql.SparkSession.setDefaultSession(spark)
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
    }
  }

  // --- mpp.test:15-44 — the reference's TWO-catalog flagship sequence ---

  test("two attached catalogs with USE routing (mpp.test:15-44 replay)") {
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    val s2 = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .withExtensions(new graft.mpp.MppExtensions()(_))
      .getOrCreate()
    val (wh1, wh2) = (tempDir("graft-db1"), tempDir("graft-db2"))
    try {
      s2.sql(s"ATTACH '$wh1' AS mpp_db1 (TYPE mpp, ENDPOINT '127.0.0.1:12345')")
      s2.sql(s"ATTACH '$wh2' AS mpp_db2 (TYPE mpp, ENDPOINT '127.0.0.1:23456')")
      s2.sql("USE mpp_db1")
      MppEngine.registry("mpp_db1").masterAddNode("127.0.0.1", 23456)
      // Catalog-qualified system table scan (db1.__mpp_system.nodes).
      val nodes = s2.sql(
        "SELECT * FROM mpp_db1.__mpp_system.nodes ORDER BY port")
        .collect().map(r => (r.getString(0), r.getInt(1)))
      assert(nodes.toSeq == Seq(("127.0.0.1", 12345), ("127.0.0.1", 23456)))
      // Dialect CREATE routes to the USE'd catalog.
      s2.sql("CREATE TABLE t1(c0 INT, c1 DOUBLE) PARTITION BY (c0) WITH BUCKETS 4")
      assert(MppEngine.registry("mpp_db1").catalog.state
        .liveTable("t1").isDefined)
      assert(MppEngine.registry("mpp_db2").catalog.state
        .liveTable("t1").isEmpty)
      // Round-robin shard placement over the two nodes (2 shards each).
      val byNode = s2.sql(
        """SELECT node, count(shard_id) AS n
          |FROM mpp_db1.__mpp_system.shards GROUP BY node ORDER BY node"""
          .stripMargin)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      assert(byNode.toSeq ==
        Seq(("127.0.0.1:12345", 2L), ("127.0.0.1:23456", 2L)))
      s2.sql("INSERT INTO t1 VALUES(1, 0.1),(2, 0.2),(3, 0.3),(4, 0.4)")
      s2.sql("INSERT INTO t1 VALUES(5, 0.5),(6, 0.6),(7, 0.7),(8, 0.8)")
      // Session-scoped TEMP entities bypass the USE'd mpp catalog
      // (DuckDB semantics: temp catalog wins) — they must not hit the
      // MppSchemaEntry rejection.
      s2.sql("CREATE TEMP VIEW tmpv AS SELECT 42 AS x")
      assert(s2.sql("SELECT x FROM tmpv").head.getInt(0) == 42)
      // Unqualified read resolves in the USE'd catalog.
      assert(s2.sql("SELECT c0, c1 FROM t1 WHERE c0 = 3")
        .collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq ==
        Seq((3, 0.3)))
      assert(s2.sql("SELECT count(1) FROM t1").head.getLong(0) == 8L)
      // Same-named table in the OTHER catalog: independent data, both
      // addressable by alias at once (the singleton round-1 engine
      // could not do this).
      s2.sql("USE mpp_db2")
      s2.sql("CREATE TABLE t1(c0 INT, c1 DOUBLE) PARTITION BY (c0) WITH BUCKETS 2")
      s2.sql("INSERT INTO t1 VALUES(100, 9.9)")
      assert(s2.sql("SELECT count(1) FROM t1").head.getLong(0) == 1L)
      assert(s2.sql("SELECT count(1) FROM mpp_db1.t1").head.getLong(0) == 8L)
      assert(s2.sql("SELECT count(1) FROM mpp_db2.t1").head.getLong(0) == 1L)
      // Catalog-qualified DML routes by alias, not by USE.
      s2.sql("DELETE FROM mpp_db1.t1 WHERE c0 = 8")
      assert(s2.sql("SELECT count(1) FROM mpp_db1.t1").head.getLong(0) == 7L)
      assert(s2.sql("SELECT count(1) FROM mpp_db2.t1").head.getLong(0) == 1L)
      // A write to the other catalog's t1 leaves the USE'd one in charge
      // of the unqualified name.
      assert(s2.sql("SELECT count(1) FROM t1").head.getLong(0) == 1L)
      assert(MppEngine.registry("mpp_db2").sql("SELECT count(1) FROM t1")
        .head.getLong(0) == 1L)
      // A statement routed to mpp_db1 by its target still reads the
      // USE'd catalog's unqualified names: INSERT, CTAS and a MERGE
      // source all read mpp_db2's t1.
      s2.sql("INSERT INTO mpp_db1.t1 SELECT * FROM t1")
      assert(s2.sql("SELECT c0 FROM mpp_db1.t1 ORDER BY c0").collect()
        .map(_.getInt(0)).toSeq == Seq(1, 2, 3, 4, 5, 6, 7, 100))
      s2.sql("CREATE TABLE mpp_db1.cx PARTITION BY (c0) WITH BUCKETS 2 " +
        "AS SELECT * FROM t1")
      assert(s2.sql("SELECT c0 FROM mpp_db1.cx").collect()
        .map(_.getInt(0)).toSeq == Seq(100))
      s2.sql("MERGE INTO mpp_db1.t1 d USING t1 s ON d.c0 = s.c0 " +
        "WHEN MATCHED THEN UPDATE SET c1 = -1.0")
      assert(s2.sql("SELECT c0 FROM mpp_db1.t1 WHERE c1 < 0").collect()
        .map(_.getInt(0)).toSeq == Seq(100))
      // Names match case-insensitively, as Spark's relations do.
      assert(s2.sql("SELECT count(1) FROM T1").head.getLong(0) == 1L)
      // USE memory → default catalog (mpp.test:174); DETACH removes
      // ONLY the named catalog.
      s2.sql("USE memory")
      s2.sql("DETACH mpp_db1")
      assert(!MppEngine.registry.contains("mpp_db1"))
      assert(MppEngine.registry.contains("mpp_db2"))
      assert(s2.sql("SELECT count(1) FROM mpp_db2.t1").head.getLong(0) == 1L)
      s2.sql("DETACH mpp_db2")
      assert(!MppEngine.registry.contains("mpp_db2"))
    } finally {
      org.apache.spark.sql.SparkSession.clearActiveSession()
      org.apache.spark.sql.SparkSession.clearDefaultSession()
      org.apache.spark.sql.SparkSession.setDefaultSession(spark)
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
    }
  }

  test("two warehouses in one session: each engine reads its own table of a shared name") {
    val e1 = new MppEngine(spark, tempDir("graft-own1"))
    val e2 = new MppEngine(spark, tempDir("graft-own2"))
    Seq(e1, e2).foreach(_.sql(
      "CREATE TABLE pt(id INT) PARTITION BY (id) WITH BUCKETS 2"))
    e1.sql("INSERT INTO pt VALUES (1), (2), (3)")
    e2.sql("INSERT INTO pt VALUES (4)")
    assert(e1.sql("SELECT count(*) FROM pt").head.getLong(0) == 3L)
    assert(e2.sql("SELECT count(*) FROM pt").head.getLong(0) == 1L)
    assert(e1.sql("SELECT sum(id) FROM pt").head.getLong(0) == 6L)
    // An engine never reads another warehouse's table, even when it has
    // none of that name and the other is the session's current engine
    // (no catalog USE'd: the most recently built one).
    e2.sql("CREATE TABLE only2(id INT) PARTITION BY (id) WITH BUCKETS 2")
    val used = MppEngine.active
    MppEngine.active = None
    try {
      assert(MppEngine.current.contains(e2))
      val ex = intercept[org.apache.spark.sql.AnalysisException] {
        e1.sql("SELECT * FROM only2").collect()
      }
      assert(ex.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"), ex.getMessage)
    } finally MppEngine.active = used
  }

  test("two engines on one warehouse: interleaved commits both survive (CAS)") {
    val wh = tempDir("graft-cas")
    val a = new MppEngine(spark, wh)
    val b = new MppEngine(spark, wh) // loads the same initial version
    a.sql("CREATE TABLE ta(id INT) PARTITION BY (id) WITH BUCKETS 2")
    // b's in-memory metadata is now one version behind; its commit must
    // detect the claim conflict, rebase onto a's state, and retry —
    // last-writer-wins would silently drop ta here.
    b.sql("CREATE TABLE tb(id INT) PARTITION BY (id) WITH BUCKETS 2")
    val c = new MppEngine(spark, wh)
    assert(c.catalog.state.liveTable("ta").isDefined,
      "first engine's commit was dropped by the second's")
    assert(c.catalog.state.liveTable("tb").isDefined)
    // A TRANSACTION cannot rebase (its staged state accumulated from
    // begin()-time metadata): a concurrent commit fails it cleanly.
    b.sql("BEGIN")
    b.sql("CREATE TABLE tx1(id INT) PARTITION BY (id) WITH BUCKETS 2")
    a.sql("CREATE TABLE tc(id INT) PARTITION BY (id) WITH BUCKETS 2")
    val err = intercept[java.util.ConcurrentModificationException] {
      b.sql("COMMIT")
    }
    assert(err.getMessage.contains("concurrent metadata commit"))
    // The failed transaction rolled back; a's commit survived, and
    // the table whose creation was discarded no longer resolves.
    val d = new MppEngine(spark, wh)
    assert(d.catalog.state.liveTable("tc").isDefined)
    assert(d.catalog.state.liveTable("tx1").isEmpty)
    val gone = intercept[org.apache.spark.sql.AnalysisException] {
      d.sql("SELECT * FROM tx1")
    }
    assert(gone.getCondition == "TABLE_OR_VIEW_NOT_FOUND", gone.getMessage)
    // An orphaned claim (a writer that died between claiming a version
    // and publishing CURRENT) must not wedge the warehouse: the next
    // commit steps over the hole after the grace wait.
    val cur = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$wh/_mpp_catalog/CURRENT")).trim.toLong
    java.nio.file.Files.createFile(java.nio.file.Paths.get(
      f"$wh/_mpp_catalog/v${cur + 1}%05d.claim"))
    a.sql("CREATE TABLE td(id INT) PARTITION BY (id) WITH BUCKETS 2")
    val e2 = new MppEngine(spark, wh)
    assert(e2.catalog.state.liveTable("td").isDefined,
      "commit wedged by an orphaned claim")
  }

  test("plan-level read routing: alias collisions never mis-read; qualified CTAS via spark.sql") {
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    val s2 = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .withExtensions(new graft.mpp.MppExtensions()(_))
      .getOrCreate()
    try {
      val wh = tempDir("graft-alias")
      s2.sql(s"ATTACH '$wh' AS dbx (TYPE mpp)")
      s2.sql("USE dbx")
      s2.sql("CREATE TABLE t(c0 INT) PARTITION BY (c0) WITH BUCKETS 2")
      s2.sql("INSERT INTO t VALUES (1), (2)")
      assert(s2.sql("SELECT count(1) FROM dbx.t").head.getLong(0) == 2L)
      // `dbx.t` as a COLUMN reference: subquery alias `dbx` collides
      // with the catalog name and `t` with a live table. Textual
      // rewriting read the catalog table here; plan-level resolution
      // sees an UnresolvedAttribute and leaves it alone.
      s2.sql("CREATE TEMP VIEW v AS SELECT 'col-t' AS t")
      assert(s2.sql("SELECT dbx.t FROM v AS dbx").head.getString(0)
        == "col-t")
      // …while the same name as a RELATION still routes to the catalog.
      assert(s2.sql("SELECT count(1) FROM dbx.t").head.getLong(0) == 2L)
      // Rewrites reach subquery expressions too.
      assert(s2.sql(
        "SELECT (SELECT count(1) FROM dbx.t) AS n").head.getLong(0) == 2L)
      // Qualified CTAS now parses identically via spark.sql and
      // engine.sql (the injected parser's dialect regex accepted only
      // bare names before). Schema DDL goes through the engine (CREATE
      // SCHEMA is not dialect-intercepted — Spark has its own).
      MppEngine.registry("dbx").sql("CREATE SCHEMA s1")
      s2.sql("CREATE TABLE s1.ct PARTITION BY (c0) WITH BUCKETS 2 " +
        "AS SELECT c0 FROM dbx.t")
      assert(s2.sql("SELECT count(1) FROM dbx.s1.ct").head.getLong(0) == 2L)
      // EXPLAIN supervises its inner plan as a LEAF (not a child):
      // the relation rewrite must reach through it, or the explain
      // reports TABLE_OR_VIEW_NOT_FOUND instead of a plan.
      val ex = s2.sql("EXPLAIN EXTENDED SELECT count(1) FROM dbx.t")
        .collect().map(_.getString(0)).mkString("\n")
      assert(!ex.contains("TABLE_OR_VIEW_NOT_FOUND") &&
        !ex.contains("Error occurred"), ex.take(600))
      // DESCRIBE binds via UnresolvedTableOrView, not
      // UnresolvedRelation — the plan rewrite must route it too.
      val desc = s2.sql("DESCRIBE dbx.t").collect().map(_.getString(0))
      assert(desc.contains("c0"), desc.toSeq)
      s2.sql("DETACH dbx")
    } finally {
      org.apache.spark.sql.SparkSession.clearActiveSession()
      org.apache.spark.sql.SparkSession.clearDefaultSession()
      org.apache.spark.sql.SparkSession.setDefaultSession(spark)
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
    }
  }

  test("schema-qualified tables: CREATE s.t / FROM s.t / DML s.t") {
    val e = freshEngine()
    e.sql("CREATE SCHEMA analytics")
    e.sql("CREATE TABLE analytics.fact(id BIGINT, v DOUBLE) " +
      "PARTITION BY (id) WITH BUCKETS 4")
    e.sql("INSERT INTO analytics.fact VALUES (1, 1.5), (2, 2.5), (3, 3.5)")
    // Reads through the engine SQL surface with the qualified name.
    assert(e.sql("SELECT count(1) FROM analytics.fact").head.getLong(0) == 3L)
    assert(e.sql("SELECT v FROM analytics.fact WHERE id = 2")
      .head.getDouble(0) == 2.5)
    e.sql("UPDATE analytics.fact SET v = v + 1 WHERE id = 1")
    assert(e.sql("SELECT v FROM analytics.fact WHERE id = 1")
      .head.getDouble(0) == 2.5)
    e.sql("DELETE FROM analytics.fact WHERE id = 3")
    assert(e.sql("SELECT count(1) FROM analytics.fact").head.getLong(0) == 2L)
    // CREATE into a missing schema is a clean error (reference
    // MppSchemaEntry::GetEntry binding).
    val err = intercept[IllegalArgumentException] {
      e.sql("CREATE TABLE nosuch.t(id INT) PARTITION BY (id) WITH BUCKETS 2")
    }
    assert(err.getMessage.contains("schema nosuch does not exist"))
    e.sql("DROP TABLE analytics.fact")
    assert(e.catalog.state.liveTable("analytics.fact").isEmpty)
  }

  // --- error parity + rowid (reference mpp_plan_insert/update, ---------
  // --- mpp_schema_entry.cpp:158-160, mpp_table_scan.cpp:310-315) -------

  test("unsupported statements fail with the reference's specific errors") {
    val e = freshEngine()
    e.sql("CREATE TABLE ep(id BIGINT, v TEXT) PARTITION BY (id) WITH BUCKETS 2")
    e.insertInto("ep", spark.range(0, 10).toDF("id")
      .withColumn("v", lit("x")))
    def msg(sql: String): String =
      intercept[UnsupportedOperationException](e.sql(sql)).getMessage
    assert(msg("INSERT INTO ep SELECT 11, 'y' RETURNING id")
      .contains("INSERT with RETURNING is not supported"))
    assert(msg("INSERT INTO ep VALUES (1, 'z') ON CONFLICT DO NOTHING")
      .contains("Conflict action is not supported"))
    assert(msg("UPDATE ep SET v = 'w' WHERE id = 1 RETURNING v")
      .contains("UPDATE with returning"))
    assert(msg("DELETE FROM ep WHERE id = 2 RETURNING id")
      .contains("DELETE with returning"))
    // ADD/DROP COLUMN are now supported (SchemaEvolutionSpec); every
    // OTHER ALTER form keeps the reference's rejection.
    assert(msg("ALTER TABLE ep RENAME COLUMN v TO w")
      .contains("ALTER is not implemented"))
    assert(msg("ALTER TABLE ep ALTER COLUMN v SET DATA TYPE INT")
      .contains("ALTER is not implemented"))
    // Non-table creates land on the mpp schema, which rejects each kind
    // with its specific entry point (mpp_schema_entry.cpp:72-128).
    assert(msg("CREATE VIEW vw AS SELECT * FROM ep")
      .contains("MppSchemaEntry::CreateView"))
    assert(msg("CREATE INDEX ix ON ep(id)")
      .contains("MppSchemaEntry::CreateIndex"))
    assert(msg("CREATE UNIQUE INDEX ux ON ep(id)")
      .contains("MppSchemaEntry::CreateIndex"))
    assert(msg("CREATE SEQUENCE seq1")
      .contains("MppSchemaEntry::CreateSequence"))
    assert(msg("CREATE TYPE mood AS ENUM ('a', 'b')")
      .contains("MppSchemaEntry::CreateType"))
    assert(msg("CREATE MACRO add1(x) AS x + 1")
      .contains("MppSchemaEntry::CreateFunction"))
    assert(msg("CREATE OR REPLACE FUNCTION f1(x) AS x * 2")
      .contains("MppSchemaEntry::CreateFunction"))
    // INSERT OVERWRITE would run as an append: it fails loudly instead.
    val ow = intercept[IllegalArgumentException] {
      e.sql("INSERT OVERWRITE ep SELECT 11, 'o'")
    }
    assert(ow.getMessage.contains("OVERWRITE"), ow.getMessage)
    // Nothing executed: table intact.
    assert(e.table("ep").count() == 10)
    assert(e.table("ep").filter("v <> 'x'").count() == 0)
  }

  test("rowid pseudo-column: stable, unique, per-bucket (rowid scan)") {
    val e = freshEngine()
    e.sql("CREATE TABLE rid(id BIGINT, v TEXT) PARTITION BY (id) WITH BUCKETS 4")
    e.insertInto("rid", spark.range(0, 200).toDF("id")
      .withColumn("v", concat(lit("r"), col("id"))))
    val r1 = e.tableWithRowid("rid")
    assert(r1.columns.toSeq == Seq("id", "v", "rowid"))
    assert(r1.count() == 200)
    assert(r1.select("rowid").distinct().count() == 200)
    // Stable across reads: the same row keeps the same rowid.
    val m1 = r1.select("id", "rowid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val m2 = e.tableWithRowid("rid").select("id", "rowid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m1 == m2)
    // Appends keep existing assignments when files are untouched.
    e.insertInto("rid", spark.range(200, 220).toDF("id")
      .withColumn("v", concat(lit("r"), col("id"))))
    val m3 = e.tableWithRowid("rid").select("id", "rowid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m3.size == 220)
    assert(m3.values.toSet.size == 220)
    assert(m1.forall { case (id, rid) => m3(id) == rid },
      "append renumbered pre-existing rows")
  }

  test("startup GC sweeps orphan staging dirs; snapshots stay bounded") {
    val wh = tempDir("graft-gc")
    // Pre-seed: an orphan staging dir from a "crashed" COW + a table.
    val e1 = new MppEngine(spark, wh)
    e1.sql("CREATE TABLE g1(id INT) PARTITION BY (id) WITH BUCKETS 2")
    e1.insertInto("g1", spark.range(0, 10).toDF("id"))
    val orphan = java.nio.file.Paths.get(s"$wh/.staging/dead-cow")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("junk.parquet"), Array[Byte](1, 2, 3))
    // Age the orphan past the sweep cutoff — FRESH staging dirs are
    // deliberately spared (another engine's COW may be in flight).
    Files.setLastModifiedTime(orphan,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 2L * 60 * 60 * 1000))
    val fresh = java.nio.file.Paths.get(s"$wh/.staging/live-cow")
    Files.createDirectories(fresh)
    // A fresh engine over the same warehouse sweeps the stale dir,
    // keeps the fresh one, and still resolves CURRENT.
    val e2 = new MppEngine(spark, wh)
    assert(!Files.exists(orphan), "orphan staging dir survived startup GC")
    assert(Files.exists(fresh), "in-flight staging dir was destroyed")
    assert(e2.table("g1").count() == 10)
    // Snapshot retention: many metadata commits keep at most N
    // snapshot files; the committed state is always the latest.
    (0 until graft.mpp.MppCatalog.RetainSnapshots + 10)
      .foreach(i => e2.masterAddNode("gc-host", 1000 + i))
    val snapStream = Files.list(java.nio.file.Paths.get(s"$wh/_mpp_catalog"))
    val snaps = try snapStream.toArray.map(_.toString)
      .count(_.endsWith(".json")) finally snapStream.close()
    assert(snaps <= graft.mpp.MppCatalog.RetainSnapshots, s"$snaps snapshots")
    val e3 = new MppEngine(spark, wh)
    assert(e3.systemTable("nodes").count() >=
      graft.mpp.MppCatalog.RetainSnapshots + 10)
  }

  test("tasks killed mid-COW-rewrite retry and the swap is bit-identical " +
      "(round-7 stretch: executor-loss simulation)") {
    // Executor loss in local mode: the first attempt of one task in
    // every stage that evaluates the SET expression throws
    // TaskKilledException — the scheduler treats a killed task like a
    // preempted one (it does NOT count toward spark.task.maxFailures,
    // which is 1 in local mode) and reschedules it, so the statement
    // rides the same retry machinery a real executor loss exercises:
    // the match-stats stage, the pre-shuffle rewrite stage, and the
    // staging parquet write whose commit protocol must discard the
    // killed attempt's file.
    val e = freshEngine()
    e.sql("CREATE TABLE cow(k BIGINT, v DOUBLE) PARTITION BY (k) WITH BUCKETS 4")
    e.insertInto("cow", spark.range(0, 5000).toDF("k")
      .withColumn("v", col("k") * 1.0))
    KillOncePerStage.seen.clear()
    val killedTasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        te.reason match {
          case _: org.apache.spark.TaskKilled => killedTasks.incrementAndGet()
          case _ =>
        }
    }
    spark.sparkContext.addSparkListener(listener)
    spark.udf.register("graft_kill_once",
      (v: Double) => { KillOncePerStage.strike(); v })
    try {
      val n = e.sql("UPDATE cow SET v = graft_kill_once(v) + 1.0 WHERE k < 2500")
      assert(n.head().getLong(0) == 2500L)
      assert(KillOncePerStage.seen.size() >= 2,
        s"expected kill requests in >= 2 stages, got ${KillOncePerStage.seen}")
      // The kill is cooperative (discovered at the next interrupt
      // check); poll the async listener for at least one task actually
      // ending as TaskKilled — i.e., a genuine mid-stage loss + retry.
      val deadline = System.currentTimeMillis() + 10000
      while (killedTasks.get() < 1 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(killedTasks.get() >= 1,
        "no task actually ended as TaskKilled — the retry path was not " +
          "exercised")
      // The swapped table is exactly the unkilled result: no lost rows,
      // no duplicated rows from the killed write attempt.
      val got = e.table("cow").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
      val want = (0L until 5000L)
        .map(k => (k, if (k < 2500) k + 1.0 else k * 1.0))
      assert(got == want)
      // Staging is fully cleaned up — no stranded dirs or leases.
      val staging = java.nio.file.Paths.get(s"${e.warehouse}/.staging")
      if (java.nio.file.Files.exists(staging)) {
        val s = java.nio.file.Files.list(staging)
        val leftover = try s.toArray.map(_.toString) finally s.close()
        assert(leftover.isEmpty, leftover.mkString(", "))
      }
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.sessionState.functionRegistry.dropFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier("graft_kill_once"))
    }
  }

  // --- write-path property: rows land in pmod(hash(c), n) ---------------

  test("every row lands in its pmod(hash(col), n) bucket") {
    val e = freshEngine()
    e.sql("CREATE TABLE hb(k BIGINT, v TEXT) PARTITION BY (k) WITH BUCKETS 7")
    e.insertInto("hb", spark.range(0, 500).toDF("k")
      .withColumn("v", lit("z")))
    // Read back WITH the physical bucket column and check placement.
    val full = spark.read.parquet(s"${e.warehouse}/data/hb")
    val bad = full.filter(
      col(BucketPruning.BucketCol) =!= pmod(hash(col("k")), lit(7))).count()
    assert(bad == 0)
    // And pruning agrees with placement for every key sampled.
    val t = e.table("hb")
    for (k <- Seq(0L, 13L, 499L)) {
      assert(t.filter(col("k") === k).count() == 1L)
      assert(e.explainShards(t.filter(col("k") === k)) == "Shards: 1/7")
    }
  }

  test("OPTIMIZE compacts append-grown buckets; SORT BY clusters; " +
      "maxRecordsPerFile splits") {
    val e = freshEngine()
    e.sql("CREATE TABLE opt(k BIGINT, v BIGINT) " +
      "PARTITION BY (k) WITH BUCKETS 4")
    (0 until 3).foreach { i =>
      e.sql(s"INSERT INTO opt SELECT id + ${i * 400} AS k, " +
        s"(id + ${i * 400}) * 7 AS v FROM range(400)")
    }
    def fileCounts: Map[Int, Int] = {
      val root = new java.io.File(s"${e.warehouse}/data/opt")
      (0 until 4).map { b =>
        b -> Option(new java.io.File(root,
            s"${graft.mpp.BucketPruning.BucketCol}=$b").listFiles())
          .map(_.count(f => f.isFile && !f.getName.startsWith("_") &&
            !f.getName.startsWith("."))).getOrElse(0)
      }.toMap
    }
    assert(fileCounts.values.forall(_ == 3), s"setup: $fileCounts")
    val before = e.table("opt").orderBy("k").collect().toSeq

    val r = e.sql("OPTIMIZE opt").collect().head
    assert((r.getLong(0), r.getLong(1)) == ((4L, 12L)), r.toString)
    assert(fileCounts.values.forall(_ == 1), s"post: $fileCounts")
    assert(e.table("opt").orderBy("k").collect().toSeq == before)

    // Already compact: a plain OPTIMIZE is a no-op…
    val r2 = e.sql("OPTIMIZE opt").collect().head
    assert((r2.getLong(0), r2.getLong(1)) == ((0L, 0L)), r2.toString)
    // …but SORT BY rewrites every non-empty bucket (clustering is the
    // point), and the data survives bit-identically.
    val r3 = e.sql("OPTIMIZE opt SORT BY (v)").collect().head
    assert(r3.getLong(0) == 4L, r3.toString)
    assert(e.table("opt").orderBy("k").collect().toSeq == before)

    // File-size budget: rows split across files on the cap.
    spark.conf.set("graft.optimize.maxRecordsPerFile", "100")
    try {
      val r4 = e.sql("OPTIMIZE opt SORT BY (v)").collect().head
      assert(r4.getLong(0) == 4L)
      assert(fileCounts.values.forall(_ >= 2), s"split: $fileCounts")
      assert(e.table("opt").orderBy("k").collect().toSeq == before)
    } finally spark.conf.unset("graft.optimize.maxRecordsPerFile")

    // Unknown sort column is a clean error.
    val ex = intercept[IllegalArgumentException](
      e.sql("OPTIMIZE opt SORT BY (nope)"))
    assert(ex.getMessage.contains("no such SORT BY column"))
  }
}
