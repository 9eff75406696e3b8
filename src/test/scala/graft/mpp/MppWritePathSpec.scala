package graft.mpp

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Pins the COW write-path mechanics added for the shuffle-free
  * rewrite / broadcast-merge design: bucket→task routing must be
  * collision-free, and the broadcast low-shuffle merge must be
  * result-identical to the shuffled full-outer fallback on every
  * clause combination (same engine semantics, different plan). */
class MppWritePathSpec extends SparkTestBase {

  private def freshEngine(): MppEngine =
    new MppEngine(spark, tempDir("graft-mpp-test"))

  test("bucketRouting maps each affected bucket to a distinct " +
      "write partition (no birthday collisions at any size)") {
    val e = freshEngine()
    import spark.implicits._
    val t = Seq(Set(0, 1, 2), (0 until 8).toSet, (0 until 32).toSet,
      Set(3, 7, 11, 200), (0 until 257).toSet)
    t.foreach { affected =>
      val n = affected.size
      // Apply the exact partitioner expression Spark's repartition
      // uses — pmod(murmur3(expr, seed 42), n) — to the routing column
      // and require a bijection affected → slots.
      val df = affected.toSeq.toDF(BucketPruning.BucketCol)
      val slots = df.withColumn("slot",
          pmod(hash(e.bucketRouting(affected)), lit(n)))
        .select("slot").collect().map(_.getInt(0)).toSet
      assert(slots == (0 until n).toSet,
        s"affected=$affected routed to $slots")
    }
  }

  test("broadcast merge ≡ shuffled full-outer merge: same final state " +
      "for matched/insert/BY SOURCE clauses and the insert-only path") {
    def run(forceShuffle: Boolean): Seq[(Long, Double, String)] = {
      val e = freshEngine()
      if (forceShuffle)
        spark.conf.set("graft.merge.broadcastMaxRows", "0")
      else spark.conf.unset("graft.merge.broadcastMaxRows")
      try {
        e.sql("CREATE TABLE bm(k BIGINT, v DOUBLE, tag TEXT " +
          "DEFAULT 'dflt') PARTITION BY (k) WITH BUCKETS 4")
        e.sql("INSERT INTO bm VALUES (1, 1.0, 'a'), (2, 2.0, 'b'), " +
          "(3, 3.0, 'c'), (4, 4.0, 'd'), (5, 5.0, 'e')")
        import spark.implicits._
        Seq((2L, 20.0, "upd"), (3L, -1.0, "del"), (6L, 60.0, "ins"),
            (7L, -1.0, "skip"))
          .toDF("k", "v", "tag").createOrReplaceTempView("bm_batch")
        // Full clause surface in one statement: conditional update,
        // conditional delete, conditional insert, BY SOURCE update +
        // delete over the unmatched remainder.
        e.sql("MERGE INTO bm t USING (SELECT * FROM bm_batch) s " +
          "ON t.k = s.k " +
          "WHEN MATCHED AND s.tag = 'del' THEN DELETE " +
          "WHEN MATCHED AND s.tag = 'upd' THEN UPDATE SET " +
          "v = t.v + s.v, tag = s.tag " +
          "WHEN NOT MATCHED AND s.tag = 'ins' THEN INSERT (k, v) " +
          "VALUES (s.k, s.v * 2) " +
          "WHEN NOT MATCHED BY SOURCE AND v < 2 THEN DELETE " +
          "WHEN NOT MATCHED BY SOURCE AND v > 4 THEN UPDATE SET " +
          "tag = 'stale'")
        // Insert-only merge (duplicate keys legal) on the same table.
        Seq((8L, 80.0, "x"), (8L, 81.0, "x"), (2L, -9.0, "x"))
          .toDF("k", "v", "tag").createOrReplaceTempView("bm_b2")
        e.sql("MERGE INTO bm t USING (SELECT * FROM bm_b2) s " +
          "ON t.k = s.k WHEN NOT MATCHED THEN INSERT *")
        e.table("bm").orderBy("k", "v").collect()
          .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
      } finally spark.conf.unset("graft.merge.broadcastMaxRows")
    }
    val broadcastState = run(forceShuffle = false)
    val shuffledState = run(forceShuffle = true)
    assert(broadcastState == shuffledState,
      s"broadcast=$broadcastState shuffled=$shuffledState")
    // And the state itself is the semantically expected one.
    assert(broadcastState == Seq(
      (2L, 22.0, "upd"), (4L, 4.0, "d"), (5L, 5.0, "stale"),
      (6L, 120.0, "dflt"), (8L, 80.0, "x"), (8L, 81.0, "x")),
      broadcastState.toString)
  }

  test("OPTIMIZE SORT BY splits fat buckets into parallel range tasks: " +
      "files stay bucket-pure with disjoint sort-key ranges") {
    val e = freshEngine()
    e.sql("CREATE TABLE fat(k BIGINT, c BIGINT) PARTITION BY (k) " +
      "WITH BUCKETS 2")
    e.sql("INSERT INTO fat SELECT id, (id * 7919) % 100000 FROM " +
      "range(50000)")
    spark.conf.set("graft.optimize.taskBytes", "65536") // force ranges
    try e.sql("OPTIMIZE fat SORT BY (c)")
    finally spark.conf.unset("graft.optimize.taskBytes")
    // Count preserved, and each bucket dir holds >1 file whose c-ranges
    // do not overlap (the parallel-compaction contract: bucket-pure
    // files, disjoint clustering).
    assert(e.table("fat").count() == 50000L)
    val root = java.nio.file.Paths.get(e.warehouse, "data", "fat")
    (0 until 2).foreach { b =>
      val dir = root.resolve(s"bucket=$b")
      val s = java.nio.file.Files.list(dir)
      val files = try s.toArray.map(_.toString)
        .filter(_.endsWith(".parquet")) finally s.close()
      assert(files.length > 1, s"bucket $b not range-split: $files")
      val ranges = files.map { f =>
        val r = spark.read.parquet(f)
          .agg(min(col("c")), max(col("c"))).head()
        (r.getLong(0), r.getLong(1))
      }.sortBy(_._1)
      ranges.sliding(2).foreach {
        case Array((_, hi), (lo2, _)) =>
          assert(hi <= lo2, s"bucket $b overlapping ranges: " +
            ranges.mkString(", "))
        case _ =>
      }
    }
  }

  test("BY SOURCE merges rewrite only buckets holding condition-" +
      "matching target-only rows (match-pruned, other files untouched)") {
    val e = freshEngine()
    e.sql("CREATE TABLE bs(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 8")
    e.sql("INSERT INTO bs SELECT id, id * 1.0 FROM range(1000)")
    def fileState(): Map[String, Long] = {
      val root = java.nio.file.Paths.get(e.warehouse, "data", "bs")
      val out = scala.collection.mutable.Map[String, Long]()
      java.nio.file.Files.walk(root).forEach { p =>
        if (p.toString.endsWith(".parquet"))
          out(p.toString) = java.nio.file.Files.getLastModifiedTime(p)
            .toMillis
      }
      out.toMap
    }
    val before = fileState()
    import spark.implicits._
    // Empty source; the BY SOURCE DELETE condition selects exactly one
    // key → one bucket. Only that bucket's files may change.
    spark.emptyDataset[(Long, Double)].toDF("k", "v")
      .createOrReplaceTempView("bs_empty")
    e.sql("MERGE INTO bs t USING (SELECT * FROM bs_empty) s " +
      "ON t.k = s.k " +
      "WHEN NOT MATCHED BY SOURCE AND k = 137 THEN DELETE")
    assert(e.table("bs").count() == 999L)
    assert(e.table("bs").filter("k = 137").count() == 0L)
    val after = fileState()
    val changed = (before.keySet ++ after.keySet).filter(p =>
      before.get(p) != after.get(p))
    val buckets = changed.map(p =>
      p.split("bucket=")(1).split("/")(0)).toSet
    assert(buckets.size == 1,
      s"expected exactly one rewritten bucket, got $buckets ($changed)")
    // A condition no row satisfies rewrites nothing at all.
    val before2 = fileState()
    val n = e.sql("MERGE INTO bs t USING (SELECT * FROM bs_empty) s " +
      "ON t.k = s.k " +
      "WHEN NOT MATCHED BY SOURCE AND k < 0 THEN UPDATE SET v = -1")
      .head().getLong(0)
    assert(n == 0L)
    assert(fileState() == before2, "no-op BY SOURCE merge touched files")
  }

  test("narrow COW writes really are shuffle-free: UPDATE, DELETE and " +
      "broadcast MERGE staging plans shuffle nothing outside a " +
      "broadcast subtree") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.{
      BroadcastExchangeLike, ShuffleExchangeLike}
    val plans =
      new java.util.concurrent.CopyOnWriteArrayList[SparkPlan]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = {
        // INSERT staging writes (`.staging/ins-…`, round 12) are
        // excluded: hash PLACEMENT is an insert's job — its bucket
        // routing exchange is W1's "hash shuffle write" by design.
        // The narrow claim is about the COW rewrite family.
        val s = qe.executedPlan.toString
        if (s.contains(".staging/") && !s.contains(".staging/ins-"))
          plans.add(qe.executedPlan)
        ()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    // Everything under a BroadcastExchange is bounded by the broadcast
    // size contract — the matched-key distinct is SUPPOSED to exchange
    // its (bounded) key set there. What must never shuffle is the
    // table-side spine above it.
    def offending(p: SparkPlan): Seq[String] = p match {
      case _: BroadcastExchangeLike => Nil
      case s: ShuffleExchangeLike => Seq(s.nodeName)
      case other => other.children.flatMap(offending)
    }
    spark.listenerManager.register(listener)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val e = freshEngine()
      e.sql("CREATE TABLE nw(k BIGINT, v DOUBLE) PARTITION BY (k) " +
        "WITH BUCKETS 4")
      e.sql("INSERT INTO nw SELECT id, id * 1.0 FROM range(1000)")
      e.sql("UPDATE nw SET v = v + 1 WHERE k % 3 = 0")
      e.sql("DELETE FROM nw WHERE k % 17 = 0")
      import spark.implicits._
      Seq((5L, -5.0), (2000L, 1.0)).toDF("k", "v")
        .createOrReplaceTempView("nw_batch")
      e.sql("MERGE INTO nw t USING (SELECT * FROM nw_batch) s " +
        "ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v " +
        "WHEN NOT MATCHED THEN INSERT *")
      // The listener bus delivers asynchronously — poll briefly.
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (plans.size < 3 && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(plans.size >= 3, s"expected 3 staging writes, saw $plans")
      plans.forEach { p =>
        val bad = offending(p)
        assert(bad.isEmpty,
          s"narrow COW write planned a table-side shuffle $bad:\n$p")
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.listenerManager.unregister(listener)
    }
  }

  test("routingProbes is a bijection and stays cheap at large bucket " +
      "counts (coupon-collector sweep, memoized)") {
    // 64 K slots under the old per-slot restart search was ~4×10⁹
    // driver hashes; the sweep needs ~n·ln n. Wall-bound it hard.
    val t0 = System.nanoTime()
    val probes = MppEngine.routingProbes(65536)
    val ms = (System.nanoTime() - t0) / 1e6
    assert(ms < 2000, s"routingProbes(65536) took $ms ms")
    val slots = probes.map(v =>
      ((org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(v, 42)
        % 65536) + 65536) % 65536)
    assert(slots.zipWithIndex.forall { case (s, i) => s == i },
      "probe table is not slot-aligned")
    // Memoized: the second call is a pure map lookup (same array).
    assert(MppEngine.routingProbes(65536) eq probes)
  }

  test("routeToBuckets falls back to plain bucket repartition above " +
      "graft.cow.routingMaxBuckets (bounded expression, bounded skew)") {
    val e = freshEngine()
    import spark.implicits._
    val affected = (0 until 16).toSet
    val df = (0 until 16).flatMap(b => Seq.fill(10)(b))
      .toDF(BucketPruning.BucketCol)
    spark.conf.set("graft.cow.routingMaxBuckets", "4")
    try {
      val routed = e.routeToBuckets(df, affected)
      assert(routed.rdd.getNumPartitions == 16)
      // Fallback keeps bucket-purity per partition (hash groups equal
      // keys) even though some partitions may hold >1 bucket.
      val perPart = routed.rdd.mapPartitions(it =>
        Iterator(it.map(_.getInt(0)).toSet)).collect()
      assert(perPart.flatten.toSet == affected)
    } finally spark.conf.unset("graft.cow.routingMaxBuckets")
    // Below the bound: the exact map routing still gives a bijection.
    val exact = e.routeToBuckets(df, affected)
    val perPart = exact.rdd.mapPartitions(it =>
      Iterator(it.map(_.getInt(0)).toSet)).collect()
    assert(perPart.count(_.nonEmpty) == 16 &&
      perPart.forall(_.size <= 1), perPart.mkString(", "))
  }

  test("merge broadcast bound trips on BYTES, not only rows: a wide-" +
      "row source below the row bound falls back to the shuffled plan " +
      "with identical results") {
    import spark.implicits._
    def run(maxBytes: Option[String]): Seq[(Long, String)] = {
      val e = freshEngine()
      maxBytes.foreach(spark.conf.set("graft.merge.broadcastMaxBytes", _))
      try {
        e.sql("CREATE TABLE wd(k BIGINT, doc TEXT) PARTITION BY (k) " +
          "WITH BUCKETS 4")
        e.insertInto("wd", (0L until 50L).map(k => (k, s"orig-$k"))
          .toDF("k", "doc"))
        // 200 rows × ~1 KB ≈ 200 KB estimated: far under the 4 M row
        // bound, over a 50 KB byte bound.
        (0L until 200L).map(k => (k, "x" * 1024)).toDF("k", "doc")
          .createOrReplaceTempView("wd_batch")
        e.sql("MERGE INTO wd t USING (SELECT * FROM wd_batch) s " +
          "ON t.k = s.k WHEN MATCHED THEN UPDATE SET doc = s.doc " +
          "WHEN NOT MATCHED THEN INSERT *")
        e.table("wd").orderBy("k").collect()
          .map(r => (r.getLong(0), r.getString(1).take(8))).toSeq
      } finally maxBytes.foreach(_ =>
        spark.conf.unset("graft.merge.broadcastMaxBytes"))
    }
    val viaBroadcast = run(None)
    assert(MppEngine.lastMergeBroadcast.contains(true),
      "default bounds should broadcast a 200 KB source")
    val viaShuffle = run(Some("50000"))
    assert(MppEngine.lastMergeBroadcast.contains(false),
      "a 50 KB byte bound must reject a ~200 KB source broadcast")
    assert(viaBroadcast == viaShuffle)
    assert(viaBroadcast.size == 200 &&
      viaBroadcast.forall(_._2 == "xxxxxxxx"))
  }

  test("a mid-staging-write failure restores the session " +
      "maxPartitionBytes override (no stranded 32 MiB session default)") {
    val e = freshEngine()
    e.sql("CREATE TABLE mw(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 4")
    e.insertInto("mw", spark.range(0, 2000).toDF("k")
      .withColumn("v", col("k") * 1.0))
    val mpbKey = "spark.sql.files.maxPartitionBytes"
    val before = spark.conf.get(mpbKey)
    // The UDF passes through the first stage that evaluates it (the
    // match-stats aggregate) and throws in any LATER stage — i.e.
    // inside the narrow staging write itself, after stageAndSwap has
    // installed its session-conf override.
    BoomAfterFirstStage.firstStage.set(-1)
    spark.udf.register("graft_boom_late",
      (v: Double) => BoomAfterFirstStage.strike(v))
    try {
      val ex = intercept[Exception] {
        e.sql("UPDATE mw SET v = graft_boom_late(v) + 1.0 WHERE k < 1000")
      }
      assert(ex.toString.contains("graft-test boom") ||
        Option(ex.getCause).exists(_.toString.contains("graft-test boom")) ||
        ex.toString.contains("SparkException"), ex.toString)
      assert(spark.conf.get(mpbKey) == before,
        s"session $mpbKey stranded after failed narrow write")
      assert(stagingEntries(e).isEmpty,
        s"failed rewrite left staging behind: ${stagingEntries(e)}")
      // The engine still works and the table is untouched (the failed
      // staging write never swapped).
      val s = e.table("mw").agg(sum(col("v"))).head().getDouble(0)
      assert(s == (0 until 2000).map(_.toDouble).sum)
    } finally {
      spark.sessionState.functionRegistry.dropFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier("graft_boom_late"))
    }
  }

  /** Names under `<warehouse>/.staging`: staging dirs and leases. */
  private def stagingEntries(e: MppEngine): Seq[String] = {
    val stg = java.nio.file.Paths.get(e.warehouse, ".staging")
    if (!java.nio.file.Files.exists(stg)) Nil
    else {
      val s = java.nio.file.Files.list(stg)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString).toVector
      } finally s.close()
    }
  }

  test("a failed INSERT publish undoes its completed moves: no partial " +
      "rows become visible (all-or-nothing failure shape)") {
    // The staged INSERT publishes by renaming files into the live
    // bucket dirs; a failure on the Nth move must roll back the first
    // N-1 (round-12 review finding) — otherwise a disk-full mid-
    // publish leaves a silently partial append. Injection: replace
    // one bucket DIR with a plain FILE so mkdirs/rename into it fail.
    val e = freshEngine()
    e.sql("CREATE TABLE ip(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 4")
    e.insertInto("ip", spark.range(0, 400).toDF("k")
      .withColumn("v", col("k") * 1.0))
    val before = e.table("ip").count()
    val root = java.nio.file.Paths.get(e.warehouse, "data", "ip")
    // Find a real bucket dir, replace it with a file of the same name.
    val victim = java.nio.file.Files.list(root).iterator().next()
    val saved = root.resolve(".savedbucket")
    java.nio.file.Files.move(victim, saved)
    java.nio.file.Files.write(victim, Array[Byte](1))
    try {
      intercept[Exception] {
        e.insertInto("ip", spark.range(1000, 1400).toDF("k")
          .withColumn("v", lit(-1.0)))
      }
    } finally {
      java.nio.file.Files.delete(victim)
      java.nio.file.Files.move(saved, victim)
    }
    e.listingCache.invalidate(root.toString)
    assert(stagingEntries(e).isEmpty,
      s"failed INSERT left staging behind: ${stagingEntries(e)}")
    // No partial rows: the moves that succeeded before the failure
    // were undone, so the failed statement contributed NOTHING.
    assert(e.table("ip").filter(col("v") === -1.0).count() == 0L,
      "failed INSERT left partial rows visible")
    assert(e.table("ip").count() == before)
    // And the engine still works afterwards.
    e.insertInto("ip", spark.range(1000, 1400).toDF("k")
      .withColumn("v", lit(-1.0)))
    assert(e.table("ip").count() == before + 400)
  }
}

/** Shared state for the mid-write-failure case: remember the first
  * stage that evaluates the UDF, fail every later one (executor-side
  * object — must be serializable-reachable, hence top-level). */
object BoomAfterFirstStage extends Serializable {
  val firstStage = new java.util.concurrent.atomic.AtomicInteger(-1)
  def strike(v: Double): Double = {
    val sid = org.apache.spark.TaskContext.get.stageId()
    firstStage.compareAndSet(-1, sid)
    if (sid != firstStage.get) throw new RuntimeException("graft-test boom")
    v
  }
}
