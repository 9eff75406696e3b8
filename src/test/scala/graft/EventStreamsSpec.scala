package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event

/** Structured-Streaming specs driven by MemoryStream: watermark-windowed
  * aggregation, stateful sessionization, streaming dedup. */
class EventStreamsSpec extends SparkTestBase {

  // Offset away from the epoch (an event at exactly the initial
  // watermark t=0 would be filtered as late by stateful operators),
  // hour-aligned so minute offsets map into the expected hour windows.
  private val Base = 1020L
  private def ts(minutes: Long): Timestamp =
    new Timestamp((Base + minutes) * 60000L)

  private def runBatches[T](q: org.apache.spark.sql.streaming.StreamingQuery)
      : Unit = {
    q.processAllAvailable()
  }

  test("stream-static enrichment join broadcasts the dimension") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Event]
    val dim = Seq((1L, "gold"), (2L, "free")).toDF("user_id", "tier")
    val q = EventStreams.enrich(mem.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        Event(1, ts(1), 1, "click", 1.0),
        Event(2, ts(2), 2, "view", 2.0),
        Event(3, ts(3), 99, "view", 3.0)) // no dim row → null tier
      runBatches(q)
      val rows = spark.table("enriched")
        .select("event_id", "tier").collect()
        .map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse("∅"))
        .toSet
      assert(rows == Set(1L -> "gold", 2L -> "free", 3L -> "∅"))
      // The micro-batch plan must broadcast the dimension side.
      assert(q.lastProgress.sources.nonEmpty)
    } finally q.stop()
  }

  test("stream-stream interval join attributes purchases to prior clicks") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Event]
    val df = mem.toDF()
    val q = EventStreams.attribute(df, df)
      .writeStream.format("memory").queryName("attrib")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        Event(1, ts(0), 1, "click", 0.0),
        Event(2, ts(10), 1, "purchase", 9.99),  // within 30min of click 1
        Event(3, ts(50), 1, "purchase", 5.0),   // outside the window
        Event(4, ts(0), 2, "click", 0.0),
        Event(5, ts(10), 3, "purchase", 7.0))   // no click for user 3
      runBatches(q)
      mem.addData(Event(9, ts(500), 9, "click", 0.0)) // advance watermark
      runBatches(q)
      val rows = spark.table("attrib")
        .select("user_id", "amount").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toSet
      assert(rows == Set(1L -> 9.99), rows.toString)
    } finally q.stop()
  }

  test("LEFT-OUTER stream-stream join emits unattributed purchases " +
      "after the click watermark passes") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Event]
    val df = mem.toDF()
    val q = EventStreams.attributeOuter(df, df)
      .writeStream.format("memory").queryName("attrib_outer")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        Event(1, ts(0), 1, "click", 0.0),
        Event(2, ts(10), 1, "purchase", 9.99), // attributed to click 1
        Event(5, ts(10), 3, "purchase", 7.0))  // no click for user 3
      runBatches(q)
      // Before the watermark passes, user 3's purchase is HELD (a
      // qualifying click could still arrive) — only the matched row
      // may have emitted.
      val early = spark.table("attrib_outer")
        .select("user_id").collect().map(_.getLong(0)).toSet
      assert(!early.contains(3L), s"premature outer emission: $early")
      // Advance BOTH sides' watermarks: each side's event-time stats
      // come from rows that survive ITS pre-watermark filter, and the
      // global watermark is the min across nodes — a late click alone
      // leaves the purchase-side watermark (hence the global one) at
      // the epoch and the outer row held forever. Users 8/9 match
      // nothing, and user 8's own purchases stay held (watermark 3200s
      // < their 5000s timestamps), so the visible set is unchanged.
      mem.addData(Event(9, ts(5000), 9, "click", 0.0),
        Event(11, ts(5000), 8, "purchase", 1.0))
      runBatches(q)
      // The watermark a batch USES comes from the data seen before it,
      // so state eviction (and the NULL-extended emission) lands one
      // micro-batch after the advancing events arrive.
      mem.addData(Event(10, ts(5001), 9, "click", 0.0),
        Event(12, ts(5001), 8, "purchase", 1.0))
      runBatches(q)
      val rows = spark.table("attrib_outer")
        .select("user_id", "click_ts", "amount").collect()
        .map(r => (r.getLong(0), r.isNullAt(1), r.getDouble(2))).toSet
      assert(rows == Set((1L, false, 9.99), (3L, true, 7.0)),
        rows.toString)
    } finally q.stop()
  }

  test("hourly windowed aggregate emits finalized windows past watermark") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.hourlyCounts(mem.toDF())
      .writeStream.format("memory").queryName("hourly")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        Event(1, ts(5), 1, "click", 1.0),
        Event(2, ts(20), 1, "click", 2.0),
        Event(3, ts(65), 2, "view", 5.0))
      runBatches(q)
      // Advance the watermark far enough to finalize hour 0 and hour 1.
      mem.addData(Event(4, ts(200), 3, "click", 1.0))
      runBatches(q)
      val rows = spark.table("hourly")
        .select("hour", "event_type", "n", "sum_value")
        .collect().map(r => (r.getTimestamp(0).getTime / 60000L - Base,
          r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(rows.contains((0L, "click", 2L, 3.0)), rows.toString)
      assert(rows.exists(r => r._2 == "view" && r._3 == 1L && r._4 == 5.0))
    } finally q.stop()
  }

  test("sessionize closes sessions on gap and on watermark expiry") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.sessionize(mem.toDS())
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append).start()
    try {
      // User 1: two events 5min apart (one session), then a 40-min gap
      // event — the gap closes session 1 inline.
      mem.addData(
        Event(1, ts(0), 1, "click", 1.0),
        Event(2, ts(5), 1, "click", 2.0))
      runBatches(q)
      mem.addData(Event(3, ts(45), 1, "click", 4.0))
      runBatches(q)
      val afterGap = spark.table("sessions").as[EventStreams.Session]
        .collect()
      assert(afterGap.exists(s => s.user_id == 1 && s.n_events == 2 &&
        s.total_value == 3.0 &&
        s.session_start == ts(0) && s.session_end == ts(5)))
      // Push the watermark way past 45min + gap + watermark delay: the
      // open session times out and is emitted.
      mem.addData(Event(9, ts(300), 2, "view", 0.0))
      runBatches(q)
      mem.addData(Event(10, ts(400), 2, "view", 0.0))
      runBatches(q)
      val all = spark.table("sessions").as[EventStreams.Session].collect()
      assert(all.exists(s => s.user_id == 1 && s.n_events == 1 &&
        s.total_value == 4.0))
    } finally q.stop()
  }

  test("batch sessionizeBatch matches every streaming-emitted session") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val events = Seq(
      Event(1, ts(0), 1, "click", 1.0),
      Event(2, ts(5), 1, "click", 2.0),
      Event(3, ts(45), 1, "click", 4.0),   // gap > 30min: new session
      Event(4, ts(50), 1, "click", 0.5),
      Event(5, ts(2), 2, "view", 3.0),
      Event(6, ts(200), 2, "view", 7.0))   // second session for user 2
    val mem = MemoryStream[Event]
    val q = EventStreams.sessionize(mem.toDS())
      .writeStream.format("memory").queryName("sess_eq")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(events: _*)
      q.processAllAvailable()
      // Far-future event per user pushes the watermark so every session
      // above closes; these tail sessions stay open and are not compared.
      mem.addData(Event(90, ts(5000), 1, "view", 0.0),
        Event(91, ts(5000), 2, "view", 0.0))
      q.processAllAvailable()
      val streamed = spark.table("sess_eq").as[EventStreams.Session]
        .collect().map(s =>
          (s.user_id, s.session_start, s.session_end, s.n_events,
            s.total_value)).toSet
      val batch = EventStreams.sessionizeBatch(
        events.toDF().select($"user_id", $"ts", $"value"))
        .as[EventStreams.Session].collect().map(s =>
          (s.user_id, s.session_start, s.session_end, s.n_events,
            s.total_value)).toSet
      // Every closed streaming session appears identically in batch.
      assert(streamed.subsetOf(batch), s"streamed=$streamed batch=$batch")
      assert(streamed.size == 4, streamed.toString)
    } finally q.stop()
  }

  test("streaming dedup drops duplicate event ids within the watermark") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.dedupStream(mem.toDF())
      .writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        Event(1, ts(0), 1, "click", 1.0),
        Event(1, ts(1), 1, "click", 1.0), // dup id
        Event(2, ts(2), 1, "view", 2.0))
      runBatches(q)
      mem.addData(Event(1, ts(3), 1, "click", 9.0)) // dup again
      runBatches(q)
      assert(spark.table("dedup").count() == 2)
      // Batch twin emits the same event_id set (the replay-equivalence
      // the driver-gate q_dedup_stream row relies on).
      val batchIds = EventStreams.dedupStreamBatch(Seq(
          Event(1, ts(0), 1, "click", 1.0),
          Event(1, ts(1), 1, "click", 1.0),
          Event(2, ts(2), 1, "view", 2.0),
          Event(1, ts(3), 1, "click", 9.0)).toDF())
        .select("event_id").as[Long].collect().toSet
      val streamIds = spark.table("dedup")
        .select("event_id").as[Long].collect().toSet
      assert(batchIds == streamIds)
    } finally q.stop()
  }

  test("streaming ingest dedup drops corpus matches and stream dups") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val corpus = Seq("old doc one", "old doc two").toDF("text")
      .select(org.apache.spark.sql.functions.md5(
        org.apache.spark.sql.functions.col("text")).as("fp"))
    val mem = MemoryStream[(Long, String, Timestamp)]
    val docs = mem.toDF().toDF("doc_id", "text", "ingest_ts")
    val q = EventStreams.ingestDedup(docs, corpus)
      .writeStream.format("memory").queryName("ingest")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(
        (10L, "old doc one", ts(0)),   // in corpus → dropped
        (11L, "fresh doc a", ts(1)),   // kept
        (12L, "fresh doc a", ts(2)),   // stream dup → dropped
        (13L, "fresh doc b", ts(3)))   // kept
      runBatches(q)
      mem.addData((14L, "fresh doc a", ts(4))) // dup within watermark
      runBatches(q)
      val streamIds = spark.table("ingest")
        .select("doc_id").as[Long].collect().toSet
      assert(streamIds == Set(11L, 13L))
      // Batch twin keeps the same documents on the full replay.
      val batchIds = EventStreams.ingestDedupBatch(
        Seq((10L, "old doc one", ts(0)), (11L, "fresh doc a", ts(1)),
          (12L, "fresh doc a", ts(2)), (13L, "fresh doc b", ts(3)),
          (14L, "fresh doc a", ts(4))).toDF("doc_id", "text", "ingest_ts"),
        corpus).select("doc_id").as[Long].collect().toSet
      assert(batchIds == streamIds)
    } finally q.stop()
  }

  test("maintained fingerprint index: sequential batches dedup against " +
      "everything previously ingested, index only appends") {
    import spark.implicits._
    val root = tempDir("graft-fpindex")
    spark.conf.set(graft.sources.FpIndex.DirConf, root)
    try {
      val b1 = Seq((1L, "doc alpha"), (2L, "doc beta"), (3L, "doc beta"))
        .toDF("doc_id", "text")
      val s1 = EventStreams.ingestBatch(spark, "t", b1)
        .select("doc_id").as[Long].collect().toSet
      assert(s1 == Set(1L, 2L)) // within-batch dup dropped, min id kept
      assert(graft.sources.FpIndex.read(spark, root, "t").get.count() == 2)
      // Batch 2 overlaps batch 1: the index — not any recomputation
      // over batch-1 text — must drop the overlap.
      val b2 = Seq((10L, "doc beta"), (11L, "doc gamma"))
        .toDF("doc_id", "text")
      val s2 = EventStreams.ingestBatch(spark, "t", b2)
        .select("doc_id").as[Long].collect().toSet
      assert(s2 == Set(11L))
      assert(graft.sources.FpIndex.read(spark, root, "t").get.count() == 3)
      // Re-ingesting an already-ingested batch is a clean no-op.
      val s3 = EventStreams.ingestBatch(spark, "t", b2)
        .select("doc_id").as[Long].collect().toSet
      assert(s3 == Set.empty[Long])
      assert(graft.sources.FpIndex.read(spark, root, "t").get.count() == 3)
    } finally spark.conf.unset(graft.sources.FpIndex.DirConf)
  }

  test("fpindex compaction collapses replayed appends; stamp survives; " +
      "ingest writes the sink before the index (replay safety)") {
    import spark.implicits._
    val root = tempDir("graft-fpindex3")
    spark.conf.set(graft.sources.FpIndex.DirConf, root)
    try {
      val fps = Seq("a1", "b2", "c3").toDF("fp")
      graft.sources.FpIndex.append(spark, root, "c", fps)
      // A replayed append re-adds the same fingerprints (the partial-
      // failure shape): storage doubles, semantics unchanged.
      graft.sources.FpIndex.append(spark, root, "c", fps)
      assert(graft.sources.FpIndex.read(spark, root, "c").get.count() == 6)
      val removed = graft.sources.FpIndex.maybeCompact(spark, root, "c")
      assert(removed == 3L)
      val after = graft.sources.FpIndex.read(spark, root, "c").get
      assert(after.count() == 3)
      assert(after.distinct().count() == 3)
      // Below the dup-ratio threshold nothing rewrites.
      assert(graft.sources.FpIndex.maybeCompact(spark, root, "c") == 0L)
      // Snapshot stamp survives compaction (same fp set → still fresh).
      graft.sources.FpIndex.replace(spark, root, "st", fps, (42L, 7L))
      graft.sources.FpIndex.append(spark, root, "st", fps) // replay dup
      assert(graft.sources.FpIndex.compact(spark, root, "st") == 3L)
      assert(graft.sources.FpIndex
        .loadIfFresh(spark, root, "st", (42L, 7L)).isDefined)
      // Sink-first ordering: a sink failure must leave the index
      // UNTOUCHED so the replayed batch still sees its docs as new.
      val b = Seq((1L, "ordering doc")).toDF("doc_id", "text")
      intercept[RuntimeException] {
        EventStreams.ingestBatch(spark, "ord", b,
          _ => throw new RuntimeException("sink down"))
      }
      assert(graft.sources.FpIndex.read(spark, root, "ord").isEmpty ||
        graft.sources.FpIndex.read(spark, root, "ord").get.count() == 0)
      // The replay (sink healthy) ingests the doc — nothing was lost.
      val replay = EventStreams.ingestBatch(spark, "ord", b)
        .select("doc_id").as[Long].collect().toSet
      assert(replay == Set(1L))
    } finally spark.conf.unset(graft.sources.FpIndex.DirConf)
  }

  test("qDedupIncremental with a configured index root: identical " +
      "result, snapshot reused while fresh, rebuilt when stale") {
    val inline = graft.queries.DedupQueries
      .qDedupIncremental(spark, sf).collect().map(_.getLong(0)).toSeq
    val root = tempDir("graft-fpindex2")
    spark.conf.set(graft.sources.FpIndex.DirConf, root)
    try {
      val first = graft.queries.DedupQueries
        .qDedupIncremental(spark, sf).collect().map(_.getLong(0)).toSeq
      assert(first == inline) // the index IS the distinct md5 relation
      // The snapshot now exists and is fresh: a second run loads it.
      val fs = new java.io.File(s"$root/fpindex")
      assert(fs.exists && fs.listFiles.nonEmpty)
      val second = graft.queries.DedupQueries
        .qDedupIncremental(spark, sf).collect().map(_.getLong(0)).toSeq
      assert(second == inline)
    } finally spark.conf.unset(graft.sources.FpIndex.DirConf)
  }

  test("per-window top talkers: bounded sketch state, finalized windows " +
      "emit heavy users first") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.topTalkers(mem.toDF(), k = 3, capacity = 16)
      .writeStream.format("memory").queryName("talkers")
      .outputMode(OutputMode.Append).start()
    try {
      // Hour window [Base, Base+60): user 7 dominates, user 8 second.
      val evs = (1 to 20).map(i =>
        Event(100 + i, ts(i % 50), 7, "click", 1.0)) ++
        (1 to 8).map(i => Event(200 + i, ts(i), 8, "view", 1.0)) ++
        Seq(Event(301, ts(2), 9, "view", 1.0))
      mem.addData(evs: _*)
      runBatches(q)
      // Advance the watermark past the window to finalize it.
      mem.addData(Event(999, ts(200), 1, "click", 1.0))
      runBatches(q)
      val rows = spark.table("talkers").collect()
      assert(rows.length == 1, rows.mkString(";")) // later window still open
      val top = rows(0).getSeq[org.apache.spark.sql.Row](1)
      assert(top.size == 3)
      // 29 distinct-row updates over 3 users, capacity 16: lossless —
      // exact counts, heavy user first.
      assert(top.head.getString(0) == "7" && top.head.getLong(1) == 20L,
        top.mkString(","))
      assert(top(1).getString(0) == "8" && top(1).getLong(1) == 8L)
    } finally q.stop()
  }

  test("file-source session pipeline runs end to end with checkpointing") {
    import spark.implicits._
    val base = tempDir("graft-stream")
    val in = s"$base/in"; val out = s"$base/out"; val cp = s"$base/cp"
    // Two users; user 5 has two sessions separated by a >30min gap.
    Seq(
      Event(1, ts(0), 5, "click", 1.0), Event(2, ts(10), 5, "click", 1.0),
      Event(3, ts(60), 5, "click", 2.0),
      Event(4, ts(0), 6, "view", 3.0))
      .toDS().write.parquet(in)
    val q = EventStreams.sessionPipeline(spark, in, out, cp)
    try q.processAllAvailable() finally q.stop()
    // Only sessions closed by an in-batch gap are emitted (open sessions
    // wait for more data — correct streaming semantics): user 5's first
    // session closed when the 60min event arrived.
    val sessions = spark.read.parquet(out).as[EventStreams.Session].collect()
    assert(sessions.exists(s => s.user_id == 5 && s.n_events == 2 &&
      s.session_end == ts(10)))
  }

  test("streaming CDC upsert maintains a distributed table: " +
      "last-writer-wins per batch, replay converges") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val e = new graft.mpp.MppEngine(spark, tempDir("graft-stream"))
    e.sql("CREATE TABLE cdc(k BIGINT, v DOUBLE) PARTITION BY (k) " +
      "WITH BUCKETS 4")
    e.sql("INSERT INTO cdc VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
    def state(): Seq[(Long, Double)] = e.table("cdc").orderBy("k")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val mem = MemoryStream[(Long, Double, Long)]
    val updates = mem.toDF().toDF("k", "v", "seq")
    val cp = tempDir("graft-stream")
    val q = EventStreams.upsertPipeline(e, "cdc", "k", "seq",
      updates, cp)
    try {
      // Batch 1: update k=2 (two changes, the seq=11 one must win),
      // insert k=5.
      mem.addData((2L, -9.0, 10L), (2L, 20.0, 11L), (5L, 50.0, 10L))
      runBatches(q)
      assert(state() == Seq((1L, 1.0), (2L, 20.0), (3L, 3.0),
        (5L, 50.0)))
      // Batch 2: k=5 now matched (updates, not duplicates); k=1 moves.
      mem.addData((5L, 55.0, 20L), (1L, 10.0, 20L))
      runBatches(q)
      assert(state() == Seq((1L, 10.0), (2L, 20.0), (3L, 3.0),
        (5L, 55.0)))
    } finally q.stop()
    // foreachBatch is at-least-once: re-applying a delivered batch via
    // the same unit the sink runs must not change the state.
    EventStreams.upsertBatch(e, "cdc", "k", "seq",
      Seq((5L, 55.0, 20L), (1L, 10.0, 20L)).toDF("k", "v", "seq"))
    assert(state() == Seq((1L, 10.0), (2L, 20.0), (3L, 3.0),
      (5L, 55.0)))
  }

  test("CDC upsert with partial-column batches: updates touch only " +
      "carried columns, inserts take declared defaults") {
    import spark.implicits._
    val e = new graft.mpp.MppEngine(spark, tempDir("graft-stream"))
    e.sql("CREATE TABLE cdp(k BIGINT, v DOUBLE, tag TEXT " +
      "DEFAULT 'fresh') PARTITION BY (k) WITH BUCKETS 2")
    e.sql("INSERT INTO cdp VALUES (1, 1.0, 'old')")
    // Change feed carries only (k, v, seq): the matched key's tag must
    // SURVIVE (explicit SET list over carried columns — SET * would
    // align the absent column to its default and clobber it); the new
    // key's tag falls to the declared default, partial-INSERT style.
    EventStreams.upsertBatch(e, "cdp", "k", "seq",
      Seq((1L, 10.0, 1L), (2L, 2.0, 1L)).toDF("k", "v", "seq"))
    val got = e.table("cdp").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
    assert(got == Seq((1L, 10.0, "old"), (2L, 2.0, "fresh")), got)
  }

  test("CDC upsert carries the feed's sequence column through when the " +
      "TARGET declares it (matched rows take the new LSN, inserts " +
      "store it)") {
    import spark.implicits._
    val e = new graft.mpp.MppEngine(spark, tempDir("graft-stream"))
    // The table itself has the ordering column — dropping seq before
    // the merge would leave row 1 at its stale stored seq and row 2 at
    // the declared default, silently diverging from the feed.
    e.sql("CREATE TABLE cds(k BIGINT, v DOUBLE, seq BIGINT DEFAULT -1) " +
      "PARTITION BY (k) WITH BUCKETS 2")
    e.sql("INSERT INTO cds VALUES (1, 1.0, 5)")
    EventStreams.upsertBatch(e, "cds", "k", "seq",
      Seq((1L, 10.0, 7L), (1L, 9.0, 6L), (2L, 2.0, 3L))
        .toDF("k", "v", "seq"))
    val got = e.table("cds").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    // Key 1: LWW picks seq 7 and STORES 7 (not the stale 5);
    // key 2: insert stores the feed's 3 (not the default -1).
    assert(got == Seq((1L, 10.0, 7L), (2L, 2.0, 3L)), got)
  }
}
