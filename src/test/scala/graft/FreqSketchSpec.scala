package graft

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{FreqSketch, FreqSketchAgg}

/** Misra-Gries sketch: the retention guarantee under real eviction
  * pressure (vocab ≫ capacity), merge-bound preservation across
  * partition counts, serialization round-trip, and the end-to-end
  * q_heavy_hitters ≡ exact-groupBy parity. */
class FreqSketchSpec extends SparkTestBase {
  import spark.implicits._

  private def mkAgg(cap: Int) = FreqSketchAgg(
    org.apache.spark.sql.catalyst.expressions.BoundReference(
      0, org.apache.spark.sql.types.StringType, nullable = true), cap)

  private def updateAll(agg: FreqSketchAgg,
      items: Seq[String]): mutable.HashMap[UTF8String, Long] = {
    val row = new org.apache.spark.sql.catalyst.expressions
      .GenericInternalRow(1)
    items.foldLeft(agg.createAggregationBuffer()) { (buf, s) =>
      row.update(0, UTF8String.fromString(s))
      agg.update(buf, row)
    }
  }

  // Zipf-ish skewed stream over a vocabulary 50x the sketch capacity.
  private val rnd = new Random(42)
  private val stream: Seq[String] =
    (Seq.fill(4000)("hh_" + rnd.nextInt(10)) ++ // 10 heavy hitters
      Seq.fill(16000)("tail_" + rnd.nextInt(3200))) // long tail
      .map(identity)
  private val shuffled = rnd.shuffle(stream)
  private val exact: Map[String, Long] =
    shuffled.groupBy(identity).view.mapValues(_.size.toLong).toMap

  test("single-buffer estimates undercount by at most N/(m+1)") {
    val cap = 64
    val buf = updateAll(mkAgg(cap), shuffled)
    assert(buf.size <= cap)
    val eps = shuffled.size / (cap + 1)
    buf.foreach { case (k, est) =>
      val truth = exact(k.toString)
      assert(est <= truth, s"$k overcounts: $est > $truth")
      assert(est >= truth - eps, s"$k undercounts past the bound")
    }
    // Every item with truth > eps must have survived.
    exact.collect { case (k, t) if t > eps => k }.foreach { k =>
      assert(buf.contains(UTF8String.fromString(k)), s"$k evicted")
    }
  }

  test("merged sketches keep the bound (arbitrary merge tree)") {
    val cap = 64
    val agg = mkAgg(cap)
    for (parts <- Seq(2, 7, 16)) {
      val grouped = shuffled.grouped(
        math.max(1, shuffled.size / parts)).toSeq
      val merged = grouped.map(updateAll(agg, _))
        .reduce((a, b) => agg.merge(a, agg.deserialize(agg.serialize(b))))
      assert(merged.size <= cap)
      // Merged error: N/(m+1) per the mergeability reduction.
      val eps = shuffled.size / (cap + 1)
      merged.foreach { case (k, est) =>
        val truth = exact(k.toString)
        assert(est <= truth && est >= truth - eps,
          s"parts=$parts $k est=$est truth=$truth eps=$eps")
      }
      exact.collect { case (k, t) if t > eps => k }.foreach { k =>
        assert(merged.contains(UTF8String.fromString(k)),
          s"parts=$parts heavy hitter $k lost in merge")
      }
    }
  }

  test("property: tight bound (N - sum est)/(m+1) holds for random " +
      "streams, capacities, and merge trees") {
    // Pure-JVM property sweep: the TIGHT invariant topKExact's
    // certificate relies on — undercount of every item (and the count
    // of every absent item) is at most (N − Σ estimates)/(m+1) — must
    // survive random skew mixes, capacities, and random merge shapes.
    val prnd = new Random(99173L)
    for (trial <- 0 until 30) {
      val cap = 8 + prnd.nextInt(120)
      val agg = mkAgg(cap)
      val zipfN = prnd.nextInt(3000)
      val uniN = prnd.nextInt(3000)
      val items = prnd.shuffle(
        ((0 until zipfN).map(_ => "z_" + prnd.nextInt(1 + prnd.nextInt(30))) ++
          (0 until uniN).map(_ => "u_" + prnd.nextInt(2000))).toIndexedSeq)
      if (items.nonEmpty) {
        val truth = items.groupBy(identity).view.mapValues(_.size.toLong)
        // Random merge tree: split into 1..8 chunks, fold in random order.
        val chunks = prnd.shuffle(items.grouped(
          math.max(1, items.size / (1 + prnd.nextInt(8)))).toSeq)
        val merged = chunks.map(updateAll(agg, _))
          .reduce((a, b) =>
            agg.merge(a, agg.deserialize(agg.serialize(b))))
        val eps = (items.size - merged.values.sum) / (cap + 1)
        merged.foreach { case (k, est) =>
          val t = truth(k.toString)
          assert(est <= t && t - est <= eps,
            s"trial=$trial cap=$cap item=$k est=$est truth=$t eps=$eps")
        }
        truth.foreach { case (k, t) =>
          if (t > eps)
            assert(merged.contains(UTF8String.fromString(k)),
              s"trial=$trial cap=$cap lost item $k with truth=$t > eps=$eps")
        }
      }
    }
  }

  test("hash-keyed sketch keeps the tight merge bound (property sweep)") {
    // FreqSketchLongAgg is the sketch the certified plan actually
    // ships at scale — same invariant as the string sweep, over the
    // primitive LongMap implementation and its serialization.
    import graft.functions.FreqSketchLongAgg
    val prnd = new Random(48211L)
    def mkLongAgg(cap: Int) = FreqSketchLongAgg(
      org.apache.spark.sql.catalyst.expressions.BoundReference(
        0, org.apache.spark.sql.types.LongType, nullable = true), cap)
    for (trial <- 0 until 20) {
      val cap = 8 + prnd.nextInt(120)
      val agg = mkLongAgg(cap)
      val items = prnd.shuffle(
        ((0 until prnd.nextInt(3000)).map(_ =>
          prnd.nextInt(1 + prnd.nextInt(30)).toLong) ++
          (0 until prnd.nextInt(3000)).map(_ =>
            1000L + prnd.nextInt(2000))).toIndexedSeq)
      if (items.nonEmpty) {
        val truth = items.groupBy(identity).view.mapValues(_.size.toLong)
        val row = new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(1)
        def updateAllL(chunk: Seq[Long]) =
          chunk.foldLeft(agg.createAggregationBuffer()) { (buf, v) =>
            row.update(0, v); agg.update(buf, row)
          }
        val chunks = prnd.shuffle(items.grouped(
          math.max(1, items.size / (1 + prnd.nextInt(8)))).toSeq)
        val merged = chunks.map(updateAllL)
          .reduce((a, b) => agg.merge(a, agg.deserialize(agg.serialize(b))))
        assert(merged.size <= cap)
        val eps = (items.size - merged.values.sum) / (cap + 1)
        merged.foreach { case (k, est) =>
          val t = truth(k)
          assert(est <= t && t - est <= eps,
            s"trial=$trial cap=$cap key=$k est=$est truth=$t eps=$eps")
        }
        truth.foreach { case (k, t) =>
          if (t > eps) assert(merged.contains(k),
            s"trial=$trial cap=$cap lost key $k with truth=$t > eps=$eps")
        }
      }
    }
  }

  test("serialize/deserialize round-trips exactly") {
    val agg = mkAgg(32)
    val buf = updateAll(agg, shuffled.take(500))
    val back = agg.deserialize(agg.serialize(buf))
    assert(back == buf)
  }

  test("topKExact equals the full groupBy over an evicting stream") {
    val df = shuffled.toDF("item").repartition(5)
    val got = FreqSketch.topKExact(df, "item", k = 10, capacity = 64)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val want = df.groupBy("item").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("item").asc).limit(10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == want)
  }

  test("topKExact certifies up front on skewed data with an evicting " +
      "vocabulary and recounts only the candidates") {
    // 10 strong heavy hitters over a 3200-item churning tail, capacity
    // 64 ≪ vocabulary: eviction is constant, but the head's estimates
    // stay far above ε, so the pre-decision must pick the certified
    // 2-pass plan — and the result must still be exactly the true
    // top-k.
    val strong = rnd.shuffle(
      (Seq.fill(20000)("hh_" + rnd.nextInt(10)) ++
        Seq.fill(20000)("tail_" + rnd.nextInt(3200))).toIndexedSeq)
    val df = strong.toDF("item").repartition(5)
    val (res, decision) =
      FreqSketch.topKExactDecided(df, "item", k = 10, capacity = 64)
    val got = res.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(decision == "certified", decision)
    val want = df.groupBy("item").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("item").asc).limit(10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == want)
  }

  test("topKExact is a single lossless pass when the vocabulary fits") {
    val small = (0 until 1000).map(i => s"v_${i % 40}")
    val df = small.toDF("item").repartition(3)
    val (res, decision) =
      FreqSketch.topKExactDecided(df, "item", k = 5, capacity = 64)
    val got = res.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(decision == "lossless", decision)
    val want = df.groupBy("item").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("item").asc).limit(5)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == want)
  }

  test("topKExact on uniform data (no certifiable heavy hitters) " +
      "falls back to the exact plan and stays correct") {
    // 2000 items, ~3 occurrences each, capacity 32: the certificate
    // cannot pass (k-th count ~3 <= eps), so the fallback must fire —
    // and the answer must still be the exact top-k.
    val uniform = (0 until 6000).map(i => s"u_${i % 2000}")
    val df = uniform.toDF("item").repartition(4)
    val (res, decision) =
      FreqSketch.topKExactDecided(df, "item", k = 5, capacity = 32)
    val got = res.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(decision == "fallback", decision)
    val want = df.groupBy("item").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("item").asc).limit(5)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == want)
  }

  test("certifiability probe skips the sketch pass entirely on flat " +
      "data (probed-fallback) and stays correct") {
    // Same flat shape, but the probe window covers >= probeRows rows:
    // the projected certificate fails up front, so the plan is ONE
    // exact aggregate — no sketch pass — and still the exact top-k.
    val uniform = (0 until 6000).map(i => s"u_${i % 2000}")
    val df = uniform.toDF("item").repartition(4)
    val (res, decision) = FreqSketch.topKExactDecided(
      df, "item", k = 5, capacity = 32, probeRows = 1000)
    val got = res.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(decision == "probed-fallback", decision)
    val want = df.groupBy("item").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("item").asc).limit(5)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == want)
  }

  test("NULL items are excluded identically on every plan") {
    // Round-5 ADVICE: the sketch paths can never return NULL (the
    // aggregate skips null inputs), so the fallback/probed plans must
    // not seat a NULL group either — and n must count only non-null
    // rows so eps stays tight on null-bearing columns.
    val values = Seq.fill(300)("a") ++ Seq.fill(200)("b") ++
      Seq.fill(100)("c") ++ Seq.fill(1000)(null.asInstanceOf[String])
    val df = rnd.shuffle(values).toDF("item").repartition(3)
    for ((cap, probe) <- Seq((64, 65536), (64, 500), (2, 65536))) {
      val (res, decision) = FreqSketch.topKExactDecided(
        df, "item", k = 3, capacity = cap, probeRows = probe)
      val got = res.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got == Seq(("a", 300L), ("b", 200L), ("c", 100L)),
        s"decision=$decision got=$got")
    }
  }

  test("q_heavy_hitters_zipf takes the certified plan on the driver's " +
      "own events data (sf0.01)") {
    // The head-heavy row exists precisely so the bench measures the
    // certified 2-pass plan; pin that it actually fires on the real
    // input, and that the result equals the exact aggregate.
    val items = Tables(spark, "/root/testdata/sf0.01", "events")
      .select(expr("concat('it_', cast(least(1000003 DIV " +
        "(((event_id % 1000003) * 2654435761) % 1000003 + 1), " +
        "100000) as string))").as("item"))
    val (res, decision) =
      FreqSketch.topKExactDecided(items, "item", k = 20, capacity = 128)
    assert(decision == "certified", decision)
    val got = res.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val want = items.groupBy("item").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("item").asc).limit(20)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == want)
    // And the registered query row agrees with itself end-to-end.
    val viaQuery = graft.queries.TextQueries
      .qHeavyHittersZipf(spark, "/root/testdata/sf0.01")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(viaQuery == want)
  }

  test("plan decision is stable across repeated runs on the driver's " +
      "own data (both heavy-hitter rows, sf0.001)") {
    // Round-6 verdict: the probe prefix is not a guaranteed row set, so
    // a borderline distribution could in principle flip the decision
    // run-to-run (and a bench row would silently time different
    // plans). The probe now derives all decision inputs from ONE job
    // over one materialized prefix, and on the driver's actual data
    // the margins are wide on both sides — pin three consecutive runs
    // agreeing per row.
    val toksL = split(col("text"), " ")
    val bigrams = Tables(spark, sf, "documents")
      .select(toksL.as("tk")).where(size(col("tk")) >= 2)
      .select(explode(expr("transform(sequence(0, size(tk) - 2), " +
        "i -> concat(tk[i], ' ', tk[i + 1]))")).as("bigram"))
    // Clear the decision memo each run so every iteration exercises
    // the LIVE probe, not the cached verdict.
    val flatDecisions = (1 to 3).map { _ =>
      FreqSketch.clearDecisionCache()
      FreqSketch.topKExactDecided(bigrams, "bigram",
        k = 20, capacity = 2048)._2
    }
    assert(flatDecisions.distinct.size == 1, flatDecisions.toString)
    val items = Tables(spark, sf, "events")
      .select(expr("concat('it_', cast(least(1000003 DIV " +
        "(((event_id % 1000003) * 2654435761) % 1000003 + 1), " +
        "100000) as string))").as("item"))
    val zipfDecisions = (1 to 3).map { _ =>
      FreqSketch.clearDecisionCache()
      FreqSketch.topKExactDecided(items, "item", k = 20, capacity = 128)._2
    }
    assert(zipfDecisions.distinct.size == 1, zipfDecisions.toString)
    // And the memo itself: a second call without clearing returns the
    // same decision having skipped the probe job.
    assert(FreqSketch.topKExactDecided(items, "item",
      k = 20, capacity = 128)._2 == zipfDecisions.head)
  }

  test("probe window samples EVERY partition, not a first-responder " +
      "prefix (deterministic slice, round-7 carryover)") {
    // The heavy head lives ONLY in the last partitions: a global
    // limit() window could be served entirely by the flat partitions
    // (probed-fallback) or by the skewed ones, depending on task
    // arrival order. The per-partition take sees both by construction,
    // so the head certifies and the verdict is stable run-to-run.
    val data = (0 until 40000).map(i => s"u_$i") ++
      rnd.shuffle(Seq.fill(40000)("hh_" + rnd.nextInt(5)))
    // parallelize slices the seq in order: partitions 0-1 are flat,
    // partitions 2-3 hold the (internally shuffled) heavy head.
    val df = spark.sparkContext.parallelize(data, 4).toDF("item")
    val decisions = (1 to 3).map { _ =>
      FreqSketch.clearDecisionCache()
      FreqSketch.topKExactDecided(df, "item", k = 5, capacity = 64,
        probeRows = 8000)
    }
    assert(decisions.map(_._2).distinct.size == 1,
      decisions.map(_._2).toString)
    assert(decisions.head._2 == "certified", decisions.head._2)
    val got = decisions.head._1.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val want = df.groupBy("item").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("item").asc).limit(5)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == want)
  }

  test("a cached 'fallback' verdict skips the sketch pass entirely " +
      "(round-7 ADVICE)") {
    // First call on uniform parquet data runs the sketch and falls
    // back. Then the files are deleted: a second call on the SAME plan
    // must return the lazy exact plan WITHOUT running any job — if it
    // re-ran the sketch (or the probe), the dead scan would throw.
    val dir = tempDir("graft-fb")
    (0 until 6000).map(i => s"u_${i % 2000}").toDF("item")
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    FreqSketch.clearDecisionCache()
    val first = FreqSketch.topKExactDecided(df, "item", k = 5,
      capacity = 32, probeRows = 1000000)
    assert(first._2 == "fallback", first._2)
    // Kill the data out from under the plan.
    val root = new java.io.File(dir)
    root.listFiles().foreach(_.delete())
    val second = FreqSketch.topKExactDecided(df, "item", k = 5,
      capacity = 32, probeRows = 1000000)
    assert(second._2 == "fallback", second._2)
  }

  test("decision memo is LRU-bounded") {
    FreqSketch.clearDecisionCache()
    val df = (0 until 50).map(i => s"v_$i").toDF("item").cache()
    df.count()
    // 70 distinct cache keys (k varies); the memo must stay bounded.
    (1 to 70).foreach { k =>
      FreqSketch.topKExactDecided(df, "item", k = k, capacity = 128)
    }
    assert(FreqSketch.decisionCacheSize <= 64, FreqSketch.decisionCacheSize)
    df.unpersist()
    FreqSketch.clearDecisionCache()
  }

  test("sketch aggregate handles NULLs and empty input") {
    val df = Seq(Option("a"), None, Option("a"), Option("b"))
      .toDF("item")
    val out = df.agg(FreqSketch.sketch(spark, col("item"), 8).as("s"))
      .selectExpr("transform(s, x -> x.item) AS items",
        "transform(s, x -> x.count) AS counts")
      .collect()(0)
    assert(out.getSeq[String](0) == Seq("a", "b"))
    assert(out.getSeq[Long](1) == Seq(2L, 1L))
    val empty = df.filter(lit(false))
      .agg(FreqSketch.sketch(spark, col("item"), 8).as("s"))
      .selectExpr("size(s) AS n").collect()(0).getInt(0)
    assert(empty == 0)
  }

  test("q_heavy_hitters equals the exact bigram top-20 at sf0.001") {
    val got = graft.queries.TextQueries.qHeavyHitters(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val toks = split(col("text"), " ")
    val want = Tables(spark, sf, "documents")
      .select(toks.as("tk")).where(size(col("tk")) >= 2)
      .select(explode(expr("transform(sequence(0, size(tk) - 2), " +
        "i -> concat(tk[i], ' ', tk[i + 1]))")).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("bigram").asc).limit(20)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got.nonEmpty && got == want)
  }
}
