package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Pins the fused byte-level text kernels ([[graft.functions.TextKernel]])
  * to the composed `split`-based formulations they replace: identical
  * results on every string shape, including the degenerate whitespace
  * cases where `split(text, " ")` semantics are subtle (empty string →
  * [""], consecutive/leading/trailing spaces → empty tokens kept) and
  * multi-byte UTF-8 where byte-splitting must equal character-splitting. */
class TextKernelsSpec extends SparkTestBase {

  import graft.functions.{TextFunctions, VectorFunctions}

  private val edgeCases = Seq(
    "", " ", "  ", "a", " a", "a ", "a b", "a  b", "a b c", " a b c ",
    "a a a a", "a  b   c d", "é ü 语言 模型 é", "日本語 テスト 日本語",
    "x " * 200 + "y", "tok" + "en " * 5)

  private val rng = new scala.util.Random(20260813L)
  private val alphabet = "ab cd 语 é  "
  private val randomCases = Seq.fill(300) {
    val n = rng.nextInt(60)
    (0 until n).map(_ => alphabet(rng.nextInt(alphabet.length))).mkString
  }

  private lazy val df = {
    import spark.implicits._
    (edgeCases ++ randomCases).toDF("text")
  }

  test("token_stats matches size(split) / size(array_distinct(split))") {
    val toks = split(col("text"), " ")
    val rows = df.select(
      TextFunctions.tokenStats(spark, col("text")).as("ts"),
      size(toks).as("nt"), size(array_distinct(toks)).as("ny"),
      col("text")).collect()
    rows.foreach { r =>
      val ts = r.getStruct(0)
      assert(ts.getInt(0) == r.getInt(1), s"n_tokens for '${r.getString(3)}'")
      assert(ts.getInt(1) == r.getInt(2), s"n_types for '${r.getString(3)}'")
    }
  }

  test("shingle3_hashes_text matches shingle3_hashes(split) incl. <3-token docs") {
    val toks = split(col("text"), " ")
    val rows = df.select(
      TextFunctions.shingle3Text(spark, col("text")).as("fused"),
      when(size(toks) >= 3, VectorFunctions.shingle3(spark, toks))
        .otherwise(array().cast("array<long>")).as("composed"),
      col("text")).collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        s"shingles for '${r.getString(2)}'")
    }
  }

  test("shinglek_hashes_text matches composed xxhash64 k-gram chains") {
    // Spark's variadic xxhash64 chains h = hash(field, h) from seed 42 —
    // the exact chain the kernel computes — so the composed formulation
    // is an independent cross-check of the fused one.
    for (k <- Seq(2, 5, 8)) {
      val args = (0 until k).map(j => s"w[i + $j]").mkString(", ")
      val composed = expr(
        s"""CASE WHEN size(w) >= $k THEN array_sort(array_distinct(
           |  transform(sequence(0, size(w) - $k), i -> xxhash64($args))))
           |ELSE array() END""".stripMargin).cast("array<long>")
      val rows = df
        .select(col("text"), split(col("text"), " ").as("w"))
        .select(col("text"),
          TextFunctions.shingleKText(spark, col("text"), k).as("fused"),
          composed.as("composed")).collect()
      rows.foreach { r =>
        assert(r.getSeq[Long](1) == r.getSeq[Long](2),
          s"k=$k for '${r.getString(0)}'")
      }
    }
  }

  test("token_tf_pairs matches explode(split) → groupBy(token) exactly") {
    import spark.implicits._
    val viaKernel = df.withColumn("rid", monotonically_increasing_id())
      .select(col("rid"),
        explode(TextFunctions.tokenTfPairs(spark, col("text"))).as("p"))
      .select(col("rid"), col("p.token").as("token"),
        col("p.tf").cast("long").as("tf"))
      .as[(Long, String, Long)].collect().toSet
    val viaSplit = df.withColumn("rid", monotonically_increasing_id())
      .select(col("rid"), explode(split(col("text"), " ")).as("token"))
      .groupBy("rid", "token").agg(count(lit(1)).as("tf"))
      .as[(Long, String, Long)].collect().toSet
    assert(viaKernel == viaSplit)
    // Pairs are distinct per document (the kernel's dedup is exact).
    val pairCount = df
      .select(explode(TextFunctions.tokenTfPairs(spark, col("text"))).as("p"))
      .count()
    assert(pairCount == viaSplit.size)
  }

  test("gram_tf_hashes matches hashed explode(bigrams) → groupBy exactly") {
    import spark.implicits._
    for (k <- Seq(2, 3)) {
      val viaKernel = df.withColumn("rid", monotonically_increasing_id())
        .select(col("rid"),
          explode(TextFunctions.gramTfHashes(spark, col("text"), k)).as("g"))
        .select(col("rid"), col("g.h"), col("g.hp"),
          col("g.tf").cast("long").as("tf"))
        .as[(Long, Long, Long, Long)].collect().toSet
      // Composed cross-check: gram/prefix strings from split, hashed
      // with SQL xxhash64 (seed 42 over the UTF-8 bytes — the parity
      // the kernel's scaladoc claims), counted by gram string.
      val gram = (0 until k).map(j => s"w[i + $j]").mkString(", ")
      val prefix = (0 until k - 1).map(j => s"w[i + $j]").mkString(", ")
      val viaSplit = df.withColumn("rid", monotonically_increasing_id())
        .select(col("rid"), split(col("text"), " ").as("w"))
        .where(size(col("w")) >= k)
        .select(col("rid"), explode(expr(
          s"""transform(sequence(0, size(w) - $k),
             |  i -> struct(concat_ws(' ', $gram) AS g,
             |              concat_ws(' ', $prefix) AS p))""".stripMargin))
          .as("x"))
        .groupBy(col("rid"), col("x.g"), col("x.p"))
        .agg(count(lit(1)).as("tf"))
        .select(col("rid"), xxhash64(col("g")), xxhash64(col("p")),
          col("tf"))
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(viaKernel == viaSplit, s"k=$k")
    }
  }

  test("simhash64_text matches simhash64(split)") {
    val rows = df.select(
      TextFunctions.simhashText(spark, col("text")).as("fused"),
      VectorFunctions.simhash(spark, split(col("text"), " ")).as("composed"),
      col("text")).collect()
    rows.foreach { r =>
      assert(r.getLong(0) == r.getLong(1), s"simhash for '${r.getString(2)}'")
    }
  }

  test("gram_slices_text matches composed split → transform → concat " +
      "bigrams and trigrams on every string shape") {
    // The kernel's claim is byte-slice ≡ concat(tk[i], ' ', …): exact
    // on empty tokens, consecutive/leading/trailing spaces, and
    // multi-byte UTF-8, with the sub-k-token docs yielding [] (the
    // rows filter(size >= k) would drop).
    for (k <- Seq(2, 3)) {
      val toks = split(col("text"), " ")
      val parts = (0 until k).map(j => s"split(text, ' ')[i + $j]")
        .mkString(", ' ', ")
      val composed = when(size(toks) >= k,
        expr(s"transform(sequence(0, size(split(text, ' ')) - $k), " +
          s"i -> concat($parts))"))
        .otherwise(array().cast("array<string>"))
      val rows = df.select(
        TextFunctions.gramSlicesText(spark, col("text"), k).as("fused"),
        composed.as("composed"), col("text")).collect()
      rows.foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"k=$k grams for '${r.getString(2)}'")
      }
    }
  }

  test("null text maps to null through all three kernels") {
    import spark.implicits._
    val nd = Seq[(java.lang.Long, String)]((1L, null)).toDF("id", "text")
    val r = nd.select(
      TextFunctions.tokenStats(spark, col("text")),
      TextFunctions.shingle3Text(spark, col("text")),
      TextFunctions.simhashText(spark, col("text"))).collect().head
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
  }

  test("gram_pos_hashes matches xxhash64(substring) at every position") {
    // Character positions, byte hashing: gram i's hash must equal
    // Spark's own xxhash64 (seed 42) of the k-char substring — on
    // multi-byte UTF-8 too, where char windows map to variable byte
    // spans. This is the exact parity the span-dedup oracle relies on.
    for (k <- Seq(2, 5, 64)) {
      val rows = df.filter(length(col("text")) >= k).select(
        TextFunctions.gramPosHashes(spark, col("text"), k).as("g"),
        col("text")).collect()
      rows.foreach { r =>
        val text = r.getString(1)
        val got = r.getSeq[Row](0).map(x => (x.getLong(0), x.getInt(1)))
        assert(got.map(_._2) == (1 to text.length - k + 1),
          s"positions for k=$k '$text'")
      }
      val cmp = df.filter(length(col("text")) >= k)
        .select(explode(
          TextFunctions.gramPosHashes(spark, col("text"), k)).as("g"),
          col("text"))
        .select(col("g.h").as("h"),
          xxhash64(col("text").substr(col("g.pos"), lit(k))).as("ref"))
        .filter(col("h") =!= col("ref"))
      assert(cmp.count() == 0, s"hash mismatch at k=$k")
    }
  }

  test("winnow_pos_hashes: subset, density, and the shared-span guarantee") {
    val (k, w) = (8, 4)
    // (a) selections are a subset of the positional grams.
    val both = df.filter(length(col("text")) >= k).select(
      TextFunctions.gramPosHashes(spark, col("text"), k).as("g"),
      TextFunctions.winnowPosHashes(spark, col("text"), k, w).as("f"))
      .collect()
    both.foreach { r =>
      val g = r.getSeq[Row](0).map(x => (x.getLong(0), x.getInt(1))).toSet
      val f = r.getSeq[Row](1).map(x => (x.getLong(0), x.getInt(1)))
      assert(f.forall(g.contains), "winnow selected a non-gram")
      assert(f.map(_._2) == f.map(_._2).sorted.distinct, "unsorted/dup pos")
      // (b) density: one selection per window START is the hard upper
      // bound (m - w + 1 windows); expected ~2/(w+1) of grams.
      val m = r.getSeq[Row](0).size
      assert(f.size <= math.max(1, m - w + 1))
    }
    // (c) guarantee: a shared run of >= w + k - 1 chars must share a
    // fingerprint HASH between the two documents containing it.
    val rng2 = new scala.util.Random(7L)
    def rand(n: Int) = (0 until n)
      .map(_ => alphabet(rng2.nextInt(alphabet.length))).mkString
    val shared = rand(w + k - 1) // 11 chars: minimal guaranteed span
    import spark.implicits._
    val planted = Seq.tabulate(40) { i =>
      (i.toLong, rand(rng2.nextInt(30)) + shared + rand(rng2.nextInt(30)))
    }.toDF("doc_id", "text")
    val fp = planted.select(col("doc_id"),
      explode(TextFunctions.winnowPosHashes(spark, col("text"), k, w))
        .as("f")).select(col("doc_id"), col("f.h").as("h")).distinct()
    val pairs = fp.as("a").join(fp.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select("a.doc_id", "b.doc_id").distinct().count()
    assert(pairs == 40L * 39 / 2,
      s"guarantee violated: only $pairs of ${40 * 39 / 2} planted pairs")
  }

  test("span dedup: planted duplicated span is found exactly; winnow covers it") {
    import spark.implicits._
    val rng3 = new scala.util.Random(11L)
    def rand(n: Int) = (0 until n)
      .map(_ => ('a' + rng3.nextInt(26)).toChar).mkString
    val span = rand(100) // >= 64 (exact) and >= 95 (winnow guarantee)
    val docsDf = (Seq(
      (1L, rand(50) + span + rand(40)), // span at offset 51
      (2L, span + rand(80)), //            span at offset 1
      (3L, rand(200))) ++ // clean doc — must produce NO span
      Seq.tabulate(20)(i => (10L + i, rand(150)))).toDF("doc_id", "text")
    val dir = tempDir("spandedup")
    docsDf.write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val spans = graft.queries.DedupQueries.qSpanDedup(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // Exact: each planted copy is one maximal span at its true offset.
    assert(spans.toSet == Set((1L, 51L, 151L), (2L, 1L, 101L)),
      spans.mkString(", "))
    val cand = graft.queries.DedupQueries.qSpanDedupWinnow(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cand.contains((1L, 2L)), cand.mkString(", "))
  }

  test("bpe_stats matches regexp_extract_all(lower, …) counts exactly") {
    import spark.implicits._
    // 'É é' pins the simple-case-fold contract: both are one type,
    // exactly as regexp over lower(text) sees them.
    val extra = Seq("abc123def", "A1 b2 C3", "3.14 x!? €5", "ABC ABC abc",
      "12 34 12", "...", "é9语a", "MiXeD CaSe MIXED case", "É é", "Ü ü Ü")
    val d2 = (edgeCases ++ extra ++ randomCases.take(100)).toDF("text")
    val bpe = regexp_extract_all(lower(col("text")),
      lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))
    val rows = d2.select(
      TextFunctions.bpeStats(spark, col("text")).as("k"),
      size(bpe).as("n"), size(array_distinct(bpe)).as("ty"),
      col("text")).collect()
    rows.foreach { r =>
      val k = r.getStruct(0)
      assert(k.getInt(0) == r.getInt(1), s"n_bpe for '${r.getString(3)}'")
      assert(k.getInt(1) == r.getInt(2), s"n_types for '${r.getString(3)}'")
    }
  }

  test("bpe_stats full-mapping divergence is pinned: 'İ' stays one " +
      "OTHER token (simple fold), where String.toLowerCase expands it") {
    import spark.implicits._
    // Simple fold: 'İ' (U+0130) → one token, one type; the regex over
    // lower(text) ("i" + U+0307) would count 2 tokens. The kernel's
    // contract is the SIMPLE per-code-point fold — assert the kernel's
    // own behavior directly so any silent contract change fails here.
    val rows = Seq("İ", "İ İ", "\u212A k").toDF("text")
      .select(TextFunctions.bpeStats(spark, col("text")).as("k"),
        col("text")).collect()
      .map(r => r.getString(1) -> (r.getStruct(0).getInt(0),
        r.getStruct(0).getInt(1))).toMap
    assert(rows("İ") == ((1, 1)))
    assert(rows("İ İ") == ((2, 1)))
    // Kelvin sign folds to 'k' but stays an OTHER-class token, so it
    // is a distinct type from the letter-run token "k".
    assert(rows("\u212A k") == ((2, 2)))
  }

  test("word_counts matches size(filter(split)) per word, incl. empty/" +
      "multibyte words and empty-token edge cases") {
    import spark.implicits._
    val words = Seq("a", "b", "the", "语", "é", "token", "x")
    val d2 = (edgeCases ++ Seq("the the a THE", "é é 语") ++
      randomCases.take(100)).toDF("text")
    val toks = split(col("text"), " ")
    val rows = d2.select(
      TextFunctions.wordCounts(spark, col("text"), words).as("wc"),
      array(words.map(w =>
        size(filter(toks, t => t === lit(w))).cast("long")): _*).as("ref"),
      col("text")).collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        s"word counts for '${r.getString(2)}'")
    }
  }

  test("pii_redact matches the sequential regexp_replace triple on " +
      "adversarial pattern-char salad") {
    import spark.implicits._
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"
    val ssn = "[0-9]{3}-[0-9]{2}-[0-9]{4}"
    val directed = Seq(
      "", "@", "+", "-", "a@b.cc", "a@b.c", "a@.cc", "a@..cc", "a@b@c.dd",
      "x@y.zz23", "123-45-6789@mail.ex", "0123-45-6789@y.zz",
      "123-45-6789abc@x.yy", "+1-555-0123", "+12-345-6789", "+123-456-7890",
      "+1-555-01234", "1234-56-7890", "123-45-6789", "12-34-5678",
      "+1-234-56-78-9012", "a@b.cc555-01-2345", "+1-555-01x@y.zz23",
      "call +1-555-0042 id 042-52-1042 contact user42@mail.example.com",
      "é@b.cc", "a@é.cc", "...@...", "%_+-@-.-aa", "a@b-c.dd-ee",
      "a@b.cc.dd", "a@b.cc.d", "+9-123-4567+8-901-2345")
    val rng = new scala.util.Random(42)
    val alpha = "a1@.+-% _z9"
    val fuzz = Seq.fill(4000)(
      (0 until rng.nextInt(40)).map(_ => alpha(rng.nextInt(alpha.length)))
        .mkString)
    val d2 = (directed ++ fuzz).toDF("text")
    def occ(t: org.apache.spark.sql.Column, tok: String) =
      ((length(t) - length(replace(t, lit(tok), lit("")))) /
        tok.length).cast("long")
    val ref = regexp_replace(regexp_replace(regexp_replace(col("text"),
      email, "<EMAIL>"), phone, "<PHONE>"), ssn, "<ID>")
    val rows = d2.select(
      TextFunctions.piiRedact(spark, col("text")).as("pr"),
      ref.as("ref"), col("text")).collect()
    rows.foreach { r =>
      val pr = r.getStruct(0)
      val ref0 = r.getString(1)
      assert(pr.getString(0) == ref0,
        s"redaction for '${r.getString(2)}'")
    }
    // Counts equal the token occurrences of the regex result.
    val cnt = d2.select(
      TextFunctions.piiRedact(spark, col("text")).as("pr"), ref.as("rf"))
      .select(
        col("pr.n_email"), occ(col("rf"), "<EMAIL>"),
        col("pr.n_phone"), occ(col("rf"), "<PHONE>"),
        col("pr.n_id"), occ(col("rf"), "<ID>")).collect()
    cnt.foreach { r =>
      assert(r.getLong(0) == r.getLong(1) && r.getLong(2) == r.getLong(3) &&
        r.getLong(4) == r.getLong(5))
    }
  }

  test("gram_set_hashes: distinct k-char-substring set semantics " +
      "(rolling hash universe)") {
    import org.apache.spark.unsafe.types.UTF8String
    val cases = edgeCases ++ randomCases.take(60)
    for (t <- cases; k <- Seq(2, 5, 8)) {
      val got = graft.functions.TextKernel
        .gramSetHashes(UTF8String.fromString(t), k).toLongArray()
      val want =
        if (t.length < k) Set.empty[String]
        else (0 to t.length - k).map(i => t.substring(i, i + k)).toSet
      assert(got.length == want.size,
        s"|grams| for '$t' k=$k: ${got.length} vs ${want.size}")
      assert(got.toSeq == got.toSeq.sorted.distinct, s"unsorted for '$t'")
    }
    // Shared-substring truth: docs sharing a >= k-char substring have
    // intersecting sets; disjoint-alphabet docs do not.
    def set(t: String, k: Int) = graft.functions.TextKernel
      .gramSetHashes(UTF8String.fromString(t), k).toLongArray().toSet
    val shared = "the quick brown fox jumps"
    val a = "AAA " + shared + " BBB"
    val b = "CCC " + shared + " DDD"
    assert((set(a, 10) & set(b, 10)).nonEmpty)
    assert((set("aaaaaaaaaaaa", 5) & set("bbbbbbbbbbbb", 5)).isEmpty)
  }

  test("token_set_hash induces the md5-of-sorted-distinct-tokens partition") {
    // The fused fingerprint is a GROUPING key: it must equate exactly
    // the documents the md5-of-sorted-distinct-tokens key equates —
    // equal token SETS, insensitive to order and duplication — on
    // every edge shape. Both directions: same md5 ⟹ same hash (sum is
    // a function of the set) and same hash ⟹ same md5 (no collisions
    // across these cases).
    val rows = df.select(
      graft.functions.TextFunctions.tokenSetHash(spark, col("text")).as("tsh"),
      md5(array_join(array_sort(array_distinct(split(col("text"), " "))),
        " ")).as("m")).collect()
    val byMd5 = rows.groupBy(_.getString(1)).view
      .mapValues(_.map(_.getLong(0)).toSet)
    byMd5.foreach { case (m, hs) =>
      assert(hs.size == 1, s"md5 group $m maps to ${hs.size} set-hashes")
    }
    val byHash = rows.groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getString(1)).toSet)
    byHash.foreach { case (h, ms) =>
      assert(ms.size == 1, s"set-hash $h maps to ${ms.size} md5 keys")
    }
    // Order/duplication insensitivity, pinned directly.
    val Seq(h1, h2, h3, h4) = Seq("b a c", "c b a", "a a b c c", "a b")
      .map(t => graft.functions.TextKernel.tokenSetHash(
        org.apache.spark.unsafe.types.UTF8String.fromString(t)))
    assert(h1 == h2 && h2 == h3 && h1 != h4)
  }

  test("kernels stay inside whole-stage codegen") {
    // Over the parquet-backed table: a local relation would be
    // constant-folded into a LocalTableScan with no codegen at all.
    val plan = Tables(spark, sf, "documents").select(
      TextFunctions.tokenStats(spark, col("text")),
      TextFunctions.shingle3Text(spark, col("text")),
      TextFunctions.simhashText(spark, col("text")))
      .queryExecution.executedPlan.toString
    // A `*(n)` operator prefix marks the WholeStageCodegen span.
    assert("""\*\(\d+\) Project \[[^\n]*token_stats""".r
      .findFirstIn(plan).isDefined, plan.take(2000))
  }
}
