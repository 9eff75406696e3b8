package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** The composed corpus-cleaning pipeline — the flagship training-data
  * shape: quality filter → exact dedup → near-dup removal, in one
  * DataFrame program (builder brief; the reference has no text surface).
  *
  * Stages, each independently scalable and shuffle-minimal:
  *  1. quality scoring (same formula as [[TextQueries.qTextStats]]):
  *     a per-row codegen'd projection, no shuffle;
  *  2. exact dedup: keep the min doc_id per md5(text) — one window
  *     over the 16-byte fingerprint;
  *  3. near-dup removal: MinHash-LSH pairs (jaccard ≥ 0.7) among the
  *     survivors via [[DedupQueries.lshPairs]]; a doc is dropped when a
  *     surviving near-duplicate with a smaller doc_id exists (one-hop
  *     rule). The transitive-closure variant [[qCorpusCleanCc]] drops
  *     whole clusters; BOTH are DuckDB-oracled exactly — the closure
  *     via a recursive CTE over the jaccard edge set.
  */
object CorpusQueries {

  /** Quality-scored survivor set (score → filter → exact dedup), shared
    * by both pipeline variants. Token counts come from the fused
    * [[graft.functions.TokenStats]] byte kernel — same arithmetic as the
    * former `split`-based projection (int n_types / double, round 4) with
    * no token-array materialization, so the scoring pass over the FULL
    * corpus is one codegen'd byte scan per document. */
  private def survivors(s: SparkSession, dir: String): DataFrame = {
    val q = Tables(s, dir, "documents")
      .select(col("doc_id"), col("lang"), md5(col("text")).as("fp"),
        graft.functions.TextFunctions.tokenStats(s, col("text")).as("ts"))
      .select(
        col("doc_id"), col("lang"),
        col("ts.n_tokens").cast("long").as("n_tokens"),
        col("fp"),
        round(
          lit(0.5) * (col("ts.n_types") / (col("ts.n_tokens") * lit(1.0))) +
            lit(0.5) * least(col("ts.n_tokens") / lit(200.0), lit(1.0)),
          4).as("quality"))
    q.filter(col("quality") >= 0.35 && col("n_tokens") >= 10)
      .withColumn("mn", min("doc_id").over(Window.partitionBy("fp")))
      .filter(col("doc_id") === col("mn"))
      .select("doc_id", "lang", "n_tokens")
  }

  /** Survivor shingle arrays for the near-dup stage. While the corpus
    * fits the shingle-persist budget, localCheckpoint materializes the
    * window-dedup + join once for all consumers (band generation plus
    * both verification probes); at scale the checkpoint would be a
    * near-corpus-sized array materialization — the same 30-TB-at-100-TB
    * trap as the shingle cache — so the relation stays lazy and
    * [[DedupQueries.lshPairs]] is told to candidate-restrict its verify
    * joins instead (`restrictVerify = small` below flips both in
    * lockstep). */
  /** NOTE (round-16 probe): checkpointing the SURVIVOR relation too —
    * it feeds both the array join here and the caller's final
    * anti-join — measured NO EFFECT beyond noise at sf3 isolated
    * (both shapes land in the same 3.4–4.2 s band across five
    * fresh-JVM samples): the scoring scan is one fused codegen pass,
    * cheap enough that re-running it per consumer ≈ the eager
    * materialization cost. Kept the lazy shape (simpler, and the
    * scale path needs it anyway). The `da` checkpoint now rides the
    * releaseShingles ledger (hygiene; previously leaked until JVM
    * exit). */
  private def survivorArrays(s: SparkSession, dir: String,
      surv: DataFrame): (DataFrame, Boolean) = {
    val small = DedupQueries.smallCorpus(dir)
    val da = DedupQueries.shingleArrays(s, dir)
      .join(surv.select("doc_id"), "doc_id")
    (if (small) DedupQueries.registerScratch(da.localCheckpoint()) else da,
      small)
  }

  def qCorpusClean(s: SparkSession, dir: String): DataFrame = {
    val surv = survivors(s, dir)
    val (da, small) = survivorArrays(s, dir, surv)
    val drop = DedupQueries.lshPairs(s, da, 0.7, restrictVerify = !small)
      .select(col("d2").as("doc_id")).distinct()
    surv.join(drop, Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  /** Transitive-closure variant: near-dup CLUSTERS via
    * [[graft.operators.ConnectedComponents]] keep exactly one
    * representative each (A~B, B~C ⇒ drop B and C even when A~C is
    * below threshold). The distributed operator is iterative label
    * propagation; the ORACLE expresses the same fixpoint as a DuckDB
    * recursive CTE (reachability closure → MIN label per component) —
    * so the driver hash-checks the cluster semantics end to end, on
    * top of the suite's union-find pin. */
  def qCorpusCleanCc(s: SparkSession, dir: String): DataFrame = {
    val surv = survivors(s, dir)
    val (da, small) = survivorArrays(s, dir, surv)
    val pairs = DedupQueries.lshPairs(s, da, 0.7, restrictVerify = !small)
      .select("d1", "d2")
    val drop = graft.operators.ConnectedComponents.dropSet(pairs)
    surv.join(drop, Seq("doc_id"), "left_anti").orderBy("doc_id")
  }

  /** Benchmark decontamination — the overlap check every LLM training
    * pipeline runs before shipping a corpus: flag training documents
    * sharing any word-8-gram with the evaluation set (the 8-token
    * window is the standard published choice). Here the "benchmark" is
    * the deterministic doc_id % 7 slice so the oracle can reproduce it;
    * in production it is the eval-suite table.
    *
    * Scale shape: 8-grams are hashed per-row by the fused
    * [[graft.functions.ShingleHashesKText]] kernel (distinct within doc,
    * 8-byte keys). The eval side aggregates to a DISTINCT hash set that
    * is tiny relative to the corpus BY CONSTRUCTION (benchmarks are
    * MBs, corpora TBs) — broadcast EXPLICITLY: under AQE's late-stage
    * conversion the distinct's shuffle materializes as a stage barrier
    * before the broadcast is built, measured 3× slower than planning
    * the broadcast up front (sf3: 3.7 s → 1.1 s); the static marker
    * encodes the size assumption the operator is defined by. The
    * contamination join thus never shuffles the
    * corpus; the only corpus-sized shuffle is the per-doc count
    * aggregate, keyed by doc_id (even). Chained-XXH64 injectivity over
    * word boundaries makes hash-overlap counts equal string-overlap
    * counts (2^-64 caveat), which is what the DuckDB oracle computes. */
  def qDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents").select(col("doc_id"),
      graft.functions.TextFunctions.shingleKText(s, col("text"), 8).as("g"))
    val evalGrams = d.filter(col("doc_id") % 7 === 0)
      .select(explode(col("g")).as("h")).distinct()
    val train = d.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"), size(col("g")).cast("long").as("n_grams"),
        explode(col("g")).as("h"))
    train.join(broadcast(evalGrams), "h")
      .groupBy("doc_id", "n_grams")
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("overlap",
        round(col("n_shared") * lit(1.0) / col("n_grams"), 4))
      .select("doc_id", "n_grams", "n_shared", "overlap")
      .orderBy("doc_id")
  }

  /** Boilerplate-phrase scoring (RefinedWeb/CCNet-style): the fraction
    * of a document's word-5-grams that are corpus-common (document
    * frequency ≥ 5) — a high fraction marks templated/boilerplate text.
    * Per-doc grams are distinct, so the df aggregate counts DOCUMENTS
    * per gram directly. The hot-gram set (df ≥ threshold) is a sliver of
    * the gram space — AQE broadcasts the semi join at this scale and
    * falls back to shuffle at corpus scale; every doc is scored (left
    * join, zero-fill), keeping the output a total quality signal rather
    * than a contaminated-only subset. */
  def qBoilerplate(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents").select(col("doc_id"),
      graft.functions.TextFunctions.shingleKText(s, col("text"), 5).as("g"))
      .filter(size(col("g")) >= 1)
    val grams = d.select(col("doc_id"), explode(col("g")).as("h"))
    // Hash-range multi-pass df aggregate (round 10, verdict "missing"
    // #1): the global line/gram-hash aggregate is the one
    // corpus-proportional exchange — at 50M docs it alone exceeds one
    // box's scratch (BASELINE §17). `graft.vocab.passes` = P computes
    // document frequencies over P disjoint hash ranges SEQUENTIALLY
    // (each forced via persist + count before the next is planned), so
    // peak scratch is ÷P for ~P× the scan cost. EXACT at any P: df
    // counts are integers partitioned by gram hash, so the union of
    // per-range hot sets IS the single-pass hot set and the output is
    // bit-identical. The hot slivers are the only persists.
    val passes = math.max(1,
      s.conf.getOption("graft.vocab.passes").map(_.toInt).getOrElse(1))
    def hotOf(g: DataFrame) = g.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 5).select("h")
    val hot =
      if (passes <= 1) hotOf(grams)
      else (0 until passes).map { p =>
        // Eager localCheckpoint: forces the pass AND truncates its
        // lineage so the finished pass's shuffle files are cleanable —
        // a persist would pin every pass's ShuffleDependency and
        // scratch would accumulate to the single-pass total (see
        // lshPairs). Checkpointed blocks are the hot-gram sliver.
        val part = graft.queries.DedupQueries.registerScratch(
          hotOf(grams.filter(pmod(col("h"), lit(passes)) === p))
            .localCheckpoint())
        System.gc()
        part
      }.reduce(_ union _)
    val boiler = grams.join(hot, Seq("h"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_boiler"))
    d.select(col("doc_id"), size(col("g")).cast("long").as("n_grams"))
      .join(boiler, Seq("doc_id"), "left")
      .withColumn("n_boiler", coalesce(col("n_boiler"), lit(0L)))
      .withColumn("boiler_frac",
        round(col("n_boiler") * lit(1.0) / col("n_grams"), 4))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_corpus_clean" -> (qCorpusClean _),
    "q_corpus_clean_cc" -> (qCorpusCleanCc _),
    "q_decontaminate" -> (qDecontaminate _),
    "q_boilerplate" -> (qBoilerplate _))

  val oracles: Map[String, String] = Map(
    "q_decontaminate" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
        |g AS (SELECT doc_id, list_distinct(list_transform(
        |        range(1, greatest(len(ws) - 6, 1)),
        |        i -> array_to_string(ws[i:i+7], ' '))) gs
        |      FROM w WHERE len(ws) >= 8),
        |ev AS (SELECT DISTINCT unnest(gs) AS h FROM g WHERE doc_id % 7 = 0),
        |tr AS (SELECT doc_id, len(gs) AS n_grams, unnest(gs) AS h
        |       FROM g WHERE doc_id % 7 <> 0)
        |SELECT tr.doc_id, CAST(n_grams AS BIGINT) AS n_grams,
        |  COUNT(1) AS n_shared,
        |  ROUND(COUNT(1) * 1.0 / n_grams, 4) AS overlap
        |FROM tr JOIN ev USING (h)
        |GROUP BY tr.doc_id, n_grams
        |ORDER BY doc_id""".stripMargin,
    "q_boilerplate" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
        |g AS (SELECT doc_id, list_distinct(list_transform(
        |        range(1, greatest(len(ws) - 3, 1)),
        |        i -> array_to_string(ws[i:i+4], ' '))) gs
        |      FROM w WHERE len(ws) >= 5),
        |gr AS (SELECT doc_id, unnest(gs) AS h FROM g),
        |hot AS (SELECT h FROM gr GROUP BY h HAVING COUNT(1) >= 5),
        |nb AS (SELECT doc_id, COUNT(1) AS n_boiler
        |       FROM gr JOIN hot USING (h) GROUP BY doc_id)
        |SELECT g.doc_id, CAST(len(gs) AS BIGINT) AS n_grams,
        |  COALESCE(nb.n_boiler, 0) AS n_boiler,
        |  ROUND(COALESCE(nb.n_boiler, 0) * 1.0 / len(gs), 4) AS boiler_frac
        |FROM g LEFT JOIN nb ON g.doc_id = nb.doc_id
        |ORDER BY g.doc_id""".stripMargin,
    "q_corpus_clean" ->
      """WITH q AS (
        |  SELECT doc_id, lang, text,
        |    len(string_split(text, ' ')) AS n_tokens,
        |    md5(text) AS fp,
        |    ROUND(0.5 * (len(list_distinct(string_split(text, ' '))) * 1.0
        |                 / len(string_split(text, ' ')))
        |          + 0.5 * LEAST(len(string_split(text, ' ')) / 200.0, 1.0),
        |          4) AS quality
        |  FROM documents),
        |surv AS (
        |  SELECT doc_id, lang, n_tokens, text FROM q
        |  WHERE quality >= 0.35 AND n_tokens >= 10
        |  QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY fp)),
        |w AS (SELECT doc_id, string_split(text, ' ') ws FROM surv),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |         range(1, greatest(len(ws) - 1, 2)),
        |         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS sgl
        |       FROM w WHERE len(ws) >= 3),
        |sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
        |common AS (SELECT a.doc_id d1, b.doc_id d2, count(*) c
        |           FROM sh a JOIN sh b ON a.sgl = b.sgl AND a.doc_id < b.doc_id
        |           GROUP BY 1, 2),
        |nd AS (SELECT DISTINCT d2 FROM common
        |       JOIN sizes na ON d1 = na.doc_id
        |       JOIN sizes nb ON d2 = nb.doc_id
        |       WHERE c * 1.0 / (na.n + nb.n - c) >= 0.7)
        |SELECT doc_id, lang, n_tokens FROM surv
        |WHERE doc_id NOT IN (SELECT d2 FROM nd)
        |ORDER BY doc_id""".stripMargin,
    "q_corpus_clean_cc" ->
      """WITH RECURSIVE q AS (
        |  SELECT doc_id, lang, text,
        |    len(string_split(text, ' ')) AS n_tokens,
        |    md5(text) AS fp,
        |    ROUND(0.5 * (len(list_distinct(string_split(text, ' '))) * 1.0
        |                 / len(string_split(text, ' ')))
        |          + 0.5 * LEAST(len(string_split(text, ' ')) / 200.0, 1.0),
        |          4) AS quality
        |  FROM documents),
        |surv AS (
        |  SELECT doc_id, lang, n_tokens, text FROM q
        |  WHERE quality >= 0.35 AND n_tokens >= 10
        |  QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY fp)),
        |w AS (SELECT doc_id, string_split(text, ' ') ws FROM surv),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |         range(1, greatest(len(ws) - 1, 2)),
        |         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS sgl
        |       FROM w WHERE len(ws) >= 3),
        |sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
        |common AS (SELECT a.doc_id d1, b.doc_id d2, count(*) c
        |           FROM sh a JOIN sh b ON a.sgl = b.sgl AND a.doc_id < b.doc_id
        |           GROUP BY 1, 2),
        |pairs AS (SELECT d1, d2 FROM common
        |          JOIN sizes na ON d1 = na.doc_id
        |          JOIN sizes nb ON d2 = nb.doc_id
        |          WHERE c * 1.0 / (na.n + nb.n - c) >= 0.7),
        |edges AS (SELECT d1 AS a, d2 AS b FROM pairs
        |          UNION SELECT d2, d1 FROM pairs),
        |reach(a, b) AS (SELECT a, a FROM (SELECT DISTINCT a FROM edges) s
        |                UNION
        |                SELECT r.a, e.b FROM reach r JOIN edges e
        |                  ON r.b = e.a),
        |label AS (SELECT a AS doc_id, MIN(b) AS rep FROM reach GROUP BY a),
        |dropset AS (SELECT doc_id FROM label WHERE rep < doc_id)
        |SELECT doc_id, lang, n_tokens FROM surv
        |WHERE doc_id NOT IN (SELECT doc_id FROM dropset)
        |ORDER BY doc_id""".stripMargin)
}
