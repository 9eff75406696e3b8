"""text_pipeline: twelve `SparkEntry.queries` rows, pass after pass, each
pass over a corpus dir of its own.

The base corpus is generated with the statistics of the sf0.1 test data's
`documents` table, measured with DuckDB over that table: 5,000 documents;
10 to 100 space-separated words each (quartiles 32, 54, 76, uniform); 30
distinct words plus the marker "dup"; 250 near-duplicates (5.0%, an
earlier document plus " dup"); 8 exact duplicate texts (0.16%); `lang` en
41%, zh, es, fr and de 14 to 15% each; `source` src0 to src19, 250
documents each. The generator keeps those shares (en 3/7, 5% near- and
0.2% exact duplicates) at a fifth of the size, 1,000 documents: a run at
the sf0.1 size (set-up, a timed pass and the DuckDB checks) takes about
110 s on a 4-core host, too long for the time the benchmark may take.

Each pass gets a seeded row permutation of the base corpus with a
bijective `doc_id` remap, so that every pass pays shingling as a one-shot
corpus run does, while its results stay comparable with DuckDB over the
same dir.
"""

import math
import os
import random

from . import check, stats

QUERIES = ["q_dedup_exact", "q_dedup_minhash_lsh", "q_dedup_simhash",
           "q_dedup_ngram_jaccard", "q_corpus_clean_cc", "q_span_dedup",
           "q_tfidf", "q_token_freq", "q_lang_id", "q_decontaminate",
           "q_stats_agg", "q_text_stats"]
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
N_DOCS = 1000
N_LINES = 60_000

LINEITEM_SQL = f"""
    SELECT (j // 4) * 4 + 1 AS l_orderkey, (j * 3571) % 2000 + 1 AS l_partkey,
           (j * 613) % 100 + 1 AS l_suppkey,
           CAST((j * 17) % 50 + 1 AS DOUBLE) AS l_quantity,
           ((j * 7057) % 9000000 + 90000) / 100.0 AS l_extendedprice,
           ['R', 'A', 'N'][(j * 7) % 3 + 1] AS l_returnflag
    FROM range({N_LINES}) t(j)"""


def base_corpus(seed, n=N_DOCS):
    """[(text, lang, source)] in base order; doc i has source src{i % 20}."""
    rng = random.Random(seed)
    docs = []
    for i in range(n):
        u = rng.random()
        if i > 10 and u < 0.05:
            text = docs[rng.randrange(i)][0] + " dup"
        elif i > 10 and u < 0.052:
            text = docs[rng.randrange(i)][0]
        else:
            text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))
        docs.append((text, rng.choice(LANGS), "src%d" % (i % 20)))
    return docs


def pass_corpus(seed, p, base):
    """Pass p's permuted corpus: [(doc_id, text, lang, source, n_chars)]."""
    rng = random.Random(seed * 7919 + p)
    n = len(base)
    a = rng.randrange(1, n)
    while math.gcd(a, n) != 1:
        a = rng.randrange(1, n)
    b = rng.randrange(n)
    order = list(range(n))
    rng.shuffle(order)
    return [((a * i + b) % n, base[i][0], base[i][1], base[i][2], len(base[i][0]))
            for i in order]


def write_pass(path, docs, lineitem):
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(path)
    cols = list(zip(*docs))
    pq.write_table(pa.table({
        "doc_id": pa.array(cols[0], pa.int64()), "text": pa.array(cols[1]),
        "lang": pa.array(cols[2]), "source": pa.array(cols[3]),
        "n_chars": pa.array(cols[4], pa.int64())}),
        os.path.join(path, "documents.parquet"))
    os.link(lineitem, os.path.join(path, "lineitem.parquet"))


class TextPipeline:
    name = "text_pipeline"
    warmup_rounds = 2
    round_s = 10  # about one pass's time on a 4-core host: --seconds 10 times one

    def prepare(self, seed, n_timed, work, con):
        passes = self.warmup_rounds + n_timed
        lineitem = os.path.join(work, "lineitem.parquet")
        con.sql(f"COPY ({LINEITEM_SQL}) TO '{lineitem}' (FORMAT parquet)")
        base = base_corpus(seed)
        dirs = []
        for p in range(passes):
            d = os.path.join(work, "corpus-%02d" % p)
            write_pass(d, pass_corpus(seed, p, base), lineitem)
            dirs.append(d)
        plan = {"rounds": [[{"kind": "pass", "dir": d, "queries": QUERIES}] for d in dirs]}
        return plan, {"dirs": dirs}

    def evaluate(self, res, ctx, con):
        out = check.Outcome(res)
        oracles = res.get("oracles", {})
        for s in res["steps"]:
            if s["kind"] != "pass" or "rows_by_query" not in s:
                continue
            d = ctx["dirs"][s["round"]]
            for t in ("documents", "lineitem"):
                con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
            for q, got in s["rows_by_query"].items():
                cols, rows = got["cols"], got["data"]
                if q in oracles:
                    ok = check.same(cols, rows, *check.duck_rows(con, oracles[q]))
                    out.record(ok, f"{q} pass {s['round']} differs from DuckDB")
                else:
                    out.record(len(rows) > 0, f"{q} pass {s['round']} returned no rows")
        passes = [s["ms"] for s in res["steps"]
                  if s["kind"] == "pass" and s["timed"] and "ms" in s]
        extra = {}
        if passes:
            extra["pipeline_docs_per_s"] = (N_DOCS / (stats.median(passes) / 1000.0),
                                            "docs/s", len(passes))
        return out, extra
