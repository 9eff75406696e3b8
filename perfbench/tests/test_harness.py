"""Tests of the benchmark harness's own logic (no JVM needed).

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from bench import check, dml, layers, stats, text  # noqa: E402
from bench.workloads import WORKLOADS  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile([7.0], 90), 7.0)
        self.assertEqual(stats.percentile([3, 1, 2], 50), 2)
        self.assertEqual(stats.median([3, 1, 2]), 2)
        # Even counts average the middle pair, never take the smaller one.
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(stats.median([10.0, 12.0]), 11.0)

    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertFalse(stats.reportable(90, 99))
        self.assertTrue(stats.reportable(90, 100))
        self.assertTrue(stats.reportable(50, 1))
        self.assertEqual(stats.summary([1.0] * 99), {"n": 99, "p50": 1.0})
        self.assertEqual(set(stats.summary([1.0] * 100)), {"n", "p50", "p90"})

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)
        with self.assertRaises(ValueError):
            stats.median([])


class SeedTest(unittest.TestCase):
    def test_dml_statements(self):
        def sqls(seed):
            return [s.get("sql") for r in dml.generate(seed, 3)[0] for s in r]
        self.assertEqual(sqls(5), sqls(5))
        self.assertNotEqual(sqls(5), sqls(6))

    def test_corpus(self):
        base = text.base_corpus(5, 300)
        self.assertEqual(base, text.base_corpus(5, 300))
        self.assertNotEqual(base, text.base_corpus(6, 300))
        p0 = text.pass_corpus(5, 0, base)
        self.assertEqual(p0, text.pass_corpus(5, 0, base))
        self.assertNotEqual(p0, text.pass_corpus(6, 0, base))
        self.assertNotEqual(p0, text.pass_corpus(5, 1, base))
        # A permutation with a bijective doc_id remap: same documents.
        self.assertEqual(sorted(d[0] for d in p0), list(range(300)))
        self.assertEqual(sorted(d[1] for d in p0), sorted(b[0] for b in base))


class ModelTest(unittest.TestCase):
    def test_tiny_case_by_hand(self):
        m = dml.Model(3)
        # Key 2: custkey 2*7919 % 15000 + 1 = 839, status "OFP"[2] = "P",
        # price (2 * 104729) % 500000 = 209458, day 74 = 1992-03-15,
        # priority index 2*13 % 5 = 1.
        self.assertEqual(m.lookup([2]), [[2, 839, "P", 209458.0, "1992-03-15", "2-HIGH"]])
        m.begin()
        m.update([2])
        self.assertEqual(m.lookup([2])[0][2:4], ["U", 209459.0])
        m.begin()
        m.delete([1])
        self.assertEqual(m.checksum()[0], 2)
        m.begin()
        m.merge([3, 9], salt=5)  # 3 matches, 9 is new
        self.assertEqual(m.lookup([3])[0][2:4], ["M", float((3 * 104729 + 5) % 500000)])
        self.assertEqual(m.lookup([9])[0][:4], [9, (9 * 7919) % 15000 + 1, "OFP"[0],
                                                float((9 * 104729 + 5) % 500000)])
        self.assertEqual(m.checksum()[0], 3)
        m.revert()  # undo the MERGE only
        self.assertEqual(m.checksum()[0], 2)
        self.assertEqual(m.lookup([3])[0][2], "OFP"[0])
        self.assertEqual(m.lookup([9]), [])
        statuses = {s: n for s, n, _ in m.scan()}
        self.assertEqual(statuses, {"U": 1, "O": 1})

    def test_checksum_is_incremental(self):
        m = dml.Model(50)
        m.begin()
        m.update([4, 5])
        m.delete([6])
        m.insert([100, 101])
        fresh = sum(dml.fingerprint(r) for r in m.rows.values())
        self.assertEqual(m.checksum(), [len(m.rows), fresh])


def _dml_run(rows_for_lookup):
    """A recorded run of round 0 of the plan, with the first read-back's
    rows as given."""
    rounds = dml.generate(1, 1)[0]
    steps = []
    for s in rounds[0]:
        rec = {"round": 0, "kind": s["kind"], "timed": True, "ms": 1.0}
        if "check" in s:
            rec["check"] = s["check"]
            rec["rows"] = s["expect"]
        steps.append(rec)
    first = next(s for s in steps if s["kind"] == "lookup")
    first["rows"] = rows_for_lookup(first["rows"])
    return {"steps": steps, "rounds": []}, {"rounds": rounds, "seed": 1}


class PlantedWrongResultTest(unittest.TestCase):
    def test_dml_read_back(self):
        wl = WORKLOADS["dml_k16"]
        res, ctx = _dml_run(lambda r: r)
        self.assertEqual(wl.evaluate(res, ctx, None)[0].failed, 0)

        def plant(r):  # one price off by one in the engine's answer
            data = [list(x) for x in r["data"]]
            data[0][3] += 1
            return {"cols": r["cols"], "data": data}
        res, ctx = _dml_run(plant)
        out = wl.evaluate(res, ctx, None)[0]
        self.assertEqual(out.failed, 1)
        self.assertGreater(out.attempted, out.failed)

    def test_text_row_against_duckdb(self):
        """A text-pipeline row is compared with its oracle SQL in DuckDB over
        the pass's corpus dir; a planted wrong count is caught."""
        import tempfile
        wl = WORKLOADS["text_pipeline"]
        con = duckdb.connect()
        with tempfile.TemporaryDirectory() as tmp:
            lineitem = os.path.join(tmp, "lineitem.parquet")
            con.sql(f"COPY (SELECT 1 AS l_orderkey) TO '{lineitem}' (FORMAT parquet)")
            d = os.path.join(tmp, "corpus-00")
            text.write_pass(d, text.pass_corpus(3, 0, text.base_corpus(3, 50)), lineitem)
            oracle = "SELECT lang, count(*) AS n FROM documents GROUP BY lang"
            con.sql(f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'")
            good = [list(r) for r in con.sql(oracle).fetchall()]
            bad = [list(r) for r in good]
            bad[0][1] += 1
            for rows, failed in ((good, 0), (bad, 1)):
                res = {"oracles": {"q_lang_id": oracle},
                       "steps": [{"round": 0, "kind": "pass", "timed": True, "ms": 1.0,
                                  "ms_by_query": {"q_lang_id": 1.0},
                                  "rows_by_query": {"q_lang_id": {"cols": ["lang", "n"],
                                                                  "data": rows}}}]}
                out = wl.evaluate(res, {"dirs": [d]}, con)[0]
                self.assertEqual((out.attempted, out.failed), (1, failed))

    def test_decimals_dates_and_nulls_canonicalize(self):
        con = duckdb.connect()
        sql = ("SELECT * FROM (VALUES (1, 2.5::DECIMAL(15,2), DATE '1995-01-02'), "
               "(2, 3.0::DECIMAL(15,2), NULL)) v(k, x, d)")
        good = [[None, 2, {"dec": "3.00"}], [{"date": "1995-01-02"}, 1, {"dec": "2.50"}]]
        bad = [[None, 2, {"dec": "3.01"}], [{"date": "1995-01-02"}, 1, {"dec": "2.50"}]]
        self.assertTrue(check.same(["d", "k", "x"], good, *check.duck_rows(con, sql)))
        self.assertFalse(check.same(["d", "k", "x"], bad, *check.duck_rows(con, sql)))

    def test_statement_error_counts(self):
        res = {"steps": [{"round": 0, "kind": "insert", "error": "boom"},
                         {"round": 0, "kind": "maint"}]}
        out = check.Outcome(res)
        self.assertEqual((out.attempted, out.failed), (5, 1))

    def test_floats_and_lists_canonicalize(self):
        self.assertTrue(check.same(["a", "b"], [[0.1, [1, 2]]], ["b", "a"], [([1, 2], 0.1)]))
        self.assertFalse(check.same(["a"], [[0.1]], ["a"], [[0.10000001]]))


class LayersTest(unittest.TestCase):
    def test_union(self):
        self.assertEqual(layers.union_ns([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(layers.union_ns([]), 0)

    def test_self_time(self):
        ms = layers.NS_PER_MS
        res = {"spans": [[1, 0, 1, "stmt.lookup", 0, 100 * ms],
                         [2, 1, 1, "read.sql", 0, 10 * ms],
                         [3, 1, 1, "read.exec", 20 * ms, 100 * ms]],
               "jobs": [[0, 3, 30, 70, 4, 120, 0, 0], [1, 3, 60, 90, 4, 80, 0, 0]],
               "fs": [[3, "open", 8], [2, "list", 3]]}
        t = layers.Trace(res)
        root, sql, ex = t.spans[1], t.spans[2], t.spans[3]
        self.assertEqual(t.self_ns(root), 10 * ms)   # 10..20 outside both layers
        self.assertEqual(t.self_ns(sql), 10 * ms)
        self.assertEqual(t.job_ns(ex), 60 * ms)      # 30..90 covered by jobs
        self.assertEqual(t.self_ns(ex), 20 * ms)
        self.assertEqual(t.fs_count(root, ("open", "list")), 11)


if __name__ == "__main__":
    unittest.main()
