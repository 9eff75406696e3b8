"""dml_k16: one 16-bucket distributed table under a rotation of wide
INSERT, UPDATE, DELETE and MERGE statements, each touching every bucket and
followed by a pruned read-back; each round ends with an aggregate scan and
maintenance (OPTIMIZE, DESCRIBE HISTORY, RESTORE, VACUUM RETAIN 0 HOURS).

Every row value is integer arithmetic on the row's key, so an in-memory
model computes exactly what the engine must return. The statement list is
made by running that model forward from the seed; the model's expected
read-back rows, scan aggregates and table checksums ride along in the plan
and are compared after the run.
"""

import datetime
import random

from . import check, stats

TABLE = "orders_w"
BUCKETS = 16
ROWS = 150_000
INSERT_ROWS = 1000  # new keys per INSERT
MERGE_ROWS = 1000   # MERGE source rows, half of them matched
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EPOCH = datetime.date(1992, 1, 1)
COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"]


def exprs(salt):
    """Spark SQL for a row from its key `id`; `salt` varies the price."""
    return (f"id AS o_orderkey, (id * 7919) % 15000 + 1 AS o_custkey, "
            f"substr('OFP', CAST(id % 3 AS INT) + 1, 1) AS o_orderstatus, "
            f"CAST((id * 104729 + {salt}) % 500000 AS DOUBLE) AS o_totalprice, "
            f"date_add(DATE '1992-01-01', CAST((id * 37) % 2405 AS INT)) AS o_orderdate, "
            f"element_at(array({', '.join(repr(p) for p in PRIORITIES)}), "
            f"CAST((id * 13) % 5 AS INT) + 1) AS o_orderpriority")


def row(i, salt=0):
    """The model's row for key i: dates as days since 1992-01-01."""
    return (i, (i * 7919) % 15000 + 1, "OFP"[i % 3],
            float((i * 104729 + salt) % 500000), (i * 37) % 2405,
            PRIORITIES[(i * 13) % 5])


def fingerprint(r):
    """Per-row term of the table checksum; CHECKSUM_SQL computes the same."""
    return (r[0] * 1000003 + r[1] * 10007 + int(r[3]) * 101 + ord(r[2]) * 7
            + r[4] * 3 + int(r[5][0]))


def as_result(r):
    """A model row as the engine returns it."""
    return list(r[:4]) + [(EPOCH + datetime.timedelta(days=r[4])).isoformat(), r[5]]


CHECKSUM_SQL = (
    f"SELECT count(*) AS n, sum(o_orderkey * 1000003 + o_custkey * 10007 "
    f"+ CAST(o_totalprice AS BIGINT) * 101 + ascii(o_orderstatus) * 7 "
    f"+ datediff(o_orderdate, DATE '1992-01-01') * 3 "
    f"+ CAST(substr(o_orderpriority, 1, 1) AS BIGINT)) AS fp FROM {TABLE}")
SCAN_SQL = (f"SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total "
            f"FROM {TABLE} GROUP BY o_orderstatus")


class Model:
    """The table as the engine must hold it, with an undo log for the last
    statement (RESTORE goes back to before it)."""

    def __init__(self, n):
        self.rows = {}
        self.by_cust = {}
        self.by_status = {}
        self.fp = 0
        self.undo = []
        for i in range(1, n + 1):
            self._put(row(i))
        self.undo = []

    def _put(self, r):
        old = self.rows.get(r[0])
        self.undo.append((r[0], old))
        if old is not None:
            self._count(old, -1)
        else:
            self.by_cust.setdefault(r[1] % 100, set()).add(r[0])
        self.rows[r[0]] = r
        self._count(r, 1)

    def _count(self, r, sign):
        self.fp += sign * fingerprint(r)
        n, t = self.by_status.get(r[2], (0, 0.0))
        self.by_status[r[2]] = (n + sign, t + sign * r[3])

    def _drop(self, k):
        old = self.rows.pop(k)
        self.undo.append((k, old))
        self._count(old, -1)
        self.by_cust[old[1] % 100].discard(k)

    def begin(self):
        self.undo = []

    def insert(self, keys, salt=0):
        for k in keys:
            self._put(row(k, salt))

    def update(self, keys):
        for k in keys:
            r = self.rows[k]
            self._put((r[0], r[1], "U", r[3] + 1, r[4], r[5]))

    def delete(self, keys):
        for k in keys:
            self._drop(k)

    def merge(self, keys, salt):
        for k in keys:
            src = row(k, salt)
            if k in self.rows:
                r = self.rows[k]
                self._put((r[0], r[1], "M", src[3], r[4], r[5]))
            else:
                self._put(src)

    def revert(self):
        """Undo the last statement, newest change first."""
        log, self.undo = self.undo, []
        for k, old in reversed(log):
            if k in self.rows:
                self._drop(k)
            if old is not None:
                self._put(old)
        self.undo = []

    def where_cust(self, r):
        return sorted(self.by_cust.get(r, ()))

    def checksum(self):
        return [len(self.rows), self.fp]

    def scan(self):
        return [[s, n, t] for s, (n, t) in sorted(self.by_status.items()) if n]

    def lookup(self, keys):
        return [as_result(self.rows[k]) for k in keys if k in self.rows]


def _in(keys):
    return ", ".join(str(k) for k in keys)


def generate(seed, n_rounds):
    """The seeded plan rounds, with the model's expectations attached."""
    rng = random.Random(seed * 1000 + BUCKETS)
    m = Model(ROWS)
    next_key = ROWS + 1
    rounds = []
    for rn in range(n_rounds):
        steps = []
        # A fixed order: a statement's cost depends on the files per bucket
        # its predecessors left, so a seeded order would make the seed a
        # cost knob. Every seed walks the same trajectory of versions and
        # files; the seed picks keys, predicates and merge ranges.
        for kind in ("insert", "update", "delete", "merge"):
            m.begin()
            if kind == "insert":
                keys = list(range(next_key, next_key + INSERT_ROWS))
                next_key += len(keys)
                sql = (f"INSERT INTO {TABLE} SELECT {exprs(0)} "
                       f"FROM range({keys[0]}, {keys[-1] + 1})")
                m.insert(keys)
                probe = [keys[0], keys[-1]]
            elif kind in ("update", "delete"):
                r = rng.randrange(100)
                keys = m.where_cust(r)
                where = f"o_custkey % 100 = {r}"
                if kind == "update":
                    sql = (f"UPDATE {TABLE} SET o_totalprice = o_totalprice + 1, "
                           f"o_orderstatus = 'U' WHERE {where}")
                    m.update(keys)
                else:
                    sql = f"DELETE FROM {TABLE} WHERE {where}"
                    m.delete(keys)
                probe = keys[:2]
            else:
                half = MERGE_ROWS // 2
                salt = 7 * rn + 3
                start = rng.randrange(1, next_key - half)
                new = list(range(next_key, next_key + half))
                next_key += half
                keys = list(range(start, start + half)) + new
                sql = (f"MERGE INTO {TABLE} t USING (SELECT {exprs(salt)} "
                       f"FROM range({start}, {start + half}) UNION ALL SELECT "
                       f"{exprs(salt)} FROM range({new[0]}, {new[-1] + 1})) s "
                       f"ON t.o_orderkey = s.o_orderkey "
                       f"WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice, "
                       f"o_orderstatus = 'M' WHEN NOT MATCHED THEN INSERT *")
                m.merge(keys, salt)
                probe = [start, new[0]]
            rows_touched = len(keys)
            probe = probe + [rng.randrange(1, next_key)]
            steps.append({"kind": kind, "sql": sql, "rows_touched": rows_touched})
            steps.append({"kind": "lookup", "check": f"r{rn}.{kind}",
                          "sql": f"SELECT * FROM {TABLE} WHERE o_orderkey IN ({_in(probe)})",
                          "expect": {"cols": COLS, "data": m.lookup(probe)}})
        steps.append({"kind": "scan", "check": f"r{rn}.scan", "sql": SCAN_SQL,
                      "expect": {"cols": ["o_orderstatus", "n", "total"],
                                 "data": m.scan()}})
        # Maintenance ends every round. RESTORE goes back past OPTIMIZE's
        # version and the last DML statement's: the model undoes that
        # statement.
        m.revert()
        steps.append({"kind": "maint", "table": TABLE, "restore_back": 2})
        steps.append({"kind": "checksum", "check": f"r{rn}.restore", "sql": CHECKSUM_SQL,
                      "expect": {"cols": ["n", "fp"], "data": [m.checksum()]}})
        rounds.append(steps)
    return rounds, m


class DmlK16:
    name = "dml_k16"
    warmup_rounds = 1
    round_s = 13  # about one round's time on a 4-core host: --seconds 10 times one

    def prepare(self, seed, n_timed, work, con):
        rounds, _ = generate(seed, self.warmup_rounds + n_timed)
        plan = {
            "tables": [{"name": TABLE, "key": "o_orderkey", "buckets": BUCKETS,
                        "load_sql": f"SELECT {exprs(0)} FROM range(1, {ROWS + 1})"}],
            # The plan's expectations stay on this side; the JVM gets the SQL.
            "rounds": [[{k: v for k, v in s.items() if k != "expect"} for s in r]
                       for r in rounds],
            "final": [{"kind": "checksum", "sql": CHECKSUM_SQL}],
        }
        return plan, {"rounds": rounds, "seed": seed}

    def evaluate(self, res, ctx, con):
        out = check.Outcome(res)
        expect = {s["check"]: s["expect"] for r in ctx["rounds"] for s in r
                  if "check" in s}
        done = max((s["round"] for s in res["steps"]), default=-1)
        for s in res["steps"]:
            if "rows" in s and s.get("check") in expect:
                e = expect[s["check"]]
                rows = s["rows"]["data"]
                ok = check.same(s["rows"]["cols"], rows, e["cols"], e["data"])
                out.record(ok, f"{s['kind']} {s['check']}: engine {rows[:3]} "
                               f"!= model {e['data'][:3]}")
        # The final state: the table checksum after the last executed round.
        last = [s for s in res["steps"] if s["round"] == -1 and "rows" in s]
        if last and done >= 0:
            m = generate(ctx["seed"], done + 1)[1]
            rows = last[-1]["rows"]["data"]
            ok = check.same(last[-1]["rows"]["cols"], rows, ["n", "fp"], [m.checksum()])
            out.record(ok, f"final checksum: engine {rows} != model {m.checksum()}")
        return out, report(res, ctx["rounds"])


def report(res, plan_rounds):
    """The workload's own end-to-end numbers, from timed steps."""
    timed = [s for s in res["steps"] if s["timed"] and "error" not in s]
    touched = {(r, s["kind"]): s["rows_touched"] for r, steps in enumerate(plan_rounds)
               for s in steps if "rows_touched" in s}
    writes = [s for s in timed if "bytes_written" in s]
    rows = sum(touched[(s["round"], s["kind"])] for s in writes)
    maint = [s for s in timed if s["kind"] == "maint"]
    out = {}
    if writes and rows:
        out["write_bytes_per_row"] = (sum(s["bytes_written"] for s in writes) / rows,
                                      "B/row", len(writes))
    if maint:
        out["maint_round_ms"] = (stats.median([s["ms"] for s in maint]), "ms", len(maint))
        per_version = [s["archive_bytes_before"] / s["versions_retained"] for s in maint
                       if s.get("versions_retained")]
        if per_version:
            out["retained_bytes_per_version"] = (stats.median(per_version), "B",
                                                 len(per_version))
    return out


