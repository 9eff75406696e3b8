"""Result checking against DuckDB, canonicalized as tools/check_oracle.py
does: columns sorted by name, every value stringified, rows sorted."""

import datetime
import decimal
import math


def cell(v):
    """One value as a string, the same for the engine's JSON rows and for
    DuckDB's Python values."""
    if v is None:
        return "None"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, dict):  # typed scalars from the engine side
        for k in ("dec", "date", "ts"):
            if k in v:
                return v[k]
        if "float" in v:
            return str(float(v["float"]))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    return str(v)


def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(cell(r[i]) for i in order) for r in rows)


def same(cols_a, rows_a, cols_b, rows_b):
    """True when both results hold the same multiset of rows over the same
    column names."""
    if sorted(c.lower() for c in cols_a) != sorted(c.lower() for c in cols_b):
        return False
    lower_a = [c.lower() for c in cols_a]
    lower_b = [c.lower() for c in cols_b]
    return canon(lower_a, rows_a) == canon(lower_b, rows_b)


def duck_rows(con, sql):
    rel = con.sql(sql)
    return list(rel.columns), rel.fetchall()


STATEMENTS_PER_STEP = {"maint": 4}


class Outcome:
    """Statements attempted in a run, and those that threw or returned a
    wrong result. A pass of the text pipeline is one statement per row."""

    def __init__(self, res):
        self.attempted = sum(self._statements(s) for s in res["steps"])
        self.failed = 0
        self.checked = 0
        self.errors = []
        for s in res["steps"]:
            if "error" in s:
                self._fail(f"{s['kind']} round {s['round']}: {s['error']}")

    @staticmethod
    def _statements(step):
        if step["kind"] == "pass":  # the rows that ran, the failing one too
            return len(step.get("ms_by_query", {})) + ("error" in step)
        return STATEMENTS_PER_STEP.get(step["kind"], 1)

    def _fail(self, why):
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(why)

    def record(self, ok, why):
        """One statement's result checked."""
        self.checked += 1
        if not ok:
            self._fail(why)
