"""Per-layer numbers from a traced run.

The JVM records spans from the benchmark's own code, around its calls into
each layer: a statement (`stmt.<kind>`) is the root; under it sit
`read.sql`, `read.optimize`, `read.plan` and `read.exec` for a SELECT,
`write.sql` for a DML statement, `maint.<statement>` for maintenance and
`pipeline.<row>` for a text-pipeline row. Spark jobs hang under the span
that submitted them; filesystem calls count against the innermost open
span. The traced JVM traces the rounds an untraced JVM times; the tracing
overhead is the traced JVM's medians minus those of an untraced JVM over
the same plan.
"""

from . import stats
from .text import QUERIES

NS_PER_MS = 1_000_000
CORES = 4
# Layers whose self time is reported; spark.jobs is the union of the job
# intervals under a span, the rest are the span's own time outside its
# children and jobs.
SELF_LAYERS = ["read.sql", "read.optimize", "read.plan", "read.exec",
               "write.driver", "maint.driver", "pipeline.driver", "spark.jobs",
               "unattributed"]
READ_KINDS = ("stmt.lookup", "stmt.scan")
WRITE_KINDS = ("stmt.insert", "stmt.update", "stmt.delete", "stmt.merge")
LIST_OPS = ("list", "status", "exists")


def union_ns(intervals):
    """Total length covered by a set of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Trace:
    def __init__(self, res):
        self.spans = {s[0]: dict(id=s[0], parent=s[1], stmt=s[2], name=s[3],
                                 start=s[4], end=s[5]) for s in res.get("spans", [])}
        self.children = {}
        for s in self.spans.values():
            self.children.setdefault(s["parent"], []).append(s)
        self.jobs = {}
        for j in res.get("jobs", []):
            self.jobs.setdefault(j[1], []).append(
                dict(start=j[2] * NS_PER_MS, end=j[3] * NS_PER_MS, tasks=j[4],
                     task_ms=j[5], shuffle=j[6], spill=j[7]))
        self.fs = {}
        for span, kind, n in res.get("fs", []):
            self.fs[(span, kind)] = self.fs.get((span, kind), 0) + n
        self.roots = [s for s in self.spans.values() if s["parent"] == 0]

    def dur(self, s):
        return s["end"] - s["start"]

    def job_ns(self, s):
        """Time under span s covered by its own jobs, clipped to the span."""
        return union_ns([(max(j["start"], s["start"]), min(j["end"], s["end"]))
                         for j in self.jobs.get(s["id"], []) if j["end"] > j["start"]])

    def self_ns(self, s):
        covered = [(c["start"], c["end"]) for c in self.children.get(s["id"], [])]
        covered += [(max(j["start"], s["start"]), min(j["end"], s["end"]))
                    for j in self.jobs.get(s["id"], []) if j["end"] > j["start"]]
        return max(0, self.dur(s) - union_ns(covered))

    def subtree(self, s):
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo += self.children.get(x["id"], [])
        return out

    def stmt_jobs(self, root):
        return [j for x in self.subtree(root) for j in self.jobs.get(x["id"], [])]

    def fs_count(self, root, kinds):
        return sum(self.fs.get((x["id"], k), 0) for x in self.subtree(root) for k in kinds)

    def named(self, name):
        return [s for s in self.spans.values() if s["name"] == name]


def _layer_of(name):
    if name in ("read.sql", "read.optimize", "read.plan", "read.exec"):
        return name
    if name == "write.sql":
        return "write.driver"
    if name.startswith("maint."):
        return "maint.driver"
    if name.startswith("pipeline."):
        return "pipeline.driver"
    return "unattributed"  # a statement's own time outside every layer


def _med_ms(xs):
    return stats.median(xs) / NS_PER_MS if xs else 0.0


def per_layer(res, untraced, untraced_kinds, traced_kinds):
    """(metrics, report lines) of the traced result `res`, with the
    untraced result of the same plan as the overhead's baseline. Every
    metric is present on every workload; a layer a workload does not
    exercise reads 0."""
    t = Trace(res)
    roots = t.roots
    wall = sum(t.dur(r) for r in roots)
    reads = [r for r in roots if r["name"] in READ_KINDS]
    writes = [r for r in roots if r["name"] in WRITE_KINDS]
    m = {}

    # Self time per layer, as a share of the traced statements' wall time.
    self_ns = dict.fromkeys(SELF_LAYERS, 0)
    for s in t.spans.values():
        self_ns[_layer_of(s["name"])] += t.self_ns(s)
        self_ns["spark.jobs"] += t.job_ns(s)
    for layer in SELF_LAYERS:
        m[f"self.{layer}_frac"] = (self_ns[layer] / wall if wall else 0.0, "fraction")

    # Dialect, planning, listing and execution of SELECTs.
    for name in ("read.sql", "read.optimize", "read.plan", "read.exec"):
        m[f"{name}_ms"] = (_med_ms([t.dur(s) for s in t.named(name)]), "ms")
    shards = [s["shards"] for s in res["steps"] if s.get("shards", "").startswith("Shards: ")
              and "/" in s["shards"] and "-" not in s["shards"]]
    fracs = [int(a) / int(b) for a, b in (x[len("Shards: "):].split("/") for x in shards)]
    m["prune.buckets_read_frac"] = (sum(fracs) / len(fracs) if fracs else 0.0, "fraction")
    n_reads = max(1, len(reads))
    m["fs.list_ops_per_read"] = (sum(t.fs_count(r, LIST_OPS) for r in reads) / n_reads, "count")
    m["fs.opens_per_read"] = (sum(t.fs_count(r, ("open",)) for r in reads) / n_reads, "count")

    # Spark execution, over every traced statement.
    jobs = [j for r in roots for j in t.stmt_jobs(r)]
    n_stmts = max(1, len(roots))
    m["spark.jobs_per_stmt"] = (len(jobs) / n_stmts, "count")
    m["spark.tasks_per_stmt"] = (sum(j["tasks"] for j in jobs) / n_stmts, "count")
    m["spark.shuffle_write_bytes_per_stmt"] = (sum(j["shuffle"] for j in jobs) / n_stmts, "B")
    m["spark.spill_bytes"] = (float(sum(j["spill"] for j in jobs)), "B")
    m["spark.task_busy_frac"] = (
        sum(j["task_ms"] for j in jobs) * NS_PER_MS / (wall * CORES) if wall else 0.0,
        "fraction")

    # The write path: driver time is a statement's wall time outside its
    # Spark jobs.
    job_ns = [union_ns([(j["start"], j["end"]) for j in t.stmt_jobs(r)]) for r in writes]
    m["write.job_ms"] = (_med_ms(job_ns), "ms")
    m["write.driver_ms"] = (_med_ms([t.dur(r) - j for r, j in zip(writes, job_ns)]), "ms")
    n_writes = max(1, len(writes))
    for kind in ("create", "rename", "delete", "mkdirs"):
        m[f"fs.{kind}_per_write"] = (sum(t.fs_count(r, (kind,)) for r in writes) / n_writes,
                                     "count")
    m["fs.list_ops_per_write"] = (sum(t.fs_count(r, LIST_OPS) for r in writes) / n_writes,
                                  "count")
    dml = [s for s in res["steps"] if "files_written" in s and s["timed"]]
    n_dml = max(1, len(dml))
    m["write.files_per_stmt"] = (sum(s["files_written"] for s in dml) / n_dml, "count")
    m["write.bytes_per_stmt"] = (sum(s["bytes_written"] for s in dml) / n_dml, "B")

    # Commit, archive and maintenance.
    maint = [s for s in res["steps"] if s["kind"] == "maint" and s["timed"] and "ms" in s]
    last = maint[-1] if maint else {}
    vac = (last.get("vacuum") or {}).get("data") or [[0, 0]]
    m["commit.manifest_bytes"] = (float(res.get("manifest_bytes", 0)), "B")
    m["commit.versions_retained"] = (float(last.get("versions_retained", 0)), "count")
    m["archive.files_retained"] = (float(last.get("archive_files_before", 0)), "count")
    m["archive.bytes_retained"] = (float(last.get("archive_bytes_before", 0)), "B")
    for name in ("optimize", "history", "restore", "vacuum"):
        xs = [s[f"{name}_ms"] for s in maint]
        m[f"maint.{name}_ms"] = (stats.median(xs) if xs else 0.0, "ms")
    m["vacuum.files_deleted"] = (float(vac[0][1]), "count")

    # Text operators: each row's time in traced passes.
    for q in QUERIES:
        m[f"pipeline.{q}_ms"] = (_med_ms([t.dur(s) for s in t.named(f"pipeline.{q}")]), "ms")

    m["jvm.gc_frac"] = (res["gc_ms"] / (res["measured_s"] * 1000.0), "fraction")

    # Tracing overhead: the traced JVM's rounds against the untraced JVM's.
    tr = [r["stmt_ms"] for r in res["rounds"]]
    un = [r["stmt_ms"] for r in untraced["rounds"]]
    over = stats.median(tr) - stats.median(un) if tr and un else 0.0
    m["overhead.round_ms"] = (over, "ms")
    m["overhead.round_frac"] = (over / stats.median(un) if tr and un else 0.0, "fraction")

    lines = [f"traced statements: {len(roots)}, wall {wall / 1e9:.2f} s; self time by layer:"]
    for layer in SELF_LAYERS:
        lines.append(f"  {layer:18s} {self_ns[layer] / 1e9:9.3f} s "
                     f"{100.0 * self_ns[layer] / wall if wall else 0:6.1f} %")
    lines.append("tracing overhead (traced median - untraced median):")
    for kind in sorted(set(untraced_kinds) & set(traced_kinds)):
        a, b = stats.median(traced_kinds[kind]), stats.median(untraced_kinds[kind])
        lines.append(f"  {kind + '_p50_ms':18s} {a - b:+10.3f} ms (traced n={len(traced_kinds[kind])}, "
                     f"untraced n={len(untraced_kinds[kind])})")
    lines.append(f"  {'round_ms':18s} {over:+10.3f} ms (traced n={len(tr)}, untraced n={len(un)})")
    lines.append("per-layer metrics:")
    for k, (v, unit) in m.items():
        lines.append(f"  {k:40s} {v:16.4f} {unit}")
    return m, lines
