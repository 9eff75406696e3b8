#!/usr/bin/env python3
"""The engine benchmark: one seeded workload in a fresh JVM, checked results.

    python3 perfbench/run.py --workload dml_k16 --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run compiles the engine and the
benchmark with sbt (offline); later runs reuse the build while the sources
are unchanged. Human-readable lines go to stdout first; the last line of
stdout is one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, from a traced JVM run after the untraced one. See
perfbench/README.md.
"""

import argparse
import json
import os
import shutil
import signal
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import jvm, layers, stats  # noqa: E402
from bench.workloads import WORKLOADS  # noqa: E402

DEADLINE_S = 170  # a run after the build, checks included, ends within 180 s


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def end_to_end(res, setup_s):
    """The gated metrics, which every workload has: set-up time, and the
    median time of one round of the workload's statement mix (the sum of
    its statements' latencies)."""
    rounds = [r["stmt_ms"] for r in res["rounds"]]
    if not rounds:
        raise jvm.BenchError("no timed round completed")
    return {
        "setup_s": (setup_s, "s", 1),
        "round_ms": (stats.median(rounds), "ms", len(rounds)),
    }


def kind_latencies(res):
    """Per statement kind: the timed samples of a run."""
    out = {}
    for s in res["steps"]:
        if s["timed"] and "ms" in s and "error" not in s:
            out.setdefault(s["kind"], []).append(s["ms"])
    return out


def run_jvm(cp, plan, work, traced, t0):
    """One benchmark JVM over the plan, in a directory of its own under the
    run's scratch root; returns what it measured."""
    d = os.path.join(work, "traced" if traced else "untraced")
    os.makedirs(d)
    plan = dict(plan, trace=traced, work=d)
    plan_file, result_file = os.path.join(d, "plan.json"), os.path.join(d, "result.json")
    with open(plan_file, "w") as f:
        json.dump(plan, f)
    jvm.run(cp, plan_file, result_file, d, traced, DEADLINE_S - (time.time() - t0) - 10)
    with open(result_file) as f:
        return json.load(f)


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    try:
        import duckdb
    except ImportError:
        log("python duckdb is required for the result checks")
        return 2
    wl = WORKLOADS[args.workload]
    try:
        cp = jvm.classpath(log)
    except (jvm.BenchError, OSError) as e:
        log(f"cannot build the benchmark: {e}")
        return 2

    t0 = time.time()  # set-up starts once the program is built
    work = os.path.join(jvm.build_dir(), f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))
    # A fixed number of timed rounds, so that both sides of a comparison
    # time the same rounds whatever the host's speed.
    n_timed = max(1, round(args.seconds / wl.round_s))
    try:
        con = duckdb.connect()
        plan, ctx = wl.prepare(args.seed, n_timed, work, con)
        plan["warmup_rounds"] = wl.warmup_rounds
        # The end-to-end numbers always come from an untraced JVM; a traced
        # run adds a second JVM over the same plan, which differs only in
        # its tracing, for the per-layer numbers and the tracing overhead.
        res = run_jvm(cp, plan, work, False, t0)
        tres = run_jvm(cp, plan, work, True, t0) if args.trace else None
        out, extra = wl.evaluate(res, ctx, con)
        outcomes = [out] + ([wl.evaluate(tres, ctx, con)[0]] if tres else [])
    except jvm.BenchError as e:
        log(str(e))
        return 2
    finally:
        shutil.rmtree(work, ignore_errors=True)

    launch_s = res["session_ready_ms"] / 1000.0 - t0
    setup_s = res["warm_ms"] / 1000.0 - t0
    kinds = kind_latencies(res)
    try:
        e2e = end_to_end(res, setup_s)
    except jvm.BenchError as e:
        log(str(e))
        return 2
    extra["peak_rss_mb"] = (res["peak_rss_kb"] / 1024.0, "MB", 1)
    attempted = sum(o.attempted for o in outcomes)
    failed = sum(o.failed for o in outcomes)

    print(f"workload {wl.name} seed {args.seed} trace {args.trace}: "
          f"{wl.warmup_rounds} warm-up and {n_timed} timed rounds, "
          f"{res['measured_s']:.1f} s measured; set-up {setup_s:.2f} s: inputs and "
          f"launch {launch_s:.2f} s, build {res['build_s']:.2f} s, "
          f"warm-up {res['warmup_s']:.2f} s")
    for name, (v, unit, n) in list(e2e.items()) + list(extra.items()):
        print(f"  {name:28s} {v:14.4f} {unit:8s} n={n}")
    for kind, xs in sorted(kinds.items()):
        if kind in ("maint", "pass"):  # reported by the workload as rounds
            continue
        s = stats.summary(xs)
        for q in (50, 90):
            if "p%d" % q in s:
                print(f"  {kind + '_p%d_ms' % q:28s} {s['p%d' % q]:14.4f} {'ms':8s} n={s['n']}")
    print(f"  {'error_rate':28s} {failed / max(1, attempted):14.4f} "
          f"{'fraction':8s} n={attempted}")
    for o in outcomes:
        for e in o.errors:
            print(f"  ERROR {e}")
    print(f"  verdict: {'correct' if failed == 0 else 'WRONG'} "
          f"({attempted} statements, {sum(o.checked for o in outcomes)} results checked, "
          f"{failed} failed)")

    if args.trace:
        metrics, lines = layers.per_layer(tres, res, kinds, kind_latencies(tres))
        for line in lines:
            print("  " + line)
    else:
        metrics = e2e
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v[0], "unit": v[1]} for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
