#!/usr/bin/env python3
"""Engine benchmark: run one workload with one seed and print its result.

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads: build, search, ingest, dedup
(perfbench/README.md says what each drives and why). With ``--trace 0``
the last stdout line is a JSON object whose metrics are the end-to-end
metrics of BENCHMARK.json; with ``--trace 1`` they are the per-layer
metrics, derived from spans recorded around every call into a layer.
The lines above it repeat the figures by their workload-specific names,
with the host facts and every failed operation. Each run also writes a
record (and, traced, every span) to ``.bench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# The end-to-end metrics of BENCHMARK.json, with their units. An "op" is
# one query on search and ingest, one build on build, one pipeline pass
# on dedup. Latency and task CPU are printed, not reported: on a shared
# 4-core host they spread by up to 27% across ten seeds
# (perfbench/README.md).
E2E_UNITS = {
    "setup_s": "s",
    "jobs_per_op": "count",
    "peak_rss_mb": "MB",
    "bytes_per_doc": "B",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("build", "search", "ingest", "dedup"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def closed_loop(seconds: float, step) -> float:
    """Call ``step(i)`` back to back until ``seconds`` have passed (at
    least once); returns the wall time of the loop."""
    t0 = time.perf_counter()
    i = 0
    while True:
        step(i)
        i += 1
        if time.perf_counter() - t0 >= seconds:
            return time.perf_counter() - t0


def execute(engine, args, cfg) -> dict:
    from perfbench import harness, layers
    from perfbench.workloads import WORKLOADS, Run

    spark = engine.spark
    rec = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": harness.host_facts(),
        "settings": {**cfg["env"], **cfg["conf"]},
    }
    rec["canary_before_s"] = engine.canary_s()
    ticks0 = harness.cpu_ticks()
    counters = harness.Counters(spark)
    tr = harness.Tracer(counters if args.trace else None)
    run = Run(spark, tr, args.seed, cfg["data"])
    w = WORKLOADS[args.workload](run)

    tr.phase = "setup"
    t0 = time.perf_counter()
    w.generate()
    t1 = time.perf_counter()
    w.prebuild()
    t2 = time.perf_counter()
    w.warm()
    t3 = time.perf_counter()
    setup_s = engine.start_s + (t3 - t0)
    rec["setup"] = {
        "session_s": engine.start_s, "generate_s": t1 - t0,
        "prebuild_s": t2 - t1, "warm_s": t3 - t2,
    }

    tr.phase = "loop"
    bk0 = tr.bookkeeping_s
    first_job = counters.mark()
    loop_s = closed_loop(args.seconds, w.step)
    loop_bookkeeping_s = tr.bookkeeping_s - bk0
    rec["peak_rss_mb"] = peak = engine.peak_rss_mb()
    loop_spark = counters.since(first_job)
    rec["loop_spark"] = loop_spark

    tr.phase = "check"
    t0 = time.perf_counter()
    w.finish()
    rec["finish_s"] = time.perf_counter() - t0
    rec["loop_s"] = loop_s
    e2e = None
    if w.completed():
        e2e = {"setup_s": setup_s, "peak_rss_mb": sum(peak.values()), **w.e2e()}
        e2e["jobs_per_op"] = loop_spark["jobs"] / w.ops()
        e2e["task_cpu_s_per_op"] = loop_spark["task_cpu_s"] / w.ops()
    rec["e2e"] = e2e
    if hasattr(w, "detail"):
        rec["detail"] = w.detail()
    rec["aliases"] = w.aliases() if e2e else []

    if args.trace:
        tr.phase = "tour"
        ws = layers.tour(run, w)
        corpus = getattr(w, "corpus", None) or ws["build"].corpus
        layers.arrowtf_probe(run, corpus)
        wand = layers.wand_compare(run, ws["search"])
        rec["wand"] = wand
        rec["metrics"] = layers.per_layer(
            tr, engine.start_s, ws, wand, loop_bookkeeping_s / loop_s
        )
        rec["layer_table"] = tr.layer_table()
        rec["spans"] = tr.spans
    else:
        rec["metrics"] = e2e and {k: e2e[k] for k in E2E_UNITS}
    ticks1 = harness.cpu_ticks()
    rec["cpu_ticks"] = {k: ticks1[k] - ticks0[k] for k in ticks0}
    rec["canary_after_s"] = engine.canary_s()
    rec["attempted"], rec["failures"] = run.attempted, run.failures
    rec["tracebacks"] = run.tracebacks
    return rec


def report(rec, out) -> int:
    def say(*a):
        print(*a, file=out)

    h, t = rec["host"], rec["cpu_ticks"]
    steal = t["steal"] / max(1, sum(t.values()))
    say(f"workload={rec['workload']} seed={rec['seed']} seconds={rec['seconds']} trace={rec['trace']}")
    say(
        f"host nproc={h['nproc']} mem_total_mb={h['mem_total_mb']} "
        f"loadavg_1m={h['loadavg_1m']} canary_before_s={rec['canary_before_s']:.3f} "
        f"canary_after_s={rec['canary_after_s']:.3f} cpu_steal_share={steal:.3f}"
    )
    for name, value, unit in rec["aliases"]:
        say(f"{name} {value:.6g} {unit}")
    if rec["e2e"]:
        say(f"task_cpu_s_per_op {rec['e2e']['task_cpu_s_per_op']:.6g} s")
    failed = len(rec["failures"])
    say(
        f"error_rate {failed / rec['attempted']:.6g} ratio "
        f"({failed} of {rec['attempted']} operations failed)"
    )
    for key, cause in sorted(rec["failures"].items()):
        say(f"failed {key}: {cause}")
    for k, share in rec.get("trace_overhead", {}).items():
        say(f"trace_overhead {k} {share:+.3%} vs the untraced run of this seed")
    if rec["metrics"] is None:
        say("no metrics: no operation completed")
        return 1
    from perfbench.layers import unit_of

    metrics = {
        k: {"value": float(v), "unit": E2E_UNITS.get(k) or unit_of(k)}
        for k, v in rec["metrics"].items()
    }
    say(json.dumps({
        "correct": failed == 0,
        "attempted": rec["attempted"],
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "elasticsearch_assets_spark", "session.py")):
        print("perfbench: the engine package is not in this checkout", file=sys.stderr)
        return 2
    # the JVM and its logs inherit fd 1: keep stdout for the result only
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.path.insert(0, ROOT)
    from perfbench import harness

    cfg = harness.configure(ROOT)
    engine = harness.Engine(cfg["conf"])
    try:
        rec = execute(engine, args, cfg)
    finally:
        engine.close()
    outdir = os.path.join(ROOT, ".bench_out")
    os.makedirs(outdir, exist_ok=True)
    plain = os.path.join(outdir, f"{args.workload}-seed{args.seed}-trace0.json")
    if args.trace and rec["e2e"] and os.path.exists(plain):
        # tracing overhead: the same seed's end-to-end metrics, traced
        # against untraced
        with open(plain) as f:
            base = json.load(f).get("e2e") or {}
        rec["trace_overhead"] = {
            k: rec["e2e"][k] / v - 1 for k, v in base.items() if v
        }
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(outdir, name), "w") as f:
        json.dump(rec, f, default=str)
    code = report(rec, out)
    out.flush()
    return code


if __name__ == "__main__":
    sys.exit(main())
