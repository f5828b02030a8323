#!/usr/bin/env python3
"""Run one benchmark workload against the checkout this file sits in.

    python3 perfbench/run.py --workload search --seed 1 --seconds 15 --trace 0

Set-up (session start, input generation, collection build and an
untimed warm-up) runs once; then a closed loop with one client runs
whole operations of the workload's seeded mix until ``--seconds``
seconds have passed and every operation class has run, checking every
output. The last
line of standard output is the result as JSON: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``. Scratch data lives
under ``.perfbench/work`` and is removed at exit; the run record (and
with ``--trace 1`` every span and counter) is kept under
``.perfbench/results``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("search", "curate")

# end-to-end metric -> unit; every workload reports all of them
END_TO_END = {
    "setup_s": "s",
    "round_ms": "ms",
    "peak_rss_mb": "MB",
}


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _workload(name, spark, tracer, seed, trace, state):
    if name == "search":
        from perfbench.search import Search
        return Search(spark, tracer, seed)
    from perfbench.curate import Curate
    return Curate(spark, tracer, seed, state, count_rungs=bool(trace))


def _event_log(work):
    d = os.path.join(work, "events")
    files = [os.path.join(d, f) for f in os.listdir(d) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {d}, found {files}")
    return files[0]


def run(args) -> int:
    if not os.path.isfile(os.path.join(ROOT, "tidyvec_spark", "__init__.py")):
        print(f"perfbench: no tidyvec_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(ROOT, ".perfbench", "work", f"{tag}-{os.getpid()}")
    results = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(results, exist_ok=True)
    try:
        return _run(args, tag, work, results)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, tag, work, results) -> int:
    from perfbench import host
    from perfbench.stats import median, round_at_medians
    from perfbench.tracing import Tracer
    from tidyvec_spark.session import make_session

    host.prepare_env(ROOT, work, bool(args.trace))
    cpus = len(os.sched_getaffinity(0))  # what nproc reports
    tracer = Tracer()
    ticks = host.cpu_ticks()
    spark = None
    try:
        with tracer.span("setup.session") as session:
            spark = make_session(app_name="perfbench", cpus=cpus)
            host.check_worker_imports(spark, ROOT)
        if args.trace:
            tracer.sc = spark.sparkContext
        wl = _workload(args.workload, spark, tracer, args.seed, args.trace, results)
        with tracer.span("setup.generate") as g:
            wl.generate(work)
        with tracer.span("setup.build") as b:
            wl.build(work)
        with tracer.span("setup.warmup") as w:
            wl.warmup()
        setup_s = (session.dur_ms + g.dur_ms + b.dur_ms + w.dur_ms) / 1000.0

        # whole operations only, and every class at least once
        attempted = failed = i = 0
        seen = dict.fromkeys(wl.round, 0)
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < args.seconds or not all(seen.values()):
            seen[wl.plan(i)] += 1
            try:
                oks = wl.op(i)
            except Exception:  # an operation that raises is a failed one
                traceback.print_exc()
                oks = [False]
            attempted += len(oks)
            failed += oks.count(False)
            i += 1
        loop_s = time.perf_counter() - t0
        for ok in wl.final_checks():
            attempted += 1
            failed += not ok
        rss = host.peak_rss_mb()
        record = host.run_record(spark, ROOT, args.seed, args.workload, cpus)
        record["host_steal_frac"] = host.steal_frac(ticks, host.cpu_ticks())
    except host.GuardError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 3
    finally:
        if spark is not None:
            host.stop(spark)

    ms = wl.latencies()
    metrics = {
        "setup_s": setup_s,
        "round_ms": round_at_medians(wl.round, ms),
        "peak_rss_mb": rss,
    }
    report = {k: (v, END_TO_END[k]) for k, v in metrics.items()}
    for c, xs in ms.items():
        report[f"{c}_p50_ms"] = (median(xs), "ms")
    report["items_per_s"] = (sum(n * wl.items(c) for c, n in seen.items()) / loop_s, "1/s")
    report["error_rate"] = (failed / attempted, "fraction")
    report.update(wl.report())
    units = END_TO_END
    out = {"record": record, "ops": seen, "report": report,
           "survivor_digest": getattr(wl, "digest", None)}
    if args.trace:
        from perfbench import eventlog, layers

        metrics = layers.compute(tracer, eventlog.parse_file(_event_log(work)))
        units = {name: unit for name, unit, _, _ in layers.SPECS}
        out["per_layer"] = metrics
    out["spans"] = tracer.dump()
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    for k, (v, unit) in sorted(report.items()):
        print(f"{args.workload} {k} = {v:.6g} {unit}")
    brief = {k: v for k, v in record.items() if k not in ("conf", "conf_diff_vs_engine")}
    brief["conf_diff_vs_engine"] = sorted(record["conf_diff_vs_engine"])
    print("record " + json.dumps(brief, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def main(argv=None) -> int:
    args = _parse(argv)
    try:
        return run(args)
    except Exception:
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())
