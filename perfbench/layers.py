"""The per-layer metrics of a traced run.

Every traced run reports the whole table below, whatever its workload:
a layer the workload does not call reads 0 (no spans, no jobs), which
is also the prediction for it — e.g. ``operators.nearest.*`` on
``curate``. Per-operation figures are medians over the run's spans of
that name; ratios are means. Spans are named after the library module
and function they wrap; ``<layer>.build`` is the wall of the call
itself (planning plus any job it runs eagerly), ``<layer>.run`` the
wall of the terminal action on its result.
"""

from __future__ import annotations

from typing import Callable, Optional

from perfbench.eventlog import EventLog
from perfbench.stats import median
from perfbench.tracing import Tracer

# (metric, unit, better, how): how is ("dur", span) | ("ctr", span,
# counter) | ("attr", span, key) | ("driver_only",)
Spec = tuple[str, str, str, tuple]


def _layer(span: str, counters: dict[str, str], build: Optional[str] = ".build",
           run: Optional[str] = ".run") -> list[Spec]:
    """build_ms / run_ms timed by the child spans ``span + build`` /
    ``span + run`` (None: not reported; "": the span itself), counters
    summed over the span's whole subtree."""
    out: list[Spec] = []
    if build is not None:
        out.append((f"{span}.build_ms", "ms", "lower", ("dur", span + build)))
    if run is not None:
        out.append((f"{span}.run_ms", "ms", "lower", ("dur", span + run)))
    for c, unit in counters.items():
        out.append((f"{span}.{c}", unit, "lower", ("ctr", span, c)))
    return out


_JT = {"jobs": "count", "tasks": "count"}

SPECS: list[Spec] = [
    ("setup.session_ms", "ms", "lower", ("dur", "setup.session")),
    ("setup.generate_ms", "ms", "lower", ("dur", "setup.generate")),
    ("setup.build_ms", "ms", "lower", ("dur", "setup.build")),
    ("setup.warmup_ms", "ms", "lower", ("dur", "setup.warmup")),
    ("driver_only_ms", "ms", "lower", ("driver_only",)),
    # search
    *_layer("operators.nearest.exact", dict(
        _JT, exec_cpu_ms="ms", exec_wait_ms="ms", rows_scanned="rows")),
    *_layer("operators.nearest.approx", dict(
        _JT, exec_cpu_ms="ms", rows_scanned="rows", files_read="count")),
    ("operators.nearest.approx.recall_at_k", "fraction", "higher",
     ("attr", "operators.nearest.approx", "recall_at_k")),
    *_layer("embedders.tfidf.search", dict(
        _JT, exec_cpu_ms="ms", shuffle_write_bytes="bytes", spill_bytes="bytes")),
    # ingest
    ("ingest.batch_ms", "ms", "lower", ("dur", "ingest.batch")),
    *_layer("streaming.pipelines.ingest_dedup_stream", dict(
        _JT, exec_cpu_ms="ms", exec_wait_ms="ms", shuffle_write_bytes="bytes"),
        build=None),
    ("streaming.pipelines.ingest_dedup_stream.admit_frac", "fraction", "higher",
     ("attr", "streaming.pipelines.ingest_dedup_stream", "admit_frac")),
    *_layer("sources.vec_io.write_vec", dict(
        _JT, exec_cpu_ms="ms", exec_wait_ms="ms", files_written="count",
        bytes_written="bytes"), build=None),
    ("sources.vec_io.write_vec.rows_per_file", "rows/file", "higher",
     ("ctr", "sources.vec_io.write_vec", "rows_per_file")),
    *_layer("sources.vec_io.read_vec", {"files_read": "count"}, build=None),
    # curate: the eager-construction ladder; each rung's span is the call
    *_layer("operators.dedup.near_dup_groups", dict(
        _JT, exec_cpu_ms="ms", shuffle_write_bytes="bytes", spill_bytes="bytes"),
        build="", run=None),
    *[
        spec
        for rung in ("operators.dedup.drop_exact_dups",
                     "operators.dedup.dedup_lines_global",
                     "operators.dedup.substring_dedup_cut",
                     "operators.dedup.drop_near_dups_keep_best",
                     "operators.sampling.temperature_sample")
        for spec in _layer(rung, {"jobs": "count"}, build="", run=None)
    ],
    *_layer("ladder.write", dict(
        _JT, stages="count", exec_cpu_ms="ms", exec_wait_ms="ms", gc_ms="ms",
        shuffle_write_bytes="bytes", shuffle_read_bytes="bytes",
        spill_bytes="bytes", stage_skew="ratio"), build=None),
    *[
        (f"ladder.rows.{r}", "rows", "higher", ("attr", "curate.pass", f"rows_{r}"))
        for r in ("input", "after_quality", "after_exact", "after_near_dup", "output")
    ],
    ("ladder.exact_removed_frac", "fraction", "higher",
     ("attr", "curate.pass", "exact_removed_frac")),
    ("ladder.near_dup_recall", "fraction", "higher",
     ("attr", "curate.pass", "near_dup_recall")),
    ("ladder.construction_frac", "fraction", "lower",
     ("attr", "curate.pass", "construction_frac")),
]

# the span that times one request of each workload
OP_SPANS = ("search.query", "ingest.batch", "curate.pass")


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def compute(tracer: Tracer, log: EventLog) -> dict[str, float]:
    """Every metric of :data:`SPECS` from the run's spans and event log."""
    log.regroup({s.id for s in tracer.spans}, tracer.innermost)
    ctr_cache: dict[str, list[dict[str, float]]] = {}

    def ctrs(name: str) -> list[dict[str, float]]:
        if name not in ctr_cache:
            ctr_cache[name] = [
                log.counters(tracer.subtree_ids(s)) for s in tracer.named(name)
            ]
        return ctr_cache[name]

    jobs = log.job_intervals()
    ops = [s for name in OP_SPANS for s in tracer.named(name)]
    how: dict[str, Callable[..., float]] = {
        "dur": lambda span: median([s.dur_ms for s in tracer.named(span)] or [0.0]),
        "ctr": lambda span, c: median([x[c] for x in ctrs(span)] or [0.0]),
        "attr": lambda span, key: _mean(
            [s.attrs[key] for s in tracer.named(span) if key in s.attrs]
        ),
        "driver_only": lambda: median(
            [tracer.driver_only_ms(s, jobs) for s in ops] or [0.0]
        ),
    }
    return {name: float(how[h[0]](*h[1:])) for name, _, _, h in SPECS}
