"""``curate``: dedup on the way in and in batch, one client.

The client works through seeded rounds of operations in shuffled order
(``gen.CURATE_ROUND``: two ingest batches, one ladder pass), each about
half of a round's time:

- ``ingest``: a landing-zone batch drained through the streaming dedup,
  embedded and appended to a live LSH collection (:mod:`perfbench.ingest`);
- ``ladder``: one batch pass of the pretraining curation ladder over a
  fixed corpus (:class:`Ladder`).

For the ladder, the benchmark composes the library's public calls the way
``__spark_entry__._dedup_ladder_frames`` does: a ``gopher_keep``
quality filter, exact dedup, within-doc and global line dedup, the
substring cut, near-dup grouping with keep-best, temperature sampling
by source, and a parquet write. The components run eagerly, so this workload is shuffle- and
construction-heavy and has no per-query fixed cost.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.ingest import Ingest

_RUNGS = ("input", "after_quality", "after_exact", "after_near_dup", "output")


class Ladder:
    op_span = "curate.pass"

    def __init__(self, spark, tracer, seed: int, state_dir: str,
                 count_rungs: bool = False):
        self.spark, self.tracer, self.seed = spark, tracer, seed
        # survivor digests of earlier runs, by seed
        self.digest_path = os.path.join(state_dir, f"curate-s{seed}.digest")
        # rung row counts (traced runs only): one count job per rung after
        # each timed pass, while its cache is live. DataFrame.observe would
        # add no job, but Spark 4.1 returns an empty metrics row for an
        # observed frame whose first execution is an eager construction
        # job, which is the case for every rung above the near-dup step.
        self.count_rungs = count_rungs
        self.near_dup_recall = None

    # -- setup ------------------------------------------------------
    def generate(self, d: str) -> None:
        self.inp = gen.curate_inputs(self.seed)
        self.corpus = os.path.join(d, "corpus.parquet")
        pq.write_table(
            pa.table({
                "doc_id": pa.array(self.inp.ids, type=pa.int64()),
                "source": pa.array(self.inp.sources),
                "text": pa.array(self.inp.texts),
            }),
            self.corpus,
        )

    def build(self, d: str) -> None:
        # nothing to index: the "collection" is the raw corpus, checked
        # to read back whole
        self.out_root = os.path.join(d, "out")
        n = self.spark.read.parquet(self.corpus).count()
        if n != len(self.inp.ids):
            raise RuntimeError(f"corpus reads back {n} rows, wrote {len(self.inp.ids)}")

    def warmup(self) -> None:
        # two full passes, untimed: the first pass of a session is about
        # twice as slow as a warm one and the second still varies with
        # the JIT's progress (a pass over a slice of the corpus left the
        # first timed pass a third slower than the next). The first
        # pass's survivors are the ones every later pass must reproduce.
        self.warm_ids = None
        for tag in ("warmup-0", "warmup-1"):
            _, _, done = self._pass(tag)
            done()
            ids = self._survivors(tag)
            if self.warm_ids is None:
                self.warm_ids = ids
            elif ids != self.warm_ids:
                raise RuntimeError("ladder warm-up passes disagree on survivors")

    # -- the loop ---------------------------------------------------
    def _pass(self, tag):
        from pyspark import StorageLevel

        from tidyvec_spark.functions.quality import (
            dedup_lines_within_expr, gopher_keep)
        from tidyvec_spark.functions.text import token_count
        from tidyvec_spark.operators.dedup import (
            dedup_lines_global, drop_exact_dups, drop_near_dups_keep_best,
            near_dup_groups, release, substring_dedup_cut)
        from tidyvec_spark.operators.sampling import temperature_sample

        out_dir = os.path.join(self.out_root, str(tag))
        t = self.tracer
        with t.span(self.op_span) as p:
            docs = self.spark.read.parquet(self.corpus)
            with t.span("functions.quality.gopher_keep"):
                q = docs.filter(gopher_keep("text"))
            with t.span("operators.dedup.drop_exact_dups"):
                ex = drop_exact_dups(q.select("doc_id", "text"), "text", "doc_id")
            with t.span("functions.quality.dedup_lines_within_expr"):
                wd = ex.select("doc_id", dedup_lines_within_expr("text").alias("text"))
            with t.span("operators.dedup.dedup_lines_global"):
                gl = dedup_lines_global(wd, "text", "doc_id").select("doc_id", "text")
            with t.span("operators.dedup.substring_dedup_cut"):
                cut = substring_dedup_cut(gl, "text", "doc_id", k=8).select(
                    "doc_id", "text")
            # the ladder's one mid-chain persist: rungs 1-4 feed the
            # signature build, keep-best's score join and its anti-join
            scored = cut.withColumn("n_tokens", token_count("text")).persist(
                StorageLevel.MEMORY_AND_DISK)
            with t.span("operators.dedup.near_dup_groups"):
                comps = near_dup_groups(scored, "text", "doc_id", num_hashes=16,
                                        bands=4, shingle_n=3, threshold=0.5,
                                        method="verify")
            with t.span("operators.dedup.drop_near_dups_keep_best"):
                best = drop_near_dups_keep_best(scored, comps, "doc_id", "n_tokens")
            with t.span("operators.sampling.temperature_sample"):
                sampled = temperature_sample(
                    best.join(self.spark.read.parquet(self.corpus)
                              .select("doc_id", "source"), "doc_id"),
                    "doc_id", "source", alpha=0.7)
            with t.span("ladder.write"), t.span("ladder.write.run") as w:
                sampled.select("doc_id", "source", "text").write.parquet(out_dir)
        p.attrs["construction_frac"] = (p.dur_ms - w.dur_ms) / p.dur_ms
        if self.count_rungs and not str(tag).startswith("warmup"):
            with t.span("ladder.rows.count"):
                rows = dict(zip(_RUNGS, (f.count() for f in
                                         (docs, q, ex, best, sampled))))
            for r, n in rows.items():
                p.attrs[f"rows_{r}"] = n
            if rows["after_quality"]:
                p.attrs["exact_removed_frac"] = (
                    (rows["after_quality"] - rows["after_exact"]) / rows["after_quality"])

        def done():
            release(comps)
            scored.unpersist()

        return p, best, done

    def _recall(self, best) -> float:
        """Share of injected near-dup pairs of which at most one member
        still carries more than half of its tokens after keep-best."""
        kept = {int(r["doc_id"]): int(r["n_tokens"]) for r in
                best.select("doc_id", "n_tokens").collect()}
        full = {d: len(t.split()) for d, t in zip(self.inp.ids, self.inp.texts)}
        pairs = self.inp.near_dup_pairs
        collapsed = sum(
            len([d for d in pair if kept.get(d, 0) * 2 > full[d]]) <= 1
            for pair in pairs
        )
        return collapsed / len(pairs) if pairs else 1.0

    def _survivors(self, tag) -> list[int]:
        """Sorted doc ids the pass ``tag`` wrote; its output is removed."""
        out_dir = os.path.join(self.out_root, str(tag))
        ids = sorted(int(r["doc_id"]) for r in
                     self.spark.read.parquet(out_dir).select("doc_id").collect())
        shutil.rmtree(out_dir)
        return ids

    def _check(self, tag) -> bool:
        """No injected exact copy survives, the survivors are the warm-up
        pass's, and their digest is the one recorded by the first run of
        this seed in the checkout."""
        ids = self._survivors(tag)
        self.digest = hashlib.sha256(",".join(map(str, ids)).encode()).hexdigest()
        if not os.path.exists(self.digest_path):
            with open(self.digest_path, "w") as f:
                f.write(self.digest + "\n")
        with open(self.digest_path) as f:
            want = f.read().strip()
        return (bool(ids) and ids == self.warm_ids and self.digest == want
                and not set(ids) & set(self.inp.exact_copy_ids))

    def run_pass(self, i: int) -> bool:
        """Timed pass ``i``; True when its survivors pass :meth:`_check`."""
        p, best, done = self._pass(i)
        if self.near_dup_recall is None:
            self.near_dup_recall = p.attrs["near_dup_recall"] = self._recall(best)
        done()
        return self._check(i)


class Curate:
    round = gen.CURATE_ROUND

    def __init__(self, spark, tracer, seed: int, state_dir: str,
                 count_rungs: bool = False):
        self.seed, self.tracer = seed, tracer
        self.ingest = Ingest(spark, tracer, seed)
        self.ladder = Ladder(spark, tracer, seed, state_dir, count_rungs)
        self.done = dict.fromkeys(self.round, 0)

    def generate(self, d: str) -> None:
        self.ingest.generate(d)
        self.ladder.generate(d)

    def build(self, d: str) -> None:
        self.ingest.build(d)
        self.ladder.build(d)

    def warmup(self) -> None:
        self.ingest.warmup()
        self.ladder.warmup()

    def plan(self, i: int) -> str:
        """Class of operation ``i`` of the run."""
        n = sum(self.round.values())
        return gen.curate_round(self.seed, i // n)[i % n]

    def op(self, i: int) -> list[bool]:
        # ops run in order, so the k-th op of a class is batch/pass k
        cls = self.plan(i)
        k = self.done[cls]
        self.done[cls] += 1
        return [self.ingest.batch(k) if cls == "ingest" else self.ladder.run_pass(k)]

    def items(self, cls: str) -> int:
        return gen.BATCH_SIZE if cls == "ingest" else len(self.ladder.inp.ids)

    def latencies(self) -> dict[str, list[float]]:
        """Per class, the timed operations' latencies (checks excluded)."""
        return {c: [s.dur_ms for s in self.tracer.named(span)]
                for c, span in (("ingest", Ingest.op_span), ("ladder", Ladder.op_span))}

    @property
    def digest(self):
        return getattr(self.ladder, "digest", None)

    def final_checks(self) -> list[bool]:
        return self.ingest.final_checks()

    def report(self) -> dict[str, tuple[float, str]]:
        return {"near_dup_recall": (self.ladder.near_dup_recall, "fraction")}
