"""``search``: similarity queries on a static collection, one client.

The client works through seeded rounds of queries in shuffled order
(``gen.SEARCH_ROUND``: three ``vec_exact``, four ``vec_lsh``, one
``text``) and waits for each result:

- ``vec_exact``: ``VecFrame.nearest(as_embedding=True)`` over the plain
  layout;
- ``vec_lsh``: ``nearest(approx=True)`` over the ``lsh`` layout;
- ``text``: ``FittedTfidf.search``, the sparse path.

Per-query fixed cost (jobs, driver planning) and the scan kernel
dominate; the shuffle-heavy dedup layers barely run. The round counts
give each class about a third of a round's time, so a change to any
one class moves the round latency.
"""

from __future__ import annotations

import math
import os
from collections import Counter

import numpy as np

from perfbench import gen
from perfbench.embedfn import hashed_projection

K = 10
SCORE_TOL = 1e-9
WARMUP_ROUND = 1_000_000  # a round number no run reaches

_LAYER = {
    "vec_exact": "operators.nearest.exact",
    "vec_lsh": "operators.nearest.approx",
    "text": "embedders.tfidf.search",
}


class TfidfReference:
    """Pure-Python TF-IDF cosine over the generated corpus, the law of
    ``embedders.tfidf`` (tf = count / all tokens of the doc, idf =
    ln((n+1)/(df+1)) + 1 over terms seen at least ``min_freq`` times,
    cosine over in-vocabulary weights)."""

    def __init__(self, ids, texts, min_freq: int = 2):
        toks = [t.lower().split() for t in texts]
        corpus, dfreq = Counter(), Counter()
        for ts in toks:
            corpus.update(ts)
            dfreq.update(set(ts))
        n = len(toks)
        self.idf = {
            t: math.log((n + 1.0) / (dfreq[t] + 1.0)) + 1.0
            for t, c in corpus.items() if c >= min_freq
        }
        self.ids = [int(i) for i in ids]
        self.postings: dict[str, list[tuple[int, float]]] = {}
        self.norm: dict[int, float] = {}
        for d, ts in zip(self.ids, toks):
            tot = float(len(ts))
            sq = 0.0
            for t, c in Counter(ts).items():
                if t in self.idf:
                    w = (c / tot) * self.idf[t]
                    self.postings.setdefault(t, []).append((d, w))
                    sq += w * w
            self.norm[d] = math.sqrt(sq)

    def scores(self, query: str) -> dict[int, float]:
        ts = [t for t in query.lower().split() if t]
        qw = {t: (c / len(ts)) * self.idf[t]
              for t, c in Counter(ts).items() if t in self.idf}
        qn = math.sqrt(sum(w * w for w in qw.values()))
        dot: dict[int, float] = {}
        for t, w in qw.items():
            for d, dw in self.postings.get(t, []):
                dot[d] = dot.get(d, 0.0) + dw * w
        return {
            d: (dot.get(d, 0.0) / (self.norm[d] * qn)
                if self.norm[d] and qn else 0.0)
            for d in self.ids
        }


def topk_matches(got: list[tuple[int, float]], ref: dict[int, float], k: int) -> bool:
    """``got`` is a correct top-``k`` under ``ref`` scores (desc score,
    asc id): every returned score equals its reference score and the
    returned score sequence equals the reference top-``k`` sequence —
    which holds for any valid tie order, within float-summation noise."""
    want = sorted(ref.items(), key=lambda x: (-x[1], x[0]))[:k]
    if len(got) != len(want) or len({d for d, _ in got}) != len(got):
        return False
    for (d, s), (_, ws) in zip(got, want):
        if d not in ref or abs(ref[d] - s) > SCORE_TOL or abs(s - ws) > SCORE_TOL:
            return False
    return True


class _Vectors:
    """Unit vectors of a collection by id, for brute-force reference
    scores."""

    def __init__(self, ids: list[int], texts: list[str]):
        x = np.asarray(hashed_projection(texts)).reshape(len(texts), gen.DIM)
        n = np.linalg.norm(x, axis=1, keepdims=True)
        self.unit = x / np.where(n > 0, n, 1.0)
        self.ids = [int(i) for i in ids]

    def cosines(self, q: list[float]) -> dict[int, float]:
        # elementwise, not ``@``: a matrix product wakes the BLAS thread
        # pool, whose threads then spin on every core for a while after
        # each check, competing with (and waking up) the program under test
        qv = np.asarray(q)
        qv = qv / np.sqrt((qv * qv).sum())
        return dict(zip(self.ids, (self.unit * qv).sum(axis=1).tolist()))


class Search:
    round = gen.SEARCH_ROUND

    def __init__(self, spark, tracer, seed: int):
        self.spark, self.tracer, self.seed = spark, tracer, seed

    # -- setup ------------------------------------------------------
    def generate(self, d: str) -> None:
        self.coll = gen.collection(self.seed)
        self.tfidf_ref = TfidfReference(self.coll.ids, self.coll.texts)
        self.vecs = _Vectors(self.coll.ids, self.coll.texts)
        self.docs_path = os.path.join(d, "docs.parquet")
        gen.write_collection(self.coll, self.docs_path)

    def build(self, d: str) -> None:
        import tidyvec_spark as tv
        from tidyvec_spark.operators.ann import random_planes

        t = self.tracer
        plain_path = os.path.join(d, "plain")
        lsh_path = os.path.join(d, "lsh")
        spec = {"kind": "lsh",
                "planes": random_planes(gen.DIM, gen.LSH_PLANES, seed=gen.PLANES_SEED)}
        df = self.spark.read.parquet(self.docs_path)
        with t.span("embedders.tfidf.fit"):
            fitted = tv.TfidfEmbedder(min_freq=2).fit(df, "text")
        with t.span("sources.vec_io.write_vec"):
            tv.write_vec(tv.vec(df, embedding_fn=fitted, dim=gen.DIM), plain_path)
            fitted.vocab.unpersist()
            tv.write_vec(tv.vec(df, embedding_fn=tv.CallableEmbedder(
                hashed_projection, dim=gen.DIM), dim=gen.DIM), lsh_path, index=spec)
        with t.span("sources.vec_io.read_vec"):
            self.plain = tv.read_vec(self.spark, plain_path)
            self.lsh = tv.read_vec(self.spark, lsh_path)

    def warmup(self) -> None:
        # untimed first-use costs: the rehydrated vocabulary cache and
        # codegen. The first few queries of a class stay slow while
        # their planning code compiles, so two whole rounds.
        for r in (WARMUP_ROUND, WARMUP_ROUND + 1):
            for cls, q in gen.search_round(self.coll, r):
                if not self._query(cls, q):
                    raise RuntimeError(f"search warm-up {cls} query failed its checks")

    # -- the loop ---------------------------------------------------
    def _nth(self, i: int) -> tuple[str, str]:
        n = sum(self.round.values())
        return gen.search_round(self.coll, i // n)[i % n]

    def plan(self, i: int) -> str:
        """Class of query ``i`` of the run."""
        return self._nth(i)[0]

    def op(self, i: int) -> list[bool]:
        return [self._query(*self._nth(i))]

    def items(self, cls: str) -> int:
        return 1

    def latencies(self) -> dict[str, list[float]]:
        """Per class, the timed queries' latencies (checks excluded)."""
        qs = self.tracer.named("search.query")
        return {c: [s.dur_ms for s in qs if s.attrs["cls"] == c] for c in self.round}

    def _query(self, cls: str, q: str) -> bool:
        layer = _LAYER[cls]
        t = self.tracer
        qv = hashed_projection([q])[0]
        with t.span("search.query", cls=cls), t.span(layer) as s:
            with t.span(layer + ".build"):
                if cls == "text":
                    res = self.plain.embedder.search(
                        self.plain.df, "text", "doc_id", q, n=K)
                else:
                    vf = self.plain if cls == "vec_exact" else self.lsh
                    res = vf.nearest(qv, n=K, as_embedding=True, tiebreak="doc_id",
                                     approx=cls == "vec_lsh").df
            with t.span(layer + ".run"):
                rows = res.select("doc_id", "similarity").collect()
        got = [(int(r["doc_id"]), float(r["similarity"])) for r in rows]
        if cls == "text":
            return topk_matches(got, self.tfidf_ref.scores(q), K)
        ref = self.vecs.cosines(qv)
        if cls == "vec_exact":
            return topk_matches(got, ref, K)
        # approximate: every returned score must be the true cosine, in
        # descending order; recall against the exact top-k is a metric
        exact = {d for d, _ in sorted(ref.items(), key=lambda x: (-x[1], x[0]))[:K]}
        s.attrs["recall_at_k"] = len(exact & {d for d, _ in got}) / K
        ordered = all(a[1] >= b[1] for a, b in zip(got, got[1:]))
        return ordered and all(d in ref and abs(ref[d] - x) <= SCORE_TOL
                               for d, x in got)

    def final_checks(self) -> list[bool]:
        return []

    def report(self) -> dict[str, tuple[float, str]]:
        from perfbench.stats import highest_reportable_percentile, percentile

        t = self.tracer
        out = {}
        every = [s.dur_ms for s in t.named("search.query")]
        q = highest_reportable_percentile(len(every))
        if q is not None:
            out[f"query_p{q * 100:g}_ms"] = (percentile(every, q), "ms")
        recalls = [s.attrs["recall_at_k"] for s in t.named("operators.nearest.approx")]
        out["recall_at_k"] = (sum(recalls) / len(recalls), "fraction")
        return out
