"""Seeded input generators for the ``search`` and ``curate`` workloads.

Everything here is pure Python + numpy: the same ``seed`` gives the
same inputs byte for byte, and the generators also return the ground
truth the output checks compare against (exact-copy ids, admitted ids,
near-dup pairs). The engine only ever sees the parquet files written
from these structures.
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.embedfn import DIM, hashed_projection

# English function words: gopher-style quality rules and TF-IDF both
# expect natural-language text to be full of them.
STOP_WORDS = (
    "the of and to in is that for it with as was on be at by this have "
    "from or an they which you one were all we can her has there been if "
    "more when will would who so no"
).split()

_ONSETS = "b c d f g h j k l m n p r s t v w z br ch cl dr fl gr pl pr sh st tr".split()
_VOWELS = "a e i o u ai ea ou io".split()
_CODAS = ["", "n", "r", "s", "t", "l", "m", "nd", "st", "ck"]


def vocabulary(n: int) -> list[str]:
    """``n`` distinct pronounceable lowercase words of 3-10 letters.

    Fixed (seed-independent): workloads vary which words a document
    uses, not what the language looks like."""
    rng = np.random.default_rng(20201)
    words: list[str] = []
    seen = set(STOP_WORDS)
    while len(words) < n:
        m = 2 * n
        syl = rng.integers(1, 4, m)
        parts = [rng.integers(0, k, (m, 3)) for k in
                 (len(_ONSETS), len(_VOWELS), len(_CODAS))]
        for i in range(m):
            w = "".join(
                _ONSETS[parts[0][i, j]] + _VOWELS[parts[1][i, j]] + _CODAS[parts[2][i, j]]
                for j in range(syl[i])
            )
            if 3 <= len(w) <= 10 and w not in seen:
                seen.add(w)
                words.append(w)
                if len(words) == n:
                    break
    return words


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    c = np.cumsum(p)
    return c / c[-1]


def _draw(rng: np.random.Generator, cdf: np.ndarray, n: int) -> np.ndarray:
    """``n`` indices drawn from the distribution with cumulative ``cdf``."""
    return np.minimum(np.searchsorted(cdf, rng.random(n), side="right"), len(cdf) - 1)


def normalized_key(text: str) -> str:
    """Python twin of ``operators.dedup.normalized_text_key``: md5 of
    the lowercased text with whitespace runs collapsed and trimmed
    (the generated text is ASCII, so Java and Python agree on both)."""
    t = re.sub(r"[ \t\n\x0b\f\r]+", " ", text.lower()).strip(" ")
    return hashlib.md5(t.encode()).hexdigest()


def _vary(text: str, rng: np.random.Generator) -> str:
    """Same normalized key, different bytes: upper-case one word and
    double one space."""
    toks = text.split(" ")
    i = int(rng.integers(len(toks)))
    toks[i] = toks[i].upper()
    j = int(rng.integers(len(toks)))
    toks[j] = toks[j] + " "
    return " ".join(toks)


# -- the collection search reads and curate's ingest appends to -----

N_DOCS = 4000
LSH_PLANES = 4
# the hyperplanes are fixed, not drawn from the seed: the seed varies
# the data, the index layout stays comparable across runs
PLANES_SEED = 0
N_TOPICS = 16
WORDS_PER_DOC = 24
# Queries of one search round, by class. The counts are set so that
# each class takes about a third of a round's time on a 4-core host
# (``text`` queries are about three times as slow as vector ones), so
# the round latency moves with every class, not with one.
SEARCH_ROUND = {"vec_exact": 3, "vec_lsh": 4, "text": 1}
BATCH_SIZE = 400
EXACT_SHARE = 0.15  # copies of a doc already in the collection
WITHIN_SHARE = 0.10  # copies of another doc of the same batch


@dataclass
class IngestBatch:
    ids: list[int]
    texts: list[str]
    exact_copy_ids: list[int]
    within_copy_ids: list[int]


@dataclass
class _TopicModel:
    common: list[str]
    topic: list[str]
    per_topic: int
    common_cdf: np.ndarray

    def doc(self, rng: np.random.Generator) -> str:
        """Topic words of one random topic, Zipf-common words and stop
        words, shuffled: docs of one topic share vocabulary, so their
        TF-IDF and embedding neighbourhoods are clustered."""
        lab = int(rng.integers(N_TOPICS))
        n_topic = WORDS_PER_DOC // 2
        tw = rng.choice(self.per_topic, n_topic) + lab * self.per_topic
        cw = _draw(rng, self.common_cdf, WORDS_PER_DOC - n_topic - 4)
        sw = rng.choice(len(STOP_WORDS), 4)
        ws = ([self.topic[i] for i in tw] + [self.common[i] for i in cw]
              + [STOP_WORDS[i] for i in sw])
        rng.shuffle(ws)
        return " ".join(ws)

    def query(self, rng: np.random.Generator) -> str:
        lab = int(rng.integers(N_TOPICS))
        tw = rng.choice(self.per_topic, 3, replace=False) + lab * self.per_topic
        cw = int(_draw(rng, self.common_cdf, 1)[0])
        return " ".join([self.topic[i] for i in tw] + [self.common[cw]])


@dataclass
class Collection:
    ids: list[int]
    texts: list[str]
    seed: int
    _topics: _TopicModel = field(repr=False)


def collection(seed: int) -> Collection:
    """A topic-clustered collection of distinct docs; queries come from
    :func:`search_round`, ingest batches from :func:`ingest_batch`."""
    rng = np.random.default_rng([seed, 1])
    vocab = vocabulary(2000)
    topics = _TopicModel(common=vocab[:1000], topic=vocab[1000:],
                         per_topic=1000 // N_TOPICS, common_cdf=_zipf_cdf(1000, 1.1))
    texts, seen = [], set()
    while len(texts) < N_DOCS:
        t = topics.doc(rng)
        if t not in seen:
            seen.add(t)
            texts.append(t)
    return Collection(ids=list(range(N_DOCS)), texts=texts, seed=seed, _topics=topics)


def write_collection(coll: Collection, path: str) -> None:
    """The collection as parquet: id, text and the embedding of
    :func:`~perfbench.embedfn.hashed_projection`."""
    pq.write_table(
        pa.table({
            "doc_id": pa.array(coll.ids, type=pa.int64()),
            "text": pa.array(coll.texts),
            "embedding": pa.array(hashed_projection(coll.texts),
                                  type=pa.list_(pa.float64())),
        }),
        path,
    )


def search_round(coll: Collection, r: int) -> list[tuple[str, str]]:
    """Round ``r``: SEARCH_ROUND (class, query text) pairs in shuffled
    order."""
    rng = np.random.default_rng([coll.seed, 2, r])
    block = [c for c, n in SEARCH_ROUND.items() for _ in range(n)]
    rng.shuffle(block)
    return [(c, coll._topics.query(rng)) for c in block]


def ingest_batch(coll: Collection, i: int) -> IngestBatch:
    """Batch ``i``: fresh docs plus EXACT_SHARE copies of collection
    docs and WITHIN_SHARE copies of other docs of the batch. Copies
    differ in case and spacing only, so they share the source's
    normalized key. Ids are unique across batches and shuffled within
    one, so a within-batch copy may carry the smaller id."""
    rng = np.random.default_rng([coll.seed, 3, i])
    b = BATCH_SIZE
    n_exact = int(round(b * EXACT_SHARE))
    n_within = int(round(b * WITHIN_SHARE))
    n_fresh = b - n_exact - n_within
    fresh = [coll._topics.doc(rng) for _ in range(n_fresh)]
    exact = [
        _vary(coll.texts[int(j)], rng)
        for j in rng.choice(len(coll.texts), n_exact, replace=False)
    ]
    within = [_vary(fresh[int(j)], rng) for j in rng.choice(n_fresh, n_within)]
    kinds = ["fresh"] * n_fresh + ["exact"] * n_exact + ["within"] * n_within
    ids = (1_000_000 + i * b + rng.permutation(b)).tolist()
    return IngestBatch(
        ids=ids,
        texts=fresh + exact + within,
        exact_copy_ids=[d for d, k in zip(ids, kinds) if k == "exact"],
        within_copy_ids=[d for d, k in zip(ids, kinds) if k == "within"],
    )


def admitted_ids(batch: IngestBatch, known_keys: set[str]) -> dict[int, str]:
    """Ground truth of the ingest dedup: per normalized key not already
    known, the smallest id of the batch carrying it (id -> key)."""
    best: dict[str, int] = {}
    for d, t in zip(batch.ids, batch.texts):
        k = normalized_key(t)
        if k in known_keys:
            continue
        if k not in best or d < best[k]:
            best[k] = d
    return {d: k for k, d in best.items()}


# -- curate ----------------------------------------------------------


@dataclass
class CurateInputs:
    ids: list[int]
    texts: list[str]
    sources: list[str]
    exact_copy_ids: list[int]
    near_dup_pairs: list[tuple[int, int]]  # (original id, copy id)
    low_quality_ids: list[int]


# Operations of one curate round, by class: ingest batches take about
# 3.5 s and ladder passes about 8.5 s on a 4-core host, so each class
# holds about half of a round.
CURATE_ROUND = {"ingest": 2, "ladder": 1}
CURATE_DOCS = 1200  # base docs; the injected ones come on top
CURATE_SOURCES = 6
EXACT_COPY_SHARE = 0.08
NEAR_DUP_SHARE = 0.06
SHORT_SHARE = 0.06
SYMBOL_SHARE = 0.04

BOILERPLATE = [
    "accept all cookies to continue reading this page",
    "sign up for our newsletter and never miss a story",
    "all rights reserved by the publisher of this site",
    "share this article with your friends and family",
]


def curate_round(seed: int, r: int) -> list[str]:
    """Round ``r``: the CURATE_ROUND operation classes in shuffled
    order."""
    block = [c for c, n in CURATE_ROUND.items() for _ in range(n)]
    np.random.default_rng([seed, 5, r]).shuffle(block)
    return block


def curate_inputs(seed: int) -> CurateInputs:
    """A pretraining-style corpus over a wide vocabulary.

    Normal docs are 6-9 lines of 8-13 words with stop words mixed in,
    so ``gopher_keep`` passes them; unrelated docs share few shingles.
    A fifth of docs carry a boilerplate line (global line dedup) and a
    tenth repeat one of their own lines (within-doc line dedup). On top
    of CURATE_DOCS base docs come exact copies (case/spacing variants),
    truncated near-dup copies (last line dropped) and low-quality docs
    (too short, or symbol-heavy). ``source`` is Zipf-skewed."""
    rng = np.random.default_rng([seed, 4])
    vocab = vocabulary(8000)
    cdf = _zipf_cdf(len(vocab), 1.0)
    src_cdf = _zipf_cdf(CURATE_SOURCES, 1.5)

    def line() -> str:
        n = int(rng.integers(8, 14))
        ws = [vocab[i] for i in _draw(rng, cdf, n - 3)]
        ws += [STOP_WORDS[i] for i in rng.choice(len(STOP_WORDS), 3)]
        rng.shuffle(ws)
        return " ".join(ws)

    texts: list[str] = []
    for _ in range(CURATE_DOCS):
        lines = [line() for _ in range(int(rng.integers(6, 10)))]
        if rng.random() < 0.2:
            lines.insert(int(rng.integers(len(lines) + 1)),
                         BOILERPLATE[int(rng.integers(len(BOILERPLATE)))])
        if rng.random() < 0.1:
            lines.append(lines[int(rng.integers(len(lines)))])
        texts.append("\n".join(lines))
    ids = list(range(CURATE_DOCS))

    exact_ids, near_pairs, low_ids = [], [], []
    nxt = CURATE_DOCS
    for j in rng.choice(CURATE_DOCS, int(CURATE_DOCS * EXACT_COPY_SHARE), replace=False):
        texts.append(_vary(texts[int(j)], rng))
        ids.append(nxt)
        exact_ids.append(nxt)
        nxt += 1
    for j in rng.choice(CURATE_DOCS, int(CURATE_DOCS * NEAR_DUP_SHARE), replace=False):
        lines = texts[int(j)].split("\n")
        texts.append("\n".join(lines[:-1]))
        ids.append(nxt)
        near_pairs.append((int(j), nxt))
        nxt += 1
    for _ in range(int(CURATE_DOCS * SHORT_SHARE)):
        texts.append(line())
        ids.append(nxt)
        low_ids.append(nxt)
        nxt += 1
    for _ in range(int(CURATE_DOCS * SYMBOL_SHARE)):
        ws = line().split(" ")
        for k in range(0, len(ws), 2):
            ws[k] = "#" * int(rng.integers(1, 4))
        texts.append("\n".join([" ".join(ws)] * 6))
        ids.append(nxt)
        low_ids.append(nxt)
        nxt += 1
    sources = [f"src{int(k)}" for k in _draw(rng, src_cdf, len(ids))]
    return CurateInputs(
        ids=ids,
        texts=texts,
        sources=sources,
        exact_copy_ids=exact_ids,
        near_dup_pairs=near_pairs,
        low_quality_ids=low_ids,
    )
