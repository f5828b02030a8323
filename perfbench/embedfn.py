"""The benchmark's embedding function.

A fixed numpy hashed-token projection: each lowercase token picks a
row of a seeded Gaussian table by CRC32, the document vector is the
L2-normalized sum. It stands in for a model so that only the engine's
Arrow/pandas boundary is measured; it is deliberately simple and is
not a thing to optimize. Module-level so Spark ships it to Python
workers by reference (the workers import this module from the
checkout).
"""

from __future__ import annotations

import functools
import zlib

import numpy as np

DIM = 64
_BUCKETS = 4096


@functools.lru_cache(maxsize=1)
def _table() -> np.ndarray:
    return np.random.default_rng(7).normal(size=(_BUCKETS, DIM))


def hashed_projection(texts: list) -> list:
    """One DIM-float vector per text (None for a None text)."""
    table = _table()
    out = []
    for t in texts:
        if t is None:
            out.append(None)
            continue
        idx = [zlib.crc32(w.encode()) % _BUCKETS for w in t.lower().split()]
        v = table[idx].sum(axis=0) if idx else np.zeros(DIM)
        n = float(np.linalg.norm(v))
        out.append((v / n if n > 0 else v).tolist())
    return out
