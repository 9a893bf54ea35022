"""Plain-Python replays of the MinHash-LSH and containment pair scans.

They follow the definitions in ``astro_spark.functions.oracles`` (the
DuckDB oracles the repository's correctness suite uses) without the
list-heavy DuckDB SQL, so they take a few seconds on the benchmark's
5000-document corpus.  ``perfbench/selftest.py`` pins them to the
DuckDB oracles on a small corpus.
"""

from __future__ import annotations

import re
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

from astro_spark.functions.constants import (
    CONTAINMENT_THRESHOLD,
    LSH_BANDS,
    MINHASH_COEFFS,
    MINHASH_JACCARD_THRESHOLD,
    MINHASH_K,
    MULT1,
    MULT2,
    P31,
    SHINGLE_K,
)

_WS = re.compile(r"\s+")


def round4(x: float) -> float:
    return float(Decimal(x).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP))


def _poly(s: str, mult: int) -> int:
    acc = 0
    for ch in s:
        acc = (acc * mult + ord(ch)) % P31
    return acc


def shingles(text: str, k: int = SHINGLE_K) -> list[int]:
    """Distinct sorted k-word shingle hashes (oracles.shingle_hashes)."""
    th = [_poly(t, MULT1) for t in _WS.split(text.strip())]
    out = set()
    for i in range(max(len(th) - (k - 1), 1)):
        acc = 0
        for h in th[i:i + k]:
            acc = (acc * MULT2 + h) % P31
        out.add(acc)
    return sorted(out)


def minhash_pairs(docs: list[tuple[int, str]]) -> list[tuple[int, int, float]]:
    rows = MINHASH_K // LSH_BANDS
    sh = {i: shingles(t) for i, t in docs}
    # x, a < 2^31, so x * a + b fits in int64
    coef_a = np.array([a for a, _ in MINHASH_COEFFS], dtype=np.int64)
    coef_b = np.array([b for _, b in MINHASH_COEFFS], dtype=np.int64)
    buckets = defaultdict(list)
    for i, s in sh.items():
        x = np.array(s, dtype=np.int64)[:, None]
        sig = ((x * coef_a + coef_b) % P31).min(axis=0).tolist()
        for band in range(LSH_BANDS):
            bh = 0
            for r in range(rows):
                bh = (bh * MULT1 + sig[band * rows + r]) % P31
            buckets[(band, bh)].append(i)
    cand = {(a, b) for ids in buckets.values() for a in ids for b in ids if a < b}
    out = []
    for a, b in cand:
        sa, sb = set(sh[a]), set(sh[b])
        inter = len(sa & sb)
        j = round4(inter / (len(sa) + len(sb) - inter))
        if j >= MINHASH_JACCARD_THRESHOLD:
            out.append((a, b, j))
    return out


def containment_pairs(docs: list[tuple[int, str]]) -> list[tuple[int, int, float]]:
    sh = {i: shingles(t) for i, t in docs}
    postings = defaultdict(list)
    for i, s in sh.items():
        for h in s:
            postings[h].append(i)
    shared = Counter()
    for ids in postings.values():
        for a in ids:
            for b in ids:
                if a != b:
                    shared[(a, b)] += 1
    out = []
    for (a, b), n in shared.items():
        c = round4(n / len(sh[a]))
        if c >= CONTAINMENT_THRESHOLD:
            out.append((a, b, c))
    return out
