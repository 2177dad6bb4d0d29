"""Independent oracles: a plain-Python mirror of the live records and
numpy/pure-Python re-implementations of every ranking the workloads check.

Nothing here imports the engine. The BM25 document weights are recomputed
from the published formula (hashed token space, ``k1=1.2, b=0.75,
avg_len=256``) and the IDF from ``ln((n - df + 0.5) / (df + 0.5) + 1)``, so
a change to the engine's scoring shows up as a wrong answer, not as a
silently moved baseline.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np

SPARSE_DIM = 1 << 20
K1, B, AVG_LEN = 1.2, 0.75, 256.0
RRF_K = 60.0
NORM_EPS = 1e-30
# engine distances/scores are rounded to 6 decimals before ordering
TOL = 2e-6


def md5_bucket(token: str, dim: int = SPARSE_DIM) -> int:
    return int(hashlib.md5(token.encode("utf-8")).hexdigest()[:15], 16) % dim


def bm25_vector(doc: str) -> dict[int, float]:
    """Document-side BM25 weights, rounded to float32 as stored."""
    toks = [t for t in doc.lower().split() if t]
    tf: dict[int, int] = {}
    for t in toks:
        i = md5_bucket(t)
        tf[i] = tf.get(i, 0) + 1
    denom = K1 * (1 - B + B * len(toks) / AVG_LEN)
    return {i: float(np.float32(c * (K1 + 1) / (c + denom))) for i, c in tf.items()}


def sparse_query(terms: list[str]) -> dict:
    idx = sorted({md5_bucket(t) for t in terms})
    return {"indices": idx, "values": [1.0] * len(idx)}


class Mirror:
    """Live records in insertion-offset order (dict order): an upsert of a
    live id keeps its position, a delete drops it, an insert appends."""

    def __init__(self) -> None:
        self.recs: dict[str, tuple[np.ndarray, str, int]] = {}
        self.sparse: dict[str, dict[int, float]] = {}
        self.n_docs_indexed = 0  # sparse index n_docs, refreshed at compaction
        self._matrix = None

    def put(self, rid: str, emb, doc: str, cat: int) -> None:
        self.recs[rid] = (np.asarray(emb, dtype=np.float32), doc, int(cat))
        self.sparse[rid] = bm25_vector(doc)
        self._matrix = None

    def delete(self, rid: str) -> None:
        self.recs.pop(rid, None)
        self.sparse.pop(rid, None)
        self._matrix = None

    def compacted(self) -> None:
        self.n_docs_indexed = len(self.recs)

    def __len__(self) -> int:
        return len(self.recs)

    def _dense(self):
        if self._matrix is None:
            ids = list(self.recs)
            m = np.stack([self.recs[i][0] for i in ids]).astype(np.float64)
            self._matrix = (ids, m, np.linalg.norm(m, axis=1))
        return self._matrix

    def cosine(self, q) -> dict[str, float]:
        """id -> cosine distance over the live records."""
        ids, m, norms = self._dense()
        qv = np.asarray(q, dtype=np.float32).astype(np.float64)
        d = 1.0 - (m @ qv) / (norms * np.linalg.norm(qv) + NORM_EPS)
        return dict(zip(ids, d.tolist()))

    def bm25_scores(self, q: dict) -> dict[str, float]:
        """id -> IDF-scaled dot product for docs sharing >= 1 query term.
        df counts live documents; n is the index's n_docs, refreshed only
        at compaction (a WAL tail does not move it)."""
        qw = dict(zip(q["indices"], q["values"]))
        df = {t: sum(1 for sv in self.sparse.values() if t in sv) for t in qw}
        n = float(self.n_docs_indexed)
        idf = {t: math.log((n - min(c, n) + 0.5) / (min(c, n) + 0.5) + 1.0) for t, c in df.items()}
        out = {}
        for rid, sv in self.sparse.items():
            shared = [t for t in qw if t in sv]
            if shared:
                out[rid] = sum(sv[t] * qw[t] * idf[t] for t in shared)
        return out


def ranked(scores: dict[str, float], limit: int) -> list[str]:
    """Ids by (score asc, id asc), first ``limit``."""
    return sorted(scores, key=lambda i: (scores[i], i))[:limit]


def rrf_scores(dense: dict[str, float], sparse: dict[str, float], limit: int) -> dict[str, float]:
    """Reciprocal-rank fusion of two top-``limit`` lists (lower is better):
    ``-(1/(k + r_dense) + 1/(k + r_sparse))`` with 0-based ranks and a
    missing side defaulting to rank ``limit``. ``dense`` holds distances,
    ``sparse`` similarity scores."""
    rd = {i: r for r, i in enumerate(ranked(dense, limit))}
    rs = {i: r for r, i in enumerate(ranked({k: -v for k, v in sparse.items()}, limit))}
    return {
        i: -(1.0 / (RRF_K + rd.get(i, limit)) + 1.0 / (RRF_K + rs.get(i, limit)))
        for i in set(rd) | set(rs)
    }


def check_topk(got: list[str], scores: dict[str, float], k: int, tol: float = TOL) -> str | None:
    """None when ``got`` is a valid top-``k`` of ``scores`` (lower is
    better), else the reason. Valid means: the right length, no duplicates,
    ordered by oracle score, and no excluded id scoring better than an
    included one -- each comparison up to ``tol``, so engine-side rounding
    may legally reorder exact ties."""
    want = min(k, len(scores))
    if len(got) != want:
        return f"expected {want} results, got {len(got)}"
    if len(set(got)) != len(got):
        return "duplicate ids"
    unknown = [i for i in got if i not in scores]
    if unknown:
        return f"ids outside the candidate set: {unknown[:3]}"
    vals = [scores[i] for i in got]
    if any(b < a - tol for a, b in zip(vals, vals[1:])):
        return "results out of order"
    rest = [s for i, s in scores.items() if i not in set(got)]
    if vals and rest and min(rest) < max(vals) - tol:
        return f"missed a better candidate ({min(rest):.6f} < {max(vals):.6f})"
    return None
