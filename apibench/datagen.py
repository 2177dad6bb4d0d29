"""Input generation. The query and write streams of a run are a pure
function of ``--seed``; the starting collection is a pure function of
``BASE_SEED``, so one prebuilt store serves every run (see README).

Everything is numpy/pure Python (no Spark), so generation cost never lands
on a timed path and the engine sees only the materialized inputs. Shape:

- ``N_ROWS`` records ``r0..r{N-1}``: 64-d unit vectors drawn around
  ``N_CLUSTERS`` random centres (clusterable, so IVF lists are meaningful);
- documents of 20-60 tokens ``w<rank>`` with zipf-distributed ranks over a
  ``VOCAB``-word vocabulary (skewed term frequencies give BM25 real idf
  structure);
- an integer ``cat`` metadata key in ``[0, N_CATS)``.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

N_ROWS = 2000
DIM = 64
N_CLUSTERS = 32
VOCAB = 5000
N_CATS = 8
MIN_TOKENS, MAX_TOKENS = 20, 60
NOISE = 0.45
BASE_SEED = 0


@dataclass
class Dataset:
    ids: list[str]
    emb: np.ndarray  # (n, DIM) float32, unit rows
    docs: list[str]
    cats: np.ndarray  # (n,) int64


def _vectors(rng: np.random.Generator, centers: np.ndarray, n: int) -> np.ndarray:
    cl = rng.integers(0, len(centers), n)
    v = centers[cl] + rng.normal(scale=NOISE, size=(n, centers.shape[1]))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32)


def _docs(rng: np.random.Generator, n: int) -> list[str]:
    lengths = rng.integers(MIN_TOKENS, MAX_TOKENS + 1, n)
    ranks = (rng.zipf(1.25, int(lengths.sum())) - 1) % VOCAB
    out, pos = [], 0
    for ln in lengths:
        out.append(" ".join(f"w{r}" for r in ranks[pos : pos + ln]))
        pos += ln
    return out


def _records(rng: np.random.Generator, centers: np.ndarray, ids: list[str]) -> Dataset:
    n = len(ids)
    return Dataset(
        ids=ids,
        emb=_vectors(rng, centers, n),
        docs=_docs(rng, n),
        cats=rng.integers(0, N_CATS, n).astype(np.int64),
    )


def _centers() -> tuple[np.random.Generator, np.ndarray]:
    rng = np.random.default_rng(BASE_SEED)
    return rng, rng.normal(size=(N_CLUSTERS, DIM))


def base_dataset(n: int = N_ROWS) -> Dataset:
    """The starting collection, ids ``r0..r{n-1}``."""
    rng, centers = _centers()
    return _records(rng, centers, [f"r{i}" for i in range(n)])


class Generator:
    """The seeded stream of one run: new records (drawn around the same
    centres as the starting collection), query vectors, filters, needles."""

    def __init__(self, seed: int) -> None:
        self.rng = np.random.default_rng(seed)
        self.centers = _centers()[1]
        self._next_new = 0

    def new_records(self, n: int) -> Dataset:
        """Fresh ids (``n<j>``) for add/upsert-insert writes."""
        ids = [f"n{self._next_new + j}" for j in range(n)]
        self._next_new += n
        return _records(self.rng, self.centers, ids)

    def query_vector(self, near: np.ndarray) -> list[float]:
        """A perturbed copy of a stored vector, so neighbours exist."""
        q = near.astype(np.float64) + self.rng.normal(scale=0.1, size=near.shape)
        q /= np.linalg.norm(q)
        return [float(x) for x in q.astype(np.float32)]

    def needle(self) -> str:
        """``$contains`` literal: a mid-frequency token plus its trailing
        space (>= 3 characters, so the FTS index can serve it)."""
        return f"w{int(self.rng.integers(5, 60))} "

    def query_terms(self, k: int = 3) -> list[str]:
        return [f"w{int(r)}" for r in self.rng.integers(0, 200, k)]

    def pick(self, seq, k: int) -> list:
        idx = self.rng.choice(len(seq), size=min(k, len(seq)), replace=False)
        return [seq[i] for i in sorted(idx)]

    def integer(self, lo: int, hi: int) -> int:
        """Uniform in ``[lo, hi]``."""
        return int(self.rng.integers(lo, hi + 1))


def write_parquet(ds: Dataset, path: str) -> None:
    """One file, one row group: Spark reads it as one partition, so
    ``add_records`` assigns insertion offsets in row order (the order
    un-ranked ``get`` pages by)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "id": ds.ids,
            "document": ds.docs,
            "embedding": pa.array(list(ds.emb), type=pa.list_(pa.float32())),
            "cat": pa.array(ds.cats, type=pa.int64()),
        }
    )
    pq.write_table(table, path, row_group_size=len(ds.ids) + 1)
