"""The starting store every run copies: built once per checkout and
engine version (``run.py --build-store``)."""

from __future__ import annotations

import hashlib
import os

from . import datagen

COLLECTION = "bench"
N_LISTS = 8  # IVF lists
N_BUCKETS = 8  # sparse and FTS posting buckets


def build_store(spark, work: str) -> str:
    """The starting store: ``add_records`` of the base records (BM25
    auto-embed), ``compact()``, then vector, sparse and FTS index builds.
    Built at ``<work>/store``, the path every run copies it back to: the
    catalog records absolute paths."""
    from chroma_spark.api import Client

    ds = datagen.base_dataset()
    src = os.path.join(work, "input.parquet")
    datagen.write_parquet(ds, src)
    root = os.path.join(work, "store")
    col = Client(spark, root).create_collection(
        COLLECTION, dimension=datagen.DIM, space="cosine",
        sparse_embedding_function="bm25_sparse",
    )
    col.add_records(spark.read.parquet(src))
    col.compact()
    col.build_vector_index(n_lists=N_LISTS)
    col.build_sparse_index("sparse", n_buckets=N_BUCKETS)
    col.build_fts_index(n_buckets=N_BUCKETS)
    if col.count() != len(ds.ids):
        raise RuntimeError("starting store is missing records")
    return root


def store_key() -> str:
    """Fingerprint of what the prebuilt store depends on: the engine
    sources and this package's generator and build code."""
    here = os.path.dirname(os.path.abspath(__file__))
    engine = os.path.join(os.path.dirname(here), "chroma_spark")
    files = [os.path.join(here, "datagen.py"), os.path.abspath(__file__)]
    for d, _, names in sorted(os.walk(engine)):
        files += [os.path.join(d, n) for n in sorted(names) if n.endswith(".py")]
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, engine).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]
