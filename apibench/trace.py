"""Span tracing from outside the engine: the traced run replaces layer
functions with timing wrappers (module attributes, class methods, and the
names a module bound at import -- ``chroma_spark.api.exact_knn`` is patched
where ``api`` looks it up). Spans live in memory and are reduced to
per-layer metrics when the run ends.

A span is ``(id, parent, call, name, t0, t1, jobs)``; every span of one
benchmark operation shares its ``call`` id. A layer's self time is its
span duration minus the part of that interval its direct children cover.
Wrapping a lazy DataFrame builder times plan construction plus any job it
launches eagerly; execution shows up in the ``spark.*`` action spans.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import time
from collections import defaultdict
from dataclasses import dataclass, field

# (module, attribute path, span name). An attribute path "Class.method"
# patches a method on the class.
LAYER_PATCHES = [
    ("chroma_spark.sources.collection", "Catalog.get", "catalog.load"),
    ("chroma_spark.sources.collection", "Catalog.list", "catalog.load"),
    ("chroma_spark.sources.collection", "Catalog.create", "catalog.commit"),
    ("chroma_spark.sources.collection", "Catalog.mutate", "catalog.commit"),
    ("chroma_spark.sources.collection", "Catalog.update", "catalog.commit"),
    ("chroma_spark.sources.collection", "CollectionStore.read_base", "store.read_base"),
    ("chroma_spark.sources.collection", "CollectionStore.read_log", "store.read_log"),
    ("chroma_spark.sources.collection", "CollectionStore.append_log", "store.append_log"),
    ("chroma_spark.sources.collection", "CollectionStore.write_base", "store.write_base"),
    ("chroma_spark.api", "where_to_column", "where.compile"),
    ("chroma_spark.api", "where_doc_to_column", "where.compile"),
    ("chroma_spark.operators.search", "where_to_column", "where.compile"),
    ("chroma_spark.operators.search", "where_doc_to_column", "where.compile"),
    ("chroma_spark.ann.ivf", "build_ivf", "ann.build"),
    ("chroma_spark.ann.ivf", "assign_to_centroids", "ann.build"),
    ("chroma_spark.ann.ivf", "ivf_search", "ann.search"),
    ("chroma_spark.ann.quantize", "ivf_quantized_search", "ann.search"),
    ("chroma_spark.ann.quantize", "ivf_sq4_search", "ann.search"),
    ("chroma_spark.ann.pq", "ivf_pq_search", "ann.search"),
    ("chroma_spark.operators.knn", "exact_knn", "knn.exact"),
    ("chroma_spark.api", "exact_knn", "knn.exact"),
    ("chroma_spark.operators.rank", "exact_knn", "knn.exact"),
    ("chroma_spark.operators.knn", "knn_merge", "knn.merge"),
    ("chroma_spark.operators.sparse", "sparse_index_topk", "sparse.topk"),
    ("chroma_spark.operators.sparse", "sparse_dot_topk", "sparse.topk"),
    ("chroma_spark.operators.sparse", "explode_postings", "sparse.explode"),
    ("chroma_spark.operators.fts", "contains_candidates", "fts.candidates"),
    ("chroma_spark.operators.fts", "doc_trigram_postings", "fts.postings"),
    ("chroma_spark.api", "search_op", "search.plan"),
    ("chroma_spark.functions.embedding", "Bm25SparseEmbeddingFunction.__call__", "embedding.embed"),
    ("chroma_spark.functions.embedding", "Bm25SparseEmbeddingFunction.embed_df", "embedding.embed"),
    ("chroma_spark.functions.embedding", "Bm25SparseEmbeddingFunction.embed_column", "embedding.embed"),
    # the public Collection surface the workloads call
    ("chroma_spark.api", "Collection.query", "api.query"),
    ("chroma_spark.api", "Collection.get", "api.get"),
    ("chroma_spark.api", "Collection.count", "api.count"),
    ("chroma_spark.api", "Collection.search", "api.search"),
    ("chroma_spark.api", "Collection.add", "api.write"),
    ("chroma_spark.api", "Collection.upsert", "api.write"),
    ("chroma_spark.api", "Collection.delete", "api.write"),
    ("chroma_spark.api", "Collection.compact", "api.compact"),
    # blocking Spark entry points: time spent here is time waiting on jobs
    ("pyspark.sql.classic.dataframe", "DataFrame.collect", "spark.action"),
    ("pyspark.sql.classic.dataframe", "DataFrame.count", "spark.action"),
    ("pyspark.sql.classic.dataframe", "DataFrame.take", "spark.action"),
    ("pyspark.sql.classic.dataframe", "DataFrame.first", "spark.action"),
    ("pyspark.sql.classic.dataframe", "DataFrame.head", "spark.action"),
    ("pyspark.sql.classic.dataframe", "DataFrame.isEmpty", "spark.action"),
    ("pyspark.sql.classic.dataframe", "DataFrame.toPandas", "spark.action"),
    ("pyspark.sql.readwriter", "DataFrameWriter.parquet", "spark.action"),
    ("pyspark.sql.readwriter", "DataFrameWriter.save", "spark.action"),
    ("pyspark.sql.readwriter", "DataFrameReader.parquet", "spark.action"),
]
SPARK = "spark."
# spans whose Spark job launches are counted (schema-inference reads)
COUNT_JOBS = {"store.read_base", "store.read_log"}


@dataclass
class Span:
    id: int
    parent: int | None
    call: int
    name: str
    t0: float
    t1: float = 0.0
    jobs: int = 0
    children: list = field(default_factory=list)


class Tracer:
    def __init__(self, job_probe=None) -> None:
        self.spans: list[Span] = []
        self.calls: dict[int, str] = {}  # call id -> op kind
        self._stack: list[Span] = []
        self._call: int | None = None
        self.overhead_s = 0.0
        self._job_probe = job_probe  # () -> number of jobs in the current group
        self._originals: list[tuple] = []

    def reset(self) -> None:
        """Forget everything recorded so far (warm-up calls)."""
        self.spans.clear()
        self.calls.clear()
        self.overhead_s = 0.0

    def begin_call(self, kind: str) -> None:
        call = len(self.calls)
        self.calls[call] = kind
        self._call = call
        self._enter(f"op.{kind}")

    def end_call(self) -> None:
        self._exit()
        self._call = None

    @contextlib.contextmanager
    def span(self, name: str):
        """A span opened by the benchmark itself (the HTTP request)."""
        self._enter(name)
        try:
            yield
        finally:
            self._exit()

    def _enter(self, name: str) -> Span:
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent.id if parent else None, self._call, name, time.perf_counter())
        if self._job_probe is not None and name in COUNT_JOBS:
            s.jobs = -self._job_probe()
        self.spans.append(s)
        if parent is not None:
            parent.children.append(s.id)
        self._stack.append(s)
        return s

    def _exit(self) -> None:
        s = self._stack.pop()
        s.t1 = time.perf_counter()
        if self._job_probe is not None and s.name in COUNT_JOBS:
            s.jobs += self._job_probe()

    def wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if tracer._call is None:  # outside a measured call
                return fn(*args, **kwargs)
            a = time.perf_counter()
            tracer._enter(name)
            b = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                c = time.perf_counter()
                tracer._exit()
                tracer.overhead_s += (b - a) + (time.perf_counter() - c)

        return traced

    def install(self, patches=LAYER_PATCHES) -> None:
        for module, path, name in patches:
            owner = importlib.import_module(module)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            fn = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            self._originals.append((owner, attr, fn))
            setattr(owner, attr, self.wrap(fn, name))

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._originals):
            setattr(owner, attr, fn)
        self._originals.clear()


def self_time(span: Span, spans: list[Span], keep: str = SPARK) -> float:
    """Duration minus the union of the direct children's intervals.
    Children named ``keep*`` (blocking Spark calls) are not subtracted: the
    wait is charged to the engine layer that issued the action."""
    ivs = sorted((spans[c].t0, spans[c].t1) for c in span.children if not spans[c].name.startswith(keep))
    covered, end = 0.0, span.t0
    for a, b in ivs:
        a, b = max(a, end), min(b, span.t1)
        if b > a:
            covered += b - a
            end = b
    return (span.t1 - span.t0) - covered


def covered_by(spans: list[Span], root: Span, prefix: str) -> float:
    """Time inside ``root`` covered by its outermost descendants named
    ``prefix*``."""
    total = 0.0
    todo = list(root.children)
    while todo:
        s = spans[todo.pop()]
        if s.name.startswith(prefix):
            total += s.t1 - s.t0
        else:
            todo.extend(s.children)
    return total


@dataclass
class CallStats:
    kind: str
    wall_s: float = 0.0
    driver_s: float = 0.0  # top-level Collection calls minus Spark waits
    action_s: float = 0.0  # Spark waits inside top-level Collection calls
    server_s: float = 0.0  # HTTP request time minus the Collection call
    store_jobs: int = 0
    counts: dict = field(default_factory=lambda: defaultdict(int))
    layer_s: dict = field(default_factory=lambda: defaultdict(float))


def reduce_calls(tracer: Tracer) -> list[CallStats]:
    """One :class:`CallStats` per benchmark operation."""
    spans = tracer.spans
    out = {c: CallStats(kind) for c, kind in tracer.calls.items()}
    for s in spans:
        if s.call is None:
            continue
        st = out[s.call]
        parent = spans[s.parent] if s.parent is not None else None
        if s.name.startswith("op."):
            st.wall_s += s.t1 - s.t0
        elif s.name == "server.request":
            st.server_s += (s.t1 - s.t0) - covered_by(spans, s, "api.")
        elif s.name.startswith("api."):
            if parent is None or not parent.name.startswith("api."):
                wait = covered_by(spans, s, SPARK)
                st.action_s += wait
                st.driver_s += (s.t1 - s.t0) - wait
        elif not s.name.startswith(SPARK):
            st.layer_s[s.name] += self_time(s, spans)
        st.counts[s.name] += 1
        st.store_jobs += s.jobs
    return list(out.values())
