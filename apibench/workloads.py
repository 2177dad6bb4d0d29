"""The two workloads. Both drive one collection with one closed-loop client
(each call waits for its reply): reads go through the HTTP facade
(``server.create_app`` test client, in process, no sockets); writes and
compaction go through the Python ``Collection`` API, as an ingest job
sharing the store would. Every reply is checked against the oracle mirror.

Both start from a copy of the same prebuilt store (``store.build_store``).

- ``serve-2k``: read rounds over fresh indexes with no WAL tail, then six
  small writes and the ``compact()`` that folds them.
- ``rw-2k``: cycles of small add/upsert/delete calls, each pair followed by
  reads over the growing WAL tail, closed by a ``compact()`` that maintains
  all three index tiers and three hybrid searches right after it.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

from . import datagen, oracle
from .harness import Clock, OpLog, reset_jvm_peak
from .store import COLLECTION

BASE = f"/api/v2/tenants/default_tenant/databases/default_database/collections/{COLLECTION}"
K = 10  # n_results
SEARCH_LIMIT = 40  # per-side $knn limit in the hybrid search
WRITE_KINDS = ("add", "upsert", "delete")


class Run:
    """Per-run state: engine handles, the oracle mirror, the op log and
    (traced runs only) the tracer and Spark accounting."""

    def __init__(self, spark, work: str, seed: int, tracer=None, acct=None) -> None:
        self.spark = spark
        self.work = work
        self.gen = datagen.Generator(seed)
        self.mirror = oracle.Mirror()
        self.log = OpLog()
        self.tracer = tracer
        self.acct = acct
        self.spark_by_op: dict[str, list[dict]] = {}

    # -- setup ---------------------------------------------------------

    def setup(self, store: str) -> None:
        """Copy the prebuilt store into the run directory, load the oracle
        mirror and open the HTTP app."""
        from chroma_spark.api import Client
        from chroma_spark.server import create_app

        ds = datagen.base_dataset()
        for rid, emb, doc, cat in zip(ds.ids, ds.emb, ds.docs, ds.cats):
            self.mirror.put(rid, emb, doc, cat)
        self.mirror.compacted()
        root = os.path.join(self.work, "store")
        shutil.copytree(store, root)
        self.col = Client(self.spark, root).get_collection(COLLECTION)
        self.http = create_app(self.spark, root).test_client()

    def warm(self, ops) -> None:
        """Run each op once, checked like any other, and drop its latency
        and trace: the first call of each plan shape in a fresh JVM pays
        class loading, JIT and Spark codegen, which a long-lived server has
        long paid. Marks the end of set-up."""
        t0 = time.perf_counter()
        for op in ops:
            op()
        print(f"# warm-up {time.perf_counter() - t0:.2f}s {json.dumps(self.log.samples)}", file=sys.stderr)
        self.log.samples.clear()
        self.spark_by_op.clear()
        if self.tracer is not None:
            self.tracer.reset()
        reset_jvm_peak(self.spark)
        self.t_ready = time.perf_counter()

    # -- accounting ----------------------------------------------------

    def _op(self, kind: str, fn, check) -> None:
        """Run one operation, time it, check the reply. Never retried.
        In a traced run the call gets its own Spark job group and trace
        call id; its Spark accounting is read after the timer stops."""
        group = self.acct.begin(kind) if self.acct is not None else None
        error = None
        result = None
        t0 = time.perf_counter()
        try:
            if self.tracer is not None:
                self.tracer.begin_call(kind)
            try:
                result = fn()
            finally:
                if self.tracer is not None:
                    self.tracer.end_call()
        except Exception as e:  # noqa: BLE001 - any raise is a failed op
            error = f"{type(e).__name__}: {str(e)[:200]}"
        dt = time.perf_counter() - t0
        if group is not None:
            self.spark_by_op.setdefault(kind, []).append(self.acct.collect(group))
        if error is None:
            try:
                error = check(result)
            except Exception as e:  # noqa: BLE001 - malformed reply
                error = f"malformed reply: {type(e).__name__}: {str(e)[:200]}"
        self.log.record(kind, dt, error)

    def _http(self, method: str, path: str, body=None):
        def call():
            resp = getattr(self.http, method)(BASE + path, json=body)
            if resp.status_code != 200:
                raise RuntimeError(f"HTTP {resp.status_code}: {resp.get_data(as_text=True)[:200]}")
            return resp.get_json()

        if self.tracer is None:
            return call

        def traced_call():
            with self.tracer.span("server.request"):
                return call()

        return traced_call

    # -- reads (HTTP) --------------------------------------------------

    def _check_payload(self, ids, docs, metas) -> str | None:
        for rid, doc, md in zip(ids, docs, metas):
            _, want_doc, want_cat = self.mirror.recs[rid]
            if doc != want_doc or (md or {}).get("cat") != want_cat:
                return f"payload of {rid} differs from the written record"
        return None

    def _query_vector(self) -> list[float]:
        return self.gen.query_vector(self.mirror.recs[self.gen.pick(list(self.mirror.recs), 1)[0]][0])

    def query(self) -> None:
        q = self._query_vector()
        body = {"query_embeddings": [q], "n_results": K}

        def check(res):
            scores = self.mirror.cosine(q)
            ids = res["ids"][0]
            err = oracle.check_topk(ids, scores, K)
            if err is None:
                bad = [i for i, d in zip(ids, res["distances"][0]) if abs(d - scores[i]) > oracle.TOL]
                err = f"distance of {bad[0]} differs" if bad else None
            return err or self._check_payload(ids, res["documents"][0], res["metadatas"][0])

        self._op("query", self._http("post", "/query", body), check)

    def _filters(self):
        """A metadata and a document filter (served by the FTS index), with
        the oracle predicate they select."""
        cat = self.gen.integer(0, datagen.N_CATS - 1)
        needle = self.gen.needle()
        body = {"where": {"cat": cat}, "where_document": {"$contains": needle}}
        return body, lambda i: self.mirror.recs[i][2] == cat and needle in self.mirror.recs[i][1]

    def search(self) -> None:
        from chroma_spark.operators.rank import rrf

        q = self._query_vector()
        sq = oracle.sparse_query(self.gen.query_terms())
        terms = [
            {"query": q, "limit": SEARCH_LIMIT, "default": float(SEARCH_LIMIT)},
            {"query": sq, "key": "sparse", "limit": SEARCH_LIMIT, "default": float(SEARCH_LIMIT)},
        ]
        body = {"searches": [{"rank": rrf(terms), "limit": K, "select": ["#id", "#score"]}]}

        def check(res):
            fused = oracle.rrf_scores(self.mirror.cosine(q), self.mirror.bm25_scores(sq), SEARCH_LIMIT)
            ids = res["ids"][0]
            err = oracle.check_topk(ids, fused, K)
            if err is None:
                bad = [i for i, s in zip(ids, res["scores"][0]) if abs(s - fused[i]) > oracle.TOL]
                err = f"score of {bad[0]} differs" if bad else None
            return err

        self._op("search", self._http("post", "/search", body), check)

    def get(self) -> None:
        ids = self.gen.pick(list(self.mirror.recs), self.gen.integer(1, 5))

        def check(res):
            if sorted(res["ids"]) != sorted(ids):
                return f"get returned {sorted(res['ids'])[:5]}, expected {sorted(ids)[:5]}"
            return self._check_payload(res["ids"], res["documents"], res["metadatas"])

        self._op("get", self._http("post", "/get", {"ids": ids}), check)

    def get_filtered(self) -> None:
        """``get`` with both filters plus ``limit`` and ``offset``: one page
        of the matches in insertion order."""
        body, match = self._filters()
        offset = self.gen.integer(0, 10)
        body = {**body, "limit": K, "offset": offset}

        def check(res):
            want = [i for i in self.mirror.recs if match(i)][offset : offset + K]
            if res["ids"] != want:
                return f"page {res['ids'][:3]}... != expected {want[:3]}..."
            return self._check_payload(res["ids"], res["documents"], res["metadatas"])

        self._op("get_filtered", self._http("post", "/get", body), check)

    def count(self) -> None:
        def check(res):
            return None if res == len(self.mirror) else f"count {res} != {len(self.mirror)}"

        self._op("count", self._http("get", "/count"), check)

    # -- writes and compaction (Python API) ----------------------------

    def write(self, which: str) -> None:
        """One small add/upsert/delete (1-10 ids, with documents so the
        BM25 auto-embed runs). The mirror applies it only once the call
        is acknowledged."""
        n = self.gen.integer(1, 10)
        if which == "delete":
            ids = self.gen.pick(list(self.mirror.recs), n)

            def call():
                self.col.delete(ids=ids)

            def check(_):
                for rid in ids:
                    self.mirror.delete(rid)
        else:
            fresh = self.gen.new_records(n)
            ids = fresh.ids if which == "add" else self.gen.pick(list(self.mirror.recs), n)

            def call():
                getattr(self.col, which)(
                    ids=ids,
                    embeddings=[[float(x) for x in e] for e in fresh.emb],
                    documents=fresh.docs,
                    metadatas=[{"cat": int(c)} for c in fresh.cats],
                )

            def check(_):
                for rec in zip(ids, fresh.emb, fresh.docs, fresh.cats):
                    self.mirror.put(*rec)

        self._op("write", call, check)

    def compact(self) -> None:
        self._op("compact", self.col.compact, lambda _version: self.mirror.compacted())


def serve_2k(run: Run, seconds: float) -> None:
    """Read rounds over fresh indexes and no WAL tail, then six small
    writes and the compaction that folds them."""
    # query and search run twice in the warm-up: their first calls sit on
    # the steepest part of the JVM's warm-up curve
    run.warm((run.query, run.search, run.get, run.count, run.get_filtered, run.query, run.search))
    clock = Clock(seconds)
    while True:
        # three of each dearer read, six of each cheap one: a median of one
        # or two calls is as noisy as a single call
        for reads in ((run.query, run.get, run.count, run.search, run.get, run.count),) * 3:
            for read in reads:
                read()
        run.get_filtered()
        if clock.expired():
            break
    for kind in WRITE_KINDS * 2:  # add costs more jobs than upsert and delete: two of each
        run.write(kind)
    run.compact()


def rw_2k(run: Run, seconds: float) -> None:
    """Cycles of small writes and reads over the growing WAL tail, each
    closed by a compaction that maintains all three index tiers and three
    hybrid searches right after it (no tail)."""
    run.warm((run.search, lambda: run.write("upsert"), run.query, run.get, run.count,
              run.get_filtered))
    clock = Clock(seconds)
    while True:
        for kinds, reads in (
            (("add", "upsert"), (run.query, run.get, run.count, run.get, run.count)),
            (("delete", "add"), (run.get, run.count)),
            (("upsert", "delete"), (run.query, run.get_filtered, run.get, run.count, run.get,
                                    run.count)),
        ):
            for kind in kinds:
                run.write(kind)
            for read in reads:
                read()
        run.compact()
        for _ in range(3):  # the first read after a compaction is the slowest
            run.search()
        if clock.expired():
            break


WORKLOADS = {"serve-2k": serve_2k, "rw-2k": rw_2k}
