"""Self-tests for the benchmark harness; no Spark session needed.

    python -m pytest apibench/tests -q
"""

from __future__ import annotations

import sys
import time
import types

import numpy as np
import pytest

from apibench import datagen, oracle
from apibench.harness import OpLog, tail_percentile
from apibench.trace import Span, Tracer, reduce_calls, self_time
from apibench.workloads import Run


# -- percentile rule ---------------------------------------------------


@pytest.mark.parametrize(
    "n, expected",
    [(19, None), (20, 50.0), (40, 75.0), (99, 75.0), (100, 90.0), (200, 95.0), (1000, 99.0)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, expected):
    samples = [float(i) for i in range(n)]
    got = tail_percentile(samples)
    if expected is None:
        assert got is None
        return
    p, value, count = got
    assert (p, count) == (expected, n)
    assert sum(1 for s in samples if s > value) >= 10


def test_summary_reports_sample_count_and_tail():
    log = OpLog()
    for i in range(40):
        log.record("q", float(i), None)
    row = log.summary()["q"]
    assert row["n"] == 40 and "p75_s" in row and "p90_s" not in row


# -- error accounting --------------------------------------------------


class _Resp:
    status_code = 200

    def __init__(self, payload):
        self._payload = payload

    def get_json(self):
        return self._payload


class _FakeHttp:
    """Answers /query with the oracle's own top-k, optionally corrupted."""

    def __init__(self, run: Run, corrupt=None, fail=False):
        self.run, self.corrupt, self.fail = run, corrupt, fail

    def post(self, path, json=None):
        if self.fail:
            raise RuntimeError("boom")
        q = json["query_embeddings"][0]
        scores = self.run.mirror.cosine(q)
        ids = oracle.ranked(scores, json["n_results"])
        if self.corrupt:
            ids = self.corrupt(ids, scores)
        recs = self.run.mirror.recs
        return _Resp({
            "ids": [ids],
            "distances": [[scores[i] for i in ids]],
            "documents": [[recs[i][1] for i in ids]],
            "metadatas": [[{"cat": recs[i][2]} for i in ids]],
        })


def _run_with(http_factory) -> Run:
    run = Run(spark=None, work="", seed=7)
    ds = datagen.base_dataset(200)
    for rid, emb, doc, cat in zip(ds.ids, ds.emb, ds.docs, ds.cats):
        run.mirror.put(rid, emb, doc, cat)
    run.http = http_factory(run)
    return run


def test_correct_reply_is_not_a_failure():
    run = _run_with(lambda r: _FakeHttp(r))
    run.query()
    assert (run.log.attempted, run.log.failed) == (1, 0)
    assert len(run.log.samples["query"]) == 1


def test_planted_wrong_answer_counts_as_failed():
    def swap_last(ids, scores):
        outsider = oracle.ranked(scores, len(scores))[-1]
        return ids[:-1] + [outsider]

    run = _run_with(lambda r: _FakeHttp(r, corrupt=swap_last))
    run.query()
    run.query()
    assert (run.log.attempted, run.log.failed) == (2, 2)
    assert run.log.error_rate == 1.0
    assert not run.log.samples["query"]  # failed latencies are not samples


def test_raising_call_counts_as_failed_and_is_not_retried():
    run = _run_with(lambda r: _FakeHttp(r, fail=True))
    run.query()
    assert (run.log.attempted, run.log.failed) == (1, 1)
    assert "boom" in run.log.failures[0]


def test_spark_accounting_is_read_after_the_timer_stops():
    class SlowAccounting:
        def begin(self, kind):
            return f"group-{kind}"

        def collect(self, group):
            time.sleep(0.3)  # py4j reads of the status store
            return {"jobs": 1}

    run = _run_with(lambda r: _FakeHttp(r))
    run.acct = SlowAccounting()
    run.query()
    assert run.spark_by_op["query"] == [{"jobs": 1}]
    assert run.log.samples["query"][0] < 0.3


def test_check_topk_tolerates_rounding_ties_only():
    scores = {"a": 0.1, "b": 0.2, "c": 0.2 + 1e-7, "d": 0.5}
    assert oracle.check_topk(["a", "c"], scores, 2) is None  # tie within tolerance
    assert oracle.check_topk(["a", "d"], scores, 2) is not None
    assert oracle.check_topk(["b", "a"], scores, 2) is not None
    assert oracle.check_topk(["a"], scores, 2) is not None


def test_rrf_defaults_missing_side_to_limit():
    dense = {"x": 0.1, "y": 0.2, "z": 0.9}
    sparse = {"z": 5.0, "x": 1.0}
    fused = oracle.rrf_scores(dense, sparse, limit=2)
    assert set(fused) == {"x", "y", "z"}
    assert fused["x"] == pytest.approx(-(1 / 60 + 1 / 61))
    assert fused["y"] == pytest.approx(-(1 / 61 + 1 / 62))
    assert fused["z"] == pytest.approx(-(1 / 62 + 1 / 60))


# -- span arithmetic ---------------------------------------------------


def _span(i, parent, name, t0, t1, spans):
    s = Span(i, parent, 0, name, t0, t1)
    spans.append(s)
    if parent is not None:
        spans[parent].children.append(i)
    return s


def test_self_time_subtracts_union_of_children_but_not_spark_waits():
    spans: list[Span] = []
    root = _span(0, None, "store.read_base", 0.0, 10.0, spans)
    _span(1, 0, "catalog.load", 1.0, 3.0, spans)
    _span(2, 0, "catalog.load", 2.0, 4.0, spans)  # overlaps the first
    _span(3, 0, "spark.action", 5.0, 9.0, spans)  # charged to the parent
    _span(4, 1, "where.compile", 1.5, 2.5, spans)  # grandchild: not subtracted twice
    assert self_time(root, spans) == pytest.approx(10.0 - 3.0)
    assert self_time(spans[1], spans) == pytest.approx(1.0)


def test_reduce_calls_splits_driver_and_spark_time():
    tracer = Tracer()
    fake = types.ModuleType("apibench_fake_engine")
    clock = iter(range(100))

    def action():
        return None

    def collection_call():
        fake.action()
        return "ok"

    fake.action, fake.collection_call = action, collection_call
    sys.modules[fake.__name__] = fake
    try:
        tracer.install([
            (fake.__name__, "action", "spark.action"),
            (fake.__name__, "collection_call", "api.query"),
        ])
        import apibench.trace as trace_mod

        real = trace_mod.time.perf_counter
        trace_mod.time.perf_counter = lambda: float(next(clock))
        try:
            tracer.begin_call("query")
            with tracer.span("server.request"):
                assert fake.collection_call() == "ok"
            tracer.end_call()
        finally:
            trace_mod.time.perf_counter = real
    finally:
        tracer.uninstall()
        del sys.modules[fake.__name__]
    assert fake.collection_call is collection_call  # uninstall restores
    [call] = reduce_calls(tracer)
    assert call.kind == "query" and call.counts["spark.action"] == 1
    names = [s.name for s in tracer.spans]
    assert names == ["op.query", "server.request", "api.query", "spark.action"]
    api, act, req = tracer.spans[2], tracer.spans[3], tracer.spans[1]
    assert call.action_s == act.t1 - act.t0
    assert call.driver_s == (api.t1 - api.t0) - (act.t1 - act.t0)
    assert call.server_s == (req.t1 - req.t0) - (api.t1 - api.t0)


# -- generator ---------------------------------------------------------


def _same(x: datagen.Dataset, y: datagen.Dataset) -> bool:
    return (
        x.ids == y.ids and x.docs == y.docs
        and np.array_equal(x.emb, y.emb) and np.array_equal(x.cats, y.cats)
    )


def test_generator_is_reproducible_per_seed():
    def draw(seed):
        g = datagen.Generator(seed)
        base = datagen.base_dataset(300)
        return g.new_records(5), g.query_vector(base.emb[0]), g.needle(), g.query_terms(), g.pick(base.ids, 4)

    a, b, c = draw(3), draw(3), draw(4)
    assert _same(a[0], b[0]) and a[1:] == b[1:]
    assert not _same(a[0], c[0]) and a[1] != c[1]


def test_starting_collection_is_fixed_and_well_formed():
    a, b = datagen.base_dataset(300), datagen.base_dataset(300)
    assert _same(a, b)
    norms = np.linalg.norm(a.emb, axis=1)
    assert np.allclose(norms, 1.0, atol=1e-5) and a.emb.dtype == np.float32
    assert all(datagen.MIN_TOKENS <= len(d.split()) <= datagen.MAX_TOKENS for d in a.docs)
