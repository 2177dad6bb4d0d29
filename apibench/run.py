"""API-path benchmark entry point.

    python3 apibench/run.py --workload serve-2k --seed 1 --seconds 5 --trace 0

Run from the repository root. Copies the prebuilt starting store (built
once per checkout and engine version into ``apibench/.cache``, in a
separate process), measures the workload for ``--seconds`` (whole rounds,
at least one), checks every reply against the oracle and prints one JSON
object as the last line of stdout: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Per-run scratch
lives in ``apibench/.work`` and is removed on exit. See apibench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import fcntl  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")  # per-run scratch, removed at start and exit
CACHE = os.path.join(HERE, ".cache")  # the prebuilt starting store, kept


def _prepare_env() -> None:
    """Keep every file Spark and the JVM write inside the work dir."""
    from apibench.harness import env_cpus

    tmp = os.path.join(WORK, "tmp")
    conf = os.path.join(WORK, "conf")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(conf, exist_ok=True)
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
        f.write(f"spark.local.dir {tmp}\n")
        f.write(f"spark.driver.extraJavaOptions -Djava.io.tmpdir={tmp} -XX:-UsePerfData\n")
        f.write("spark.ui.showConsoleProgress false\n")
    os.environ["SPARK_CONF_DIR"] = conf
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(env_cpus()))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")


def _med(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def end_to_end(run, setup_s: float, mem: dict) -> dict:
    m = {"setup_s": (setup_s, "s")}
    for kind in ("query", "search", "get", "count", "write", "compact"):
        m[f"{kind}_p50_s"] = (run.log.median(kind), "s")
    m["retained_mb"] = (mem["python_rss"] + mem["jvm_live_heap"], "MB")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


# op kinds both workloads run every round (per-op metrics need a value in every run)
OP_KINDS = ("query", "search", "get", "get_filtered", "count", "write", "compact")
PHASES = {"read": OP_KINDS[:5], "compact": ("compact",)}
LAYERS = (
    "catalog.load", "catalog.commit", "store.read_base", "store.read_log",
    "store.append_log", "store.write_base", "where.compile", "ann.build",
    "ann.search", "sparse.topk", "sparse.explode", "fts.candidates",
    "fts.postings", "search.plan", "embedding.embed",
)


def per_layer(run, tracer, mem: dict) -> dict:
    """Layer totals are averaged over the timed calls; op-keyed values are
    medians over the calls of that kind."""
    from apibench.trace import reduce_calls

    calls = reduce_calls(tracer)
    n = max(1, len(calls))
    m = {f"{name}_s": (sum(c.layer_s[name] for c in calls) / n, "s/call") for name in LAYERS}
    m["catalog.calls"] = (
        sum(c.counts["catalog.load"] + c.counts["catalog.commit"] for c in calls) / n, "count/call"
    )
    m["store.read_jobs"] = (sum(c.store_jobs for c in calls) / n, "count/call")
    m["server.self_s"] = (sum(c.server_s for c in calls) / n, "s/call")
    for kind in OP_KINDS:
        acc = run.spark_by_op.get(kind, [])
        mine = [c for c in calls if c.kind == kind]
        for key in ("jobs", "stages", "tasks"):
            m[f"spark.{key}.{kind}"] = (_med([a[key] for a in acc]), "count")
        m[f"spark.executor_run_s.{kind}"] = (_med([a["executor_run_s"] for a in acc]), "s")
        m[f"api.driver_s.{kind}"] = (_med([c.driver_s for c in mine]), "s")
        m[f"api.action_s.{kind}"] = (_med([c.action_s for c in mine]), "s")
    for kind in ("query", "search"):
        mine = [c for c in calls if c.kind == kind]
        m[f"knn.exact_calls.{kind}"] = (_med([c.counts["knn.exact"] for c in mine]), "count")
    m["knn.merge_calls.query"] = (_med([c.counts["knn.merge"] for c in calls if c.kind == "query"]), "count")
    for phase, kinds in PHASES.items():
        acc = [a for k in kinds for a in run.spark_by_op.get(k, [])]
        for key in ("shuffle_bytes", "input_bytes"):
            m[f"spark.{key}.{phase}"] = (sum(a[key] for a in acc) / max(1, len(acc)), "bytes/call")
    for key in ("python_peak_rss", "jvm_heap_peak", "jvm_peak_rss"):
        m[f"mem.{key}_mb"] = (mem[key], "MB")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def _start_spark():
    from chroma_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("apibench")
    spark.sparkContext.setLogLevel("ERROR")
    print(f"# spark session {time.perf_counter() - t0:.2f}s", file=sys.stderr)
    return spark


def _build_store(cache: str) -> int:
    """``--build-store``: build the starting store in this process's own JVM
    and move it to ``cache``."""
    from apibench.harness import stop_spark
    from apibench.store import build_store

    spark = _start_spark()
    try:
        t0 = time.perf_counter()
        root = build_store(spark, WORK)
        print(f"# starting store built in {time.perf_counter() - t0:.2f}s", file=sys.stderr)
    finally:
        stop_spark(spark)
    os.makedirs(CACHE, exist_ok=True)  # one store per engine version, kept
    os.rename(root, cache)
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--build-store", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import chroma_spark  # noqa: F401  - the engine under test, from this checkout
    except ImportError as e:
        print(f"engine not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from apibench.harness import SparkAccounting, memory_mb, stop_spark
    from apibench.store import store_key
    from apibench.workloads import WORKLOADS, Run

    cache = os.path.join(CACHE, store_key())
    if args.build_store:
        _prepare_env()
        return _build_store(cache)
    if args.workload not in WORKLOADS or args.seed is None or args.seconds is None:
        ap.error(f"--workload (one of {sorted(WORKLOADS)}), --seed and --seconds are required")

    # runs in one checkout share WORK and CACHE: take turns
    t_wait = time.perf_counter()
    lock = open(os.path.join(HERE, ".lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    shutil.rmtree(WORK, ignore_errors=True)
    _prepare_env()
    try:
        if not os.path.isdir(cache):
            # a separate process and JVM, so every measured run starts equally cold
            subprocess.run([sys.executable, os.path.abspath(__file__), "--build-store"], check=True)
        # set-up time leaves out the wait for the lock and the one-off store build
        waited = time.perf_counter() - t_wait
        spark = _start_spark()
        try:
            tracer = acct = None
            if args.trace:
                from apibench.trace import Tracer

                acct = SparkAccounting(spark)
                tracer = Tracer(job_probe=acct.current_jobs)
                tracer.install()
            run = Run(spark, WORK, args.seed, tracer=tracer, acct=acct)
            run.setup(cache)
            WORKLOADS[args.workload](run, args.seconds)  # warms up, then measures
            setup_s = run.t_ready - T_START - waited
            for f in run.log.failures:
                print(f"# FAILED {f}", file=sys.stderr)
            print(f"# error rate {run.log.failed}/{run.log.attempted}", file=sys.stderr)
            print(f"# ops {json.dumps(run.log.summary())}", file=sys.stderr)
            print(f"# samples {json.dumps(run.log.samples)}", file=sys.stderr)
            mem = memory_mb(spark)
            print(f"# memory MB {json.dumps(mem)}", file=sys.stderr)
            if args.trace:
                wall = sum(sum(v) for v in run.log.samples.values())
                print(f"# tracing wrappers' own time: {tracer.overhead_s:.4f}s of {wall:.2f}s traced", file=sys.stderr)
                metrics = per_layer(run, tracer, mem)
            else:
                metrics = end_to_end(run, setup_s, mem)
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
        lock.close()
    print(json.dumps({
        "correct": run.log.failed == 0,
        "attempted": run.log.attempted,
        "failed": run.log.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
