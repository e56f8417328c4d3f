"""One benchmark run in a fresh process: set up, time the passes, verify.

Started by ``perfbench/run.py`` with a private TMPDIR, local dirs,
warehouse and cwd; writes one JSON result file and exits. A pass is one
closed-loop sweep over the workload's queries by a single driver
thread: each query is built (``q.fn``) and then executed to the
``noop`` sink before the next one is submitted.

Untraced runs time the first pass and then a fixed number of warm
passes, sized so that they take about ``--seconds``. Traced runs trace
the first pass and then alternate traced and untraced warm passes, so
the tracing overhead is measured in the same process.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
import traceback
from contextlib import contextmanager


def _failure(name: str, stage: str) -> str:
    """Log the exception being handled; return its last line."""
    print(f"perfbench: {stage} {name} failed\n{traceback.format_exc()}", file=sys.stderr)
    return traceback.format_exc(limit=2).splitlines()[-1]


@contextmanager
def _timed(name: str):
    """Untraced stand-in for ``Tracer.span``: the same record shape."""
    rec = [None, name, time.perf_counter(), None]
    yield rec
    rec[3] = time.perf_counter()


def _setup(sf_dir: str):
    import chess_ratings_spark.plans  # noqa: F401  (fills the registry)
    from chess_ratings_spark import tables
    from chess_ratings_spark.session import get_spark

    spark = get_spark("perfbench")
    for t in tables.TABLES:
        tables.load(spark, sf_dir, t)
    return spark


class Runner:
    def __init__(self, spark, sf_dir: str, registry) -> None:
        self.spark = spark
        self.sf_dir = sf_dir
        self.registry = registry
        self.failures: list[tuple[str, str]] = []
        self.attempted = 0

    def _one(self, name: str, span=None) -> tuple[float, float] | None:
        """Build and run one query; (build_s, action_s), or None if it
        raised. ``span`` is the tracer's span factory in traced passes."""
        span = span or _timed
        q = self.registry[name]
        self.attempted += 1
        try:
            with span("plans.build") as b:
                df = q.fn(self.spark, self.sf_dir)
            with span("plans.action") as a:
                df.write.format("noop").mode("overwrite").save()
        except Exception:
            self.failures.append((name, _failure(name, "query")))
            return None
        return b[3] - b[2], a[3] - a[2]

    def plain_pass(self, order: list[str]) -> dict:
        samples = {}
        t0 = time.perf_counter()
        for name in order:
            got = self._one(name)
            if got is not None:
                samples[name] = got
        return {"wall": time.perf_counter() - t0, "queries": samples}

    def traced_pass(self, order: list[str], label: str, tracer, engine, streams) -> dict:
        """Like ``plain_pass`` with spans, a job group per query and
        per-query status store snapshots; the snapshots are taken
        between queries and left out of the pass wall time."""
        sc = self.spark.sparkContext
        samples, per_query = {}, {}
        self.spark.streams.addListener(streams)
        tracer.install()
        engine.skip()
        snap_s = 0.0
        t0 = time.perf_counter()
        with tracer.span("pass") as pass_span:
            for name in order:
                qid = f"{label}:{name}"
                group = f"perfbench-{qid}"
                tracer.qid = streams.current = qid
                tracer.query_span = pass_span[0]
                sc.setJobGroup(group, qid)
                e0 = time.time()
                with tracer.span("query") as qspan:
                    tracer.query_span = qspan[0]
                    got = self._one(name, tracer.span)
                e1 = time.time()
                sc._jsc.clearJobGroup()
                s0 = time.perf_counter()
                counters = engine.query([group, *streams.runs(qid)], e0, e1)
                snap_s += time.perf_counter() - s0
                if got is None:
                    continue
                samples[name] = got
                per_query[qid] = {
                    "query": name,
                    "wall_s": qspan[3] - qspan[2],
                    "plans.build_s": got[0],
                    "plans.action_s": got[1],
                    **counters,
                    **tracer.of(qid),
                }
        wall = time.perf_counter() - t0 - snap_s
        tracer.uninstall()
        self.spark.streams.removeListener(streams)
        tracer.qid = streams.current = tracer.query_span = None
        return {"wall": wall, "queries": samples, "per_query": per_query}

    def verify(self, names: list[str]) -> int:
        """Untimed pass comparing every query with its DuckDB oracle."""
        from chess_ratings_spark import tables

        from perfbench.oracle import Oracle

        oracle = Oracle(self.sf_dir, tables.TABLES)
        checked = 0
        try:
            for name in names:
                q = self.registry[name]
                self.attempted += 1
                try:
                    why = oracle.check(q.fn(self.spark, self.sf_dir), q.oracle)
                except Exception:
                    why = _failure(name, "verify")
                if why is None:
                    checked += 1
                else:
                    self.failures.append((name, f"verify: {why}"))
        finally:
            oracle.close()
        return checked


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, required=True)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace-out")
    ap.add_argument("--t-spawn", type=float, required=True)
    args = ap.parse_args(argv)

    spark = _setup(args.sf_dir)
    setup_s = time.time() - args.t_spawn
    result: dict = {"setup_s": setup_s}
    try:
        result.update(_measure(spark, args))
    finally:
        t_stop = time.perf_counter()
        spark.stop()
        result["stop_s"] = time.perf_counter() - t_stop
    with open(args.out, "w") as fh:
        json.dump(result, fh)


def _measure(spark, args) -> dict:
    from chess_ratings_spark.registry import REGISTRY

    from perfbench.workloads import WORKLOADS

    w = WORKLOADS[args.workload]
    w.check(REGISTRY)
    runner = Runner(spark, args.sf_dir, REGISTRY)
    orders = w.orders(args.seed)
    n_warm = w.warm_passes(args.seconds)
    if args.trace:
        passes, extra = _traced_passes(spark, runner, orders, n_warm, args.trace_out)
    else:
        passes = [runner.plain_pass(next(orders)) for _ in range(1 + n_warm)]
        extra = {}
    t_verify = time.perf_counter()
    verified = runner.verify(next(orders))
    return {
        "verify_s": time.perf_counter() - t_verify,
        "passes": [{"wall": p["wall"], "queries": p["queries"], "traced": p.get("traced", False)} for p in passes],
        "verified": verified,
        "n_queries": len(w.queries),
        "attempted": runner.attempted,
        "failures": runner.failures,
        **extra,
    }


def _traced_passes(spark, runner: Runner, orders, n_warm: int, trace_out: str | None) -> tuple[list[dict], dict]:
    from perfbench.sparkstats import EngineCounters, StreamCounters
    from perfbench.tracer import Tracer

    tracer, engine, streams = Tracer(), EngineCounters(spark), StreamCounters()
    passes = []
    with tracer.span("run"):
        for i in range(1 + n_warm + n_warm % 2):
            if i % 2 == 0:  # the first pass and every other warm pass
                p = runner.traced_pass(next(orders), f"p{i}", tracer, engine, streams)
                p["traced"] = True
            else:
                p = runner.plain_pass(next(orders))
            passes.append(p)
    streams.drain()
    per_query = {}
    for p in passes:
        for qid, rec in p.pop("per_query", {}).items():
            rec.update(streams.of(qid))
            per_query[qid] = rec
    if trace_out:
        with open(trace_out, "w") as fh:
            json.dump({"spans": tracer.dump(), "per_query": per_query}, fh)
    return passes, {"per_query": per_query}


if __name__ == "__main__":
    main()
