"""Per-query optimization probe (round 15): time named queries to the
noop sink and capture .explain("formatted") for plan evidence.

Usage:
    python scripts/opt_probe.py [--runs N] [--explain-dir DIR] [--suffix TAG] q1 q2 ...
    python scripts/opt_probe.py --top 20        # 20 slowest from BENCH_FULL.json

Timing methodology matches bench.py exactly (same session builder, same
noop sink, same warmups are NOT run — use for relative A/B on a settled
machine, not for publishing totals). Explains are written to
plans/r15/<query>_<suffix>.txt when --explain-dir is given.

Each run's Janino compile count (Spark's CodegenMetrics) is printed
next to its time: a warm run that still compiles means its generated
classes were evicted from the codegen cache since the previous run.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)
if REPO not in sys.path:
    sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--top", type=int, default=0)
    ap.add_argument("--explain-dir", default="")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    names = list(args.queries)
    if args.top:
        full = json.loads((Path(REPO) / "BENCH_FULL.json").read_text())
        ranked = sorted(full["queries"].items(), key=lambda kv: -kv[1])
        names.extend(k for k, _ in ranked[: args.top] if k not in names)

    import chess_ratings_spark.plans  # noqa: F401
    from chess_ratings_spark.registry import REGISTRY
    from chess_ratings_spark.session import get_spark
    from chess_ratings_spark import tables

    spark = get_spark("crs-opt-probe")
    spark.sparkContext.setLogLevel("ERROR")
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    for t in tables.TABLES:
        try:
            tables.load(spark, args.sf_dir, t).count()
        except Exception as exc:
            print(f"# warmup error {t}: {exc}", file=sys.stderr)

    out: dict[str, dict] = {}
    for name in names:
        q = REGISTRY[name]
        times, compiled = [], []
        plan_txt = None
        for r in range(args.runs):
            spark.sparkContext.setJobDescription(f"opt_probe:{name}#{r}")
            c0 = compiles.getCount()
            t0 = time.perf_counter()
            df = q.fn(spark, args.sf_dir)
            df.write.format("noop").mode("overwrite").save()
            times.append(round(time.perf_counter() - t0, 3))
            compiled.append(compiles.getCount() - c0)
            if plan_txt is None and args.explain_dir:
                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    df.explain("formatted")
                plan_txt = buf.getvalue()
        spark.sparkContext.setJobDescription(None)
        out[name] = {
            "times": times,
            "compiles": compiled,
            "min": min(times),
            "median": sorted(times)[len(times) // 2],
        }
        print(f"{name}: min={min(times):.3f} runs={times} compiles={compiled}", flush=True)
        if plan_txt and args.explain_dir:
            d = Path(args.explain_dir)
            d.mkdir(parents=True, exist_ok=True)
            (d / f"{name}_{args.suffix}.txt").write_text(plan_txt)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
