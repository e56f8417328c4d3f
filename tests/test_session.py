"""Session-level behaviour: the codegen class cache that ``get_spark``
sizes, and shipping the package to the Python processes Spark starts."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

from .conftest import REPO, SF_SMOKE

#: Spark's default ``spark.sql.codegen.cache.maxEntries``.
SPARK_DEFAULT_CACHE = 100


def test_codegen_cache_holds_more_than_sparks_default(spark):
    """A cycle of more distinct generated classes than Spark's default
    cache holds compiles each class once: the second pass over the same
    plans is served from the cache. With the 100-entry default the LRU
    evicts every class before its next use and the second pass
    recompiles them all."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    n = SPARK_DEFAULT_CACHE + 60

    def one_pass() -> int:
        c0 = compiles.getCount()
        for i in range(n):
            # the literal is inlined into the generated code: one class each
            spark.range(10).selectExpr(f"id * {1_000_003 + i} AS v").collect()
        return compiles.getCount() - c0

    assert one_pass() >= n
    assert one_pass() == 0


_DRIVER = textwrap.dedent(
    """
    import json, sys
    sys.path.insert(0, sys.argv[1])
    import chess_ratings_spark.plans  # noqa: F401
    from pyspark.sql import functions as F
    from chess_ratings_spark.registry import REGISTRY
    from chess_ratings_spark.session import get_spark

    spark = get_spark("crs-shipping-test")
    got = {}
    try:
        # first thing the session runs: nothing is shipped before the
        # query registers its Python streaming source
        got["stream_rows"] = REGISTRY["stream_cdf_source"].fn(spark, sys.argv[2]).count()
    except Exception as exc:
        got["stream_error"] = str(exc)[-2000:]
    probe = F.udf(lambda _: __import__("chess_ratings_spark.tables").__name__)
    got["udf"] = [r[0] for r in spark.range(2).select(probe("id")).collect()]
    print(json.dumps(got))
    spark.stop()
    """
)


@pytest.fixture(scope="module")
def outside_run(tmp_path_factory):
    """Run a driver from a cwd outside the repo, without PYTHONPATH and
    with a private TMPDIR, the way an external driver process does."""
    root = tmp_path_factory.mktemp("outside")
    dirs = {k: root / k for k in ("tmp", "local", "cwd")}
    for d in dirs.values():
        d.mkdir()
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    env.update(
        TMPDIR=str(dirs["tmp"]),
        SPARK_LOCAL_DIRS=str(dirs["local"]),
        SPARK_GRAFT_CPUS="2",
        SPARK_DRIVER_MEM="1g",
    )
    proc = subprocess.run(
        [sys.executable, "-c", _DRIVER, str(REPO), SF_SMOKE],
        cwd=dirs["cwd"],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1]), dirs["tmp"]


def test_python_stream_source_plans_without_pythonpath(outside_run):
    """Spark's streaming-source planner imports the package from the
    shipped zip (the query registers its source before anything else
    ships the package)."""
    got, _ = outside_run
    assert "stream_error" not in got, got["stream_error"]
    assert got["stream_rows"] > 0


def test_shipped_package_zip_is_removed_at_exit(outside_run):
    """Workers import the shipped package, and the zip built for
    ``addPyFile`` is gone from TMPDIR once the driver has exited."""
    got, tmp = outside_run
    assert got["udf"] == ["chess_ratings_spark", "chess_ratings_spark"]
    assert not list(tmp.glob("crs_pkg_*"))


_STAGING_DRIVER = textwrap.dedent(
    """
    import json, os, sys
    sys.path.insert(0, sys.argv[1])
    from pyspark.sql import functions as F
    from chess_ratings_spark import tables
    from chess_ratings_spark.operators.tablelog import TableLog
    from chess_ratings_spark.session import get_spark
    from chess_ratings_spark.streaming import stream_ops

    spark = get_spark("crs-staging-exit-test")
    ev = tables.load(spark, sys.argv[2], "events")
    work = sys.argv[3]
    stream_ops._land_slice(
        ev.filter("user_id % 2 = 0").select(
            "event_type", F.floor(F.col("value") * 100).cast("bigint").alias("vc")
        ),
        work + "/stream_in",
    )
    TableLog(work + "/table").append(ev.filter("event_id % 3 = 0"), n_files=2, tag="a")
    print(json.dumps(sorted(os.listdir(os.environ["TMPDIR"]))))
    spark.stop()
    """
)


def test_staged_dirs_are_removed_at_exit(tmp_path):
    """A stream slice landing and a TableLog append of a fixture slice
    stage their rows in TMPDIR for the life of the process; a clean
    exit leaves none of those dirs behind."""
    dirs = {k: tmp_path / k for k in ("tmp", "local", "work")}
    for d in dirs.values():
        d.mkdir()
    env = dict(os.environ)
    env.update(
        TMPDIR=str(dirs["tmp"]),
        SPARK_LOCAL_DIRS=str(dirs["local"]),
        SPARK_GRAFT_CPUS="2",
        SPARK_DRIVER_MEM="1g",
    )
    proc = subprocess.run(
        [sys.executable, "-c", _STAGING_DRIVER, str(REPO), SF_SMOKE, str(dirs["work"])],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    before_exit = json.loads(proc.stdout.strip().splitlines()[-1])
    assert [d for d in before_exit if not d.startswith("crs_pkg_")], (
        "nothing was staged, so the exit check would prove nothing"
    )
    assert not list(dirs["tmp"].glob("crs_*"))
