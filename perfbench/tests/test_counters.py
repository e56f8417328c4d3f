"""Sanity checks for the benchmark's counters, before anyone reads them.

    python3 -m pytest perfbench/tests -q     # from the checkout root
"""

from __future__ import annotations

import statistics
import sys
import time
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench.sparkstats import EngineCounters, StreamCounters  # noqa: E402
from perfbench.tracer import Tracer  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    wh = tmp_path_factory.mktemp("warehouse")
    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-counters")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", str(wh))
        .config("spark.driver.memory", "1g")
        .getOrCreate()
    )
    yield s
    s.stop()


def _grouped(spark, group: str, fn) -> tuple[float, float]:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    t0 = time.time()
    try:
        fn()
    finally:
        t1 = time.time()
        sc._jsc.clearJobGroup()
    return t0, t1


def _sum_job(spark, n_tasks: int, rows_per_task: int = 20_000_000) -> None:
    spark.range(0, rows_per_task * n_tasks, 1, n_tasks).selectExpr("sum(id % 7) AS s").collect()


def test_executor_time_is_zero_across_idle_sleep(spark):
    engine = EngineCounters(spark)
    _sum_job(spark, 1, 1000)  # warm the code path outside the window
    engine.query(["warm"], time.time(), time.time())
    t0, t1 = _grouped(spark, "idle", lambda: time.sleep(2.0))
    c = engine.query(["idle"], t0, t1)
    assert c["spark.jobs"] == 0
    assert c["spark.exec_run_s"] == pytest.approx(0.0, abs=0.05)
    assert c["spark.exec_cpu_s"] == pytest.approx(0.0, abs=0.05)
    assert c["spark.driver_gap_s"] == pytest.approx(t1 - t0, abs=0.1)


def test_executor_time_scales_with_task_count(spark):
    engine = EngineCounters(spark)
    for n in (1, 4, 1, 4):  # compile and JIT both plan shapes first
        _sum_job(spark, n)
    engine.query(["warmup"], time.time(), time.time())
    runs = {1: [], 4: []}
    for i in range(3):  # medians of three: one slow run on a busy host is not a failure
        for n in runs:
            t0, t1 = _grouped(spark, f"n{n}-{i}", lambda: _sum_job(spark, n))
            runs[n].append(engine.query([f"n{n}-{i}"], t0, t1))
    for c in runs[1]:
        assert c["spark.tasks"] == 1
        assert c["spark.sql_execs"] >= 1 and c["spark.jobs"] >= 1
    for c in runs[4]:
        assert c["spark.tasks"] >= 4  # plus the final aggregate's task

    def ratio(key: str) -> float:
        return statistics.median(c[key] for c in runs[4]) / statistics.median(c[key] for c in runs[1])

    assert 2.5 < ratio("spark.exec_cpu_s") < 6.0
    assert 2.5 < ratio("spark.exec_run_s") < 6.0


def test_stream_batches_match_recent_progress(spark, tmp_path):
    src = tmp_path / "src"
    for i in range(3):
        spark.range(i * 10, i * 10 + 10).write.mode("append").parquet(str(src))
    streams = StreamCounters()
    spark.streams.addListener(streams)
    try:
        streams.current = "toy"
        q = (
            spark.readStream.schema("id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        streams.drain()
    finally:
        spark.streams.removeListener(streams)
    got = streams.of("toy")
    assert got["stream.queries"] == 1
    assert got["stream.batches"] == len(q.recentProgress) > 1
    assert got["stream.rows_in"] == 30


def test_tablelog_append_counts_one_commit(spark, tmp_path):
    from chess_ratings_spark.operators.tablelog import TableLog

    original = TableLog.commit
    tracer = Tracer()
    tracer.install()
    try:
        tracer.qid = "append"
        TableLog(tmp_path / "t").append(spark.range(10), 1, "t")
    finally:
        tracer.uninstall()
    assert TableLog.commit is original
    got = tracer.of("append")
    assert got["tablelog.append.calls"] == 1
    assert got["tablelog.commit.calls"] == 1
    assert got["tablelog.try_commit.calls"] == 1
    assert got["tablelog.conflicts"] == 0
    assert [s["name"] for s in tracer.dump()] == ["tablelog.append", "tablelog.commit", "tablelog.try_commit"]
