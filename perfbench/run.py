"""Benchmark command: run one workload in fresh processes, print metrics.

    python3 perfbench/run.py --workload tpch_read --seed 1 --seconds 13 --trace 0

Run it from the root of a checkout. Each run gets a private directory
under ``.perfbench/runs`` holding TMPDIR, SPARK_LOCAL_DIRS, the SQL
warehouse, the working directory and the JVM's temp dir; all but the
last are measured (``tmp_left_mb``) after the run's processes have
exited, and then the directory is removed.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A traced run
also writes its spans and per-query counters to
``.perfbench/traces/<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

from perfbench.sparkstats import ENGINE_METRICS, STREAM_METRICS  # noqa: E402
from perfbench.tracer import LAYER_METRICS  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

SF_DIR = HERE / "fixtures" / "sf0.1"
#: Driver heap: the session default (16g) is above a 15 GiB host's RAM.
DRIVER_MEM = "2g"
#: Wall limit of one run, all processes included.
RUN_LIMIT_S = 170.0


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of ``root_pid`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry.name))
    total, todo = 0, [root_pid]
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total


def _dir_bytes(path: Path) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                pass
    return total


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def _stop_group(pgid: int, grace_s: float) -> None:
    """Let a run's process group exit on its own for up to ``grace_s``
    (the JVM deletes its temp files in shutdown hooks), then kill what
    is left and wait for it."""
    deadline = time.monotonic() + grace_s
    while _group_alive(pgid) and time.monotonic() < deadline:
        time.sleep(0.05)
    if _group_alive(pgid):
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
    for _ in range(100):
        if not _group_alive(pgid):
            return
        time.sleep(0.05)


class Child:
    """One worker process in its own private directory and process group."""

    def __init__(self, root: Path, run_dir: Path, worker_args: list[str], deadline: float) -> None:
        self.run_dir = run_dir
        self.result_path = run_dir.with_suffix(".json")
        self.log_path = run_dir.with_suffix(".log")
        #: measured by ``tmp_left_bytes``; the JVM's own temp dir (native
        #: libraries it unpacks and may leave behind) is kept apart.
        self.dirs = {k: run_dir / k for k in ("tmp", "local", "warehouse", "cwd")}
        jvm_tmp = run_dir / "jvm-tmp"
        for d in (*self.dirs.values(), jvm_tmp):
            d.mkdir(parents=True, exist_ok=True)
        env = dict(os.environ)
        env.pop("OMP_NUM_THREADS", None)
        env.update(
            PYTHONPATH=str(root),
            SPARK_GRAFT_CPUS=str(_cpus()),
            SPARK_DRIVER_MEM=DRIVER_MEM,
            TMPDIR=str(self.dirs["tmp"]),
            SPARK_LOCAL_DIRS=str(self.dirs["local"]),
            PYSPARK_SUBMIT_ARGS=" ".join(
                [
                    "--conf spark.ui.showConsoleProgress=false",
                    f"--conf spark.sql.warehouse.dir={self.dirs['warehouse']}",
                    # no hsperfdata file in the system /tmp: write only in the checkout
                    f"--driver-java-options '-Djava.io.tmpdir={jvm_tmp} -XX:-UsePerfData'",
                    "pyspark-shell",
                ]
            ),
        )
        self.deadline = deadline
        self.peak_rss = 0
        t_spawn = time.time()
        with open(self.log_path, "w") as log:
            self.proc = subprocess.Popen(
                [sys.executable, "-m", "perfbench.worker", *worker_args,
                 "--out", str(self.result_path), "--t-spawn", repr(t_spawn)],
                cwd=self.dirs["cwd"],
                env=env,
                stdout=log,
                stderr=subprocess.STDOUT,
                start_new_session=True,
            )

    def wait(self) -> dict:
        done = threading.Event()

        def sample() -> None:
            while not done.wait(0.5):
                self.peak_rss = max(self.peak_rss, _tree_rss_bytes(self.proc.pid))

        sampler = threading.Thread(target=sample, daemon=True)
        sampler.start()
        code = None
        try:
            code = self.proc.wait(timeout=max(1.0, self.deadline - time.time()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            done.set()
            sampler.join()
            _stop_group(self.proc.pid, grace_s=0.0 if code is None else 10.0)
            self.proc.wait()
        if code != 0 or not self.result_path.exists():
            tail = self.log_path.read_text(errors="replace")[-4000:]
            why = "timed out" if code is None else f"exited with {code}"
            raise SystemExit(f"perfbench: worker {why}; log tail:\n{tail}")
        return json.loads(self.result_path.read_text())

    def tmp_left_bytes(self) -> int:
        return sum(_dir_bytes(d) for d in self.dirs.values())

    def cleanup(self) -> None:
        shutil.rmtree(self.run_dir, ignore_errors=True)
        for p in (self.result_path, self.log_path):
            p.unlink(missing_ok=True)


def _end_to_end(res: dict, peak_rss: int, tmp_left: int) -> tuple[dict, list[str]]:
    passes = res["passes"]
    warm = passes[1:]
    samples = [b + a for p in warm for b, a in p["queries"].values()]
    deciles = statistics.quantiles(samples, n=10, method="inclusive")
    failed = len(res["failures"])
    metrics = {
        "setup_s": (res["setup_s"], "s"),
        "first_pass_s": (passes[0]["wall"], "s"),
        "warm_pass_s": (statistics.median(p["wall"] for p in warm), "s"),
        "query_s.p50": (deciles[4], "s"),
        "query_s.p90": (deciles[8], "s"),
        "ok_share": (1.0 - failed / res["attempted"], "share"),
        "peak_rss_mb": (peak_rss / 2**20, "MB"),
        "tmp_left_mb": (tmp_left / 2**20, "MB"),
    }
    beyond = sum(1 for s in samples if s > metrics["query_s.p90"][0])
    notes = [
        f"passes: 1 first + {len(warm)} warm of {res['n_queries']} queries,"
        f" warm walls {[round(p['wall'], 2) for p in warm]}; verify {res['verify_s']:.1f} s, stop {res['stop_s']:.1f} s",
        f"query_s: {len(samples)} samples pooled over warm passes, {beyond} beyond p90",
        f"failed_share: {failed / res['attempted']:.4f} ({failed} of {res['attempted']} query executions)",
    ]
    return metrics, notes


def _per_layer(res: dict) -> tuple[dict, list[str]]:
    passes = res["passes"]
    traced = [p for p in passes[1:] if p["traced"]]
    plain = [p for p in passes[1:] if not p["traced"]]
    per_query = res["per_query"]
    names = ("plans.build_s", "plans.action_s", *LAYER_METRICS, *ENGINE_METRICS, *STREAM_METRICS)
    labels = sorted({qid.split(":", 1)[0] for qid in per_query})
    sums = {lab: dict.fromkeys(names, 0.0) for lab in labels}
    unaccounted = {lab: 0.0 for lab in labels}
    for qid, rec in per_query.items():
        lab = qid.split(":", 1)[0]
        for n in names:
            sums[lab][n] += rec[n]
        unaccounted[lab] += rec["wall_s"] - rec["plans.build_s"] - rec["plans.action_s"]
    warm_labels = [lab for lab in labels if lab != "p0"]
    metrics = {
        n: (statistics.median(sums[lab][n] for lab in warm_labels), _unit(n)) for n in names
    }
    warm_traced = statistics.median(p["wall"] for p in traced)
    metrics["cold_tax_s"] = (passes[0]["wall"] - warm_traced, "s")
    metrics["trace.overhead_s"] = (warm_traced - statistics.median(p["wall"] for p in plain), "s")
    metrics["trace.unaccounted_s"] = (statistics.median(unaccounted[lab] for lab in warm_labels), "s")
    notes = [
        f"per-layer values: median over {len(traced)} traced warm passes of per-pass sums",
        f"trace.overhead_s: traced minus untraced warm pass, {len(traced)} vs {len(plain)} passes",
    ]
    return metrics, notes


def _unit(name: str) -> str:
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    return "count"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = Path.cwd()
    if not (root / "chess_ratings_spark" / "__init__.py").is_file():
        print(f"perfbench: no chess_ratings_spark package under {root}; run from a checkout root", file=sys.stderr)
        return 2
    if not all((SF_DIR / f"{t}.parquet").is_file() for t in ("lineitem", "events", "documents")):
        print(f"perfbench: fixtures missing under {SF_DIR}", file=sys.stderr)
        return 2

    deadline = time.time() + RUN_LIMIT_S
    work = root / ".perfbench"
    (work / "runs").mkdir(parents=True, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-{os.getpid()}"

    worker_args = [
        "--sf-dir", str(SF_DIR),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
    ]
    trace_path = None
    if args.trace:
        (work / "traces").mkdir(exist_ok=True)
        trace_path = work / "traces" / f"{args.workload}-seed{args.seed}.json"
        worker_args += ["--trace-out", str(trace_path)]
    c = Child(root, work / "runs" / tag, worker_args, deadline)
    try:
        res = c.wait()
        tmp_left = c.tmp_left_bytes()
    finally:
        c.cleanup()

    if args.trace:
        metrics, notes = _per_layer(res)
        notes.append(f"trace written to {trace_path.relative_to(root)}")
    else:
        metrics, notes = _end_to_end(res, c.peak_rss, tmp_left)
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    for line in notes:
        print(f"# {line}")
    failed = len(res["failures"])
    for name, why in res["failures"]:
        print(f"# FAILED {name}: {why}")
    print(f"# correct: {res['verified']} of {res['n_queries']} queries match their oracle")
    print(
        json.dumps(
            {
                "correct": failed == 0 and res["verified"] == res["n_queries"],
                "attempted": res["attempted"],
                "failed": failed,
                "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
