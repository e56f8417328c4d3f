"""Spans and counters recorded around calls into the program's layers.

The tracer patches public functions from the outside: module functions
in their defining module and in every ``chess_ratings_spark`` module
that bound the same object with ``from ... import``, and ``TableLog``
methods on the class. ``uninstall`` puts every original back, so a run
can alternate traced and untraced passes in one process.

Spans are kept in memory as ``[id, name, start, end, parent, qid]``
and written once, when the run ends.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from collections import Counter
from contextlib import contextmanager

TABLELOG_METHODS = (
    "commit",
    "try_commit",
    "append",
    "optimize",
    "snapshot",
    "update_cow",
    "update_mor",
    "merge_mor",
    "write_checkpoint",
    "vacuum",
)

#: Public entry points the plans call, per operator module.
SIMILARITY_FNS = (
    "band_keys",
    "brute_force_topk",
    "capped_shingle_index",
    "cosine",
    "ivf_topk",
    "kmeans_cells",
    "label_centroids",
    "lsh_candidate_pairs",
    "minhash_signatures",
    "shingle_sets",
    "shingles",
    "signbit_lsh_pairs",
    "simhash_near_pairs",
    "verified_jaccard_pairs",
)
GRAPH_FNS = (
    "bfs_layers",
    "connected_components",
    "connected_components_twostar",
    "kcore_peel",
    "label_propagation",
    "pagerank_fixedpoint",
)

LAYER_METRICS = (
    "tables.load.calls",
    "tables.load.s",
    *(f"tablelog.{m}.{k}" for m in TABLELOG_METHODS for k in ("calls", "s")),
    "tablelog.conflicts",
    "stream_ops.calls",
    "stream_ops.s",
    *(f"similarity.{f}.s" for f in SIMILARITY_FNS),
    *(f"graph.{f}.s" for f in GRAPH_FNS),
)


def _stream_ops_fns(mod) -> list[str]:
    return sorted(
        n
        for n, v in vars(mod).items()
        if not n.startswith("_") and callable(v) and getattr(v, "__module__", None) == mod.__name__
        and not isinstance(v, type)
    )


class Tracer:
    def __init__(self) -> None:
        self.spans: list[list] = []
        self.counters: dict[str | None, Counter] = {}
        self.qid: str | None = None
        self.query_span: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self._t0 = time.perf_counter()

    # -- spans and counters ----------------------------------------------

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def open(self, name: str) -> list:
        stack = self._stack()
        with self._lock:
            parent = stack[-1] if stack else self.query_span
            rec = [len(self.spans), name, time.perf_counter() - self._t0, None, parent, self.qid]
            self.spans.append(rec)
        stack.append(rec[0])
        return rec

    def close(self, rec: list) -> float:
        rec[3] = time.perf_counter() - self._t0
        self._stack().pop()
        return rec[3] - rec[2]

    @contextmanager
    def span(self, name: str):
        rec = self.open(name)
        try:
            yield rec
        finally:
            self.close(rec)

    def count(self, key: str, value: float = 1.0) -> None:
        with self._lock:
            self.counters.setdefault(self.qid, Counter())[key] += value

    def of(self, qid: str) -> dict[str, float]:
        with self._lock:
            c = self.counters.get(qid, Counter())
            return {m: float(c[m]) for m in LAYER_METRICS}

    # -- patching --------------------------------------------------------

    def _wrap(self, fn, span: str, calls: str | None, secs: str, conflict=None):
        """Time ``fn`` as span ``span``. Counters are charged only by the
        outermost call that owns ``secs`` on this thread, so a layer
        calling itself (one ``stream_ops`` function using another) is
        not counted twice."""
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            active = tracer._active()
            outer = active[secs] == 0
            active[secs] += 1
            rec = tracer.open(span)
            try:
                return fn(*args, **kwargs)
            except Exception as exc:
                if conflict is not None and isinstance(exc, conflict):
                    tracer.count("tablelog.conflicts")
                raise
            finally:
                dur = tracer.close(rec)
                active[secs] -= 1
                if outer:
                    if calls:
                        tracer.count(calls)
                    tracer.count(secs, dur)

        return traced

    def _active(self) -> Counter:
        active = getattr(self._local, "active", None)
        if active is None:
            active = self._local.active = Counter()
        return active

    def _patch_function(self, mod, name: str, span: str, calls: str | None, secs: str) -> None:
        original = getattr(mod, name)
        wrapped = self._wrap(original, span, calls, secs)
        for m in list(sys.modules.values()):
            if m is None or not getattr(m, "__name__", "").startswith("chess_ratings_spark"):
                continue
            for attr, value in list(vars(m).items()):
                if value is original:
                    self._patches.append((m, attr, original))
                    setattr(m, attr, wrapped)

    def install(self) -> None:
        from chess_ratings_spark import tables
        from chess_ratings_spark.operators import graph, similarity, tablelog
        from chess_ratings_spark.streaming import stream_ops

        self._patch_function(tables, "load", "tables.load", "tables.load.calls", "tables.load.s")
        for m in TABLELOG_METHODS:
            original = vars(tablelog.TableLog)[m]
            self._patches.append((tablelog.TableLog, m, original))
            setattr(
                tablelog.TableLog,
                m,
                self._wrap(
                    original,
                    f"tablelog.{m}",
                    f"tablelog.{m}.calls",
                    f"tablelog.{m}.s",
                    conflict=tablelog.CommitConflict if m == "try_commit" else None,
                ),
            )
        for f in _stream_ops_fns(stream_ops):
            self._patch_function(stream_ops, f, f"stream_ops.{f}", "stream_ops.calls", "stream_ops.s")
        for f in SIMILARITY_FNS:
            self._patch_function(similarity, f, f"similarity.{f}", None, f"similarity.{f}.s")
        for f in GRAPH_FNS:
            self._patch_function(graph, f, f"graph.{f}", None, f"graph.{f}.s")

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    def dump(self) -> list[dict]:
        keys = ("id", "name", "start", "end", "parent", "qid")
        return [dict(zip(keys, rec)) for rec in self.spans]
