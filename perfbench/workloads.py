"""The benchmark's workloads: fixed, named slices of the query registry.

Each workload is an explicit list of registered query names. The list
is checked against the registry's tags when a run starts, so a renamed
or re-tagged query stops the benchmark instead of silently changing
what it measures. The seed only permutes the order inside each pass.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

#: Registry tags of the slices the lake_stream_udf queries come from:
#: lake_write, stream_microbatch and llm_udf.
WRITE_PATH_TAGS = frozenset(
    {"lakehouse", "streaming", "dedup", "similarity", "text", "embeddings", "corpus", "multimodal", "graph"}
)


@dataclass(frozen=True)
class Workload:
    name: str
    tags: frozenset[str]
    #: Nominal warm pass time on a 4-CPU host. With ``--seconds`` it fixes
    #: how many warm passes a run makes, so every run, on every commit,
    #: does the same work instead of as many passes as fit in the time.
    pass_s: float
    queries: tuple[str, ...]

    def warm_passes(self, seconds: float) -> int:
        """At least three: the seed draws a new query order for every
        pass and the cost depends on order, so fewer passes make the
        median swing with the seed."""
        return max(3, round(seconds / self.pass_s))

    def check(self, registry) -> None:
        """Every query is registered and carries a tag of its slice."""
        for q in self.queries:
            if q not in registry:
                raise SystemExit(f"workload {self.name}: {q} is not registered")
            if not self.tags & set(registry[q].tags):
                raise SystemExit(f"workload {self.name}: {q} has tags {sorted(registry[q].tags)}")

    def orders(self, seed: int):
        """Seed-derived permutations of the query list, one per pass."""
        rng = random.Random(seed)
        while True:
            yield rng.sample(self.queries, len(self.queries))


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            # Control: read-only Catalyst, join and shuffle work with almost
            # all time in the final action; no TableLog, streaming or Python
            # UDF code runs, so changes there should leave it unchanged.
            "tpch_read",
            frozenset({"tpch"}),
            3.3,
            (
                "q1_pricing_summary",
                "q3_shipping_priority",
                "q5_local_supplier",
                "q13_customer_distribution",
            ),
        ),
        Workload(
            # Eager driver-side work inside q.fn, one to three queries from each
            # of the lake_write, stream_microbatch and llm_udf slices.
            "lake_stream_udf",
            WRITE_PATH_TAGS,
            8.5,
            (
                # lake_write slice: TableLog landings, commits, OPTIMIZE rewrite
                "lake_optimize_commit",
                # stream_microbatch slice: micro-batches, checkpoint/WAL
                # commits, TableLog sink
                "stream_sink_tablelog",
                # llm_udf slice: Arrow Python workers, similarity top-k, an
                # iterative graph operator with local checkpoints
                "udf_map_in_arrow",
                "sim_topk_cosine",
                "graph_bfs_layers",
            ),
        ),
    )
}
