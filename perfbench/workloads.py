"""The benchmark's workloads: which registered queries run, on which input size.

Each workload names the scale factor of the engine's fixture it reads and
the registry queries one pass runs. The lists are small subsets of the query
library, chosen so that each engine layer does its work in one workload
and stays idle or minor in the other; ``perfbench/README.md`` maps each
layer to the workload and metric it should move.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    queries: tuple[str, ...]


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        # TPC-H scan, join, aggregate and shuffle at sf0.1: catalog loads and
        # executor work carry the time; q18 collects 29,296 rows.
        Workload(
            "tpch",
            0.1,
            (
                "q01_pricing_summary",
                "q05_revenue_by_nation",
                "q09_product_type_profit",
                "q18_large_volume_customers",
            ),
        ),
        # LLM-pipeline operators, a table write, a two-epoch micro-batch stream
        # and the pandas veneer at sf0.01: builders, Catalyst, the minhash
        # broadcast, tracked persists and epochs carry the time.
        Workload(
            "llm_ingest",
            0.01,
            (
                "dedup_minhash_lsh_pairs",
                "text_hashed_tfidf",
                "io_zorder_roundtrip",
                "stream_counter_agg",
                "frame_describe",
            ),
        ),
    )
}
