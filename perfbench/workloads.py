"""The benchmark's workloads: fixed query sets over the bundled sf0.01
fixtures. A run's seed only shuffles the order inside each pass.

Each set has an odd number of queries. Latencies cluster by query, so with
an even number the pooled median falls in the gap between the two middle
queries' clusters and jumps between runs (IQR/median 0.24 against 0.07
with an odd number on the same host).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "tpch",
            "TPC-H shapes: scan, shuffle, join and agg over 1-6 loaded tables; no Python UDF, no stream",
            (
                "q01_pricing_summary",
                "q02_min_cost_supplier",
                "q03_unshipped_orders",
                "q05_local_supplier_volume",
                "q18_large_volume_customer",
            ),
        ),
        Workload(
            "curation",
            "dedup, similarity, ANN and sketch operators and the localCheckpoint cuts they make",
            (
                "dedup_ngram_jaccard",
                "dedup_minhash_lsh",
                "text_decontaminate",
                "ann_cosine_topk",
                "agg_sketch_merge",
            ),
        ),
        Workload(
            "ingest",
            "writes: avro, bucketed parquet tables, streaming checkpoints and the state store inside build()",
            (
                "io_avro_roundtrip_agg",
                "io_bucketed_join_agg",
                "stream_stateful_totals",
            ),
        ),
    )
}
