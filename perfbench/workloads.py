"""The benchmark's workloads: which registered queries each runs, over
which generated inputs, and why.

Sizes are set so that one run (set-up, cold pass, warm-up, the measured
window and the oracle check) ends in about 40 s on a 4-core host.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    sf: float       # scale factor of the generated base tables
    copies: int     # key-shifted copies of the fact tables (tools/make_sfn.py)
    tables: tuple[str, ...]  # resolved during set-up
    queries: tuple[str, ...]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="ledger_batch",
            why=(
                "ledger DAG stages and TPC-H aggregates over 2 key-shifted "
                "copies: scan, shuffle, join and sort execution dominate"
            ),
            sf=0.01,
            copies=2,
            tables=("orders", "customer", "lineitem", "part", "supplier", "nation", "region"),
            queries=(
                "join_unnest_addr",
                "agg_dedup_rownum",
                "agg_daily_sum",
                "join_hash_on_txid",
                "tpch_q1",
                "tpch_q18",
            ),
        ),
        Workload(
            name="dashboard",
            why=(
                "short analyst queries and ACID-table reads: per-query "
                "planning, py4j and scheduling overhead dominate"
            ),
            sf=0.01,
            copies=1,
            tables=("orders", "customer", "lineitem", "part", "events", "nation"),
            queries=(
                "agg_cube",
                "agg_pivot",
                "win_moving_avg",
                "fn_json_extract",
                "flt_in_subquery",
                "join_dim_broadcast",
                "tpch_q6",
                "src_time_travel",
                "snk_acid_skipping",
            ),
        ),
        Workload(
            name="curation_ingest",
            why=(
                "LLM-data curation: Python-worker UDFs, a driver-side power "
                "iteration, streaming micro-batches and ACID commits"
            ),
            sf=0.01,
            copies=1,
            tables=("documents", "embeddings", "lineitem", "events"),
            queries=(
                "dedup_embedding_cosine",
                "ml_pca_power",
                "stream_acid_sink",
                "stream_upsert_foreachbatch",
            ),
        ),
    )
}
