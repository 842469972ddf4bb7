"""The benchmark's workloads: which operator keys each pass runs, and why.

Both workloads read the same sf0.1 corpus and run as one client in a closed
loop on ``local[nproc]``. A run is budgeted at about a minute: set-up
(about 12 s), a cold pass and eight warm passes. Key lists are
sized for warm passes of about 4 s on a 4-vCPU host.
"""

from __future__ import annotations

WORKLOADS: dict[str, dict] = {
    "olap_batch": {
        "why": (
            "JVM scan, exchange and broadcast joins do the work; no Python "
            "worker runs and nothing is written"
        ),
        "keys": [
            "join_star_multiway",
            "agg_group_hash",
            "win_row_number_topk",
            "tpch_q1_pricing",
            "tpch_q3_shipping",
            "tpch_q5_local_supplier",
            "tpch_q6_forecast",
            "tpch_q13_cust_dist",
            "tpch_q14_promo_share",
        ],
    },
    "etl_write": {
        "why": (
            "eager writes, commits, checkpoints and micro-batches beside reads; "
            "most of each pass is operator build and it leaves files on disk"
        ),
        "keys": [
            "sink_hive_partitioned",
            "etl_upsert_keyed",
            "etl_partition_overwrite_dynamic",
            "stream_stateful_counter",
            "stream_foreachbatch_upsert",
        ],
    },
}
