"""Workload definitions: which queries a pass runs and how its inputs are
sized.

Every workload is a closed loop with one client: one driver thread runs
the pass's queries back to back on one session.
"""

from __future__ import annotations

WORKLOADS: dict[str, dict] = {
    # The reference's own query: CSV scan -> strict equi join on Donor ID
    # -> per-state sum -> CSV sink. One large plan, bound by scan,
    # shuffle and sink, with no Python boundary.
    "donors_csv": {
        "queries": [],
        "inputs": {"n_donors": 250_000, "n_donations": 600_000},
    },
    # Many small relational plans over the star schema plus one
    # iterative plan: driver plan-build and Catalyst are a large share.
    "star_mix": {
        "queries": [
            "flagship_revenue_by_nation",
            "parity_donations_by_state",
            "agg_pricing_summary",
            "join_broadcast_region_revenue",
            "tpch_q3_shipping_priority",
            "tpch_q5_local_supplier_volume",
            "tpch_q18_large_orders",
            "window_topk_per_customer",
            "graph_pagerank_suppliers",
        ],
        "inputs": {"sf": 0.05},
    },
    # Text and dedup plans whose work is the mapInArrow folds of
    # operators/text.py and operators/dedup.py (the Python boundary).
    "text_dedup": {
        "queries": [
            "text_inverted_index",
            "dedup_minhash_lsh",
            "dedup_exact_substr_spans",
        ],
        "inputs": {"docs": 5_000},
    },
}
