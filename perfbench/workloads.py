"""The benchmark's workloads: which registered suite queries each one
runs, and at which testdata scale its timed passes run. Why each
workload exists is recorded in ``BENCHMARK.json`` and ``README.md``.

Every query here is registered in ``suite.queries()`` and has a DuckDB
twin in ``suite.oracle_sql()``; ``goldens.py`` derives the stored
expected outputs from those twins.
"""

from __future__ import annotations

from dataclasses import dataclass

# Scale of the value pass (collect, then compare with the stored oracle
# digest).
VALUE_SCALE = "sf0.01"


@dataclass(frozen=True)
class Workload:
    name: str
    scale: str  # testdata directory name of the timed passes
    queries: tuple[str, ...]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "sql_analytics",
            "sf0.1",
            (
                "q1_pricing_summary",
                "q3_top_revenue_orders",
                "q18_large_volume_customers",
                "top3_orders_per_customer",
                "events_hourly_rollup",
                "doc_token_stats",
            ),
        ),
        Workload(
            "llm_curation",
            "sf0.01",
            (
                "multimodal_image_near_dups",
                "multimodal_pair_alignment",
                "customer_link_kcore",
                "doc_pack_chunks",
            ),
        ),
        Workload(
            "provision_ingest",
            "sf0.01",
            (
                "events_hll_stream",
                "uid_allocation_cdh",
                "delete_orphan_users",
                "orders_snapshot_merge_upsert",
            ),
        ),
    )
}
