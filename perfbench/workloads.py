"""Workload definitions: which registry query runs in which batch set, and
which engine module each query's time is attributed to in the traced run.

``sql`` collects queries that call no engine module beyond
``sources.load_table`` (plain DataFrame plans: TPC-H shapes, window and
event-analytics SQL).
"""

from __future__ import annotations

#: batch_relational: scan, exchange and codegen'd join/aggregate; no Python
#: workers and no driver loops.
RELATIONAL = {
    "q1_pricing_summary": "sql",
    "q5_region_revenue": "sql",
    "q21_waiting_suppliers": "sql",
    "correlated_scalar_subquery": "sql",
    "funnel_conversion": "sql",
    "group_by_agg": "ops",
    "scan_running_sum": "ops",
    "sessionize": "data",
    "time_window_hourly": "data",
    "histogram_values": "smath",
    "asof_enrich": "joins",
    "sorted_merge_strict": "joins",
}

#: batch_corpus: the Python/Arrow boundary and the eager per-round jobs of
#: the iterative operators, plus the four end-to-end flagships.
CORPUS = {
    "text_quality": "text",
    "eval_suite_builder_e2e": "text",
    "rag_ingest_pipeline_e2e": "text",
    "dedup_pipeline_e2e": "dedup",
    "embedding_topk": "vectors",
    "kmeans_table_assign_prod": "vectors",
    "graph_pagerank": "graphs",
}

BATCH_SETS = {"batch_relational": RELATIONAL, "batch_corpus": CORPUS}

#: Modules whose per-query metrics the traced run reports.
MODULES = ("sql", "ops", "data", "smath", "joins", "text", "dedup", "vectors", "graphs")

#: Table scale of the batch inputs (1.0 = 6M lineitem rows).
BATCH_SCALE = 0.01
