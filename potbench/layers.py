"""The per-layer metrics a traced run reports, with their units.

The KV workloads report ``KV_LAYERS``; spark_pipeline reports
``SPARK_LAYERS``, which shares the store, storefs and backend commit
metrics that its bucketed ingest exercises. A traced run reports the
metrics of the other set as 0 (see run.py).
"""

from __future__ import annotations

# relational (join, group-by) and LLM-data operators (lexical retrieval,
# vector similarity). q_dedup_near (about 1.6 s warm at sf0.01, the whole
# suite about 3.3 s) is left out to keep a run inside its time budget.
SUITE = ("q_multiway_join", "q_groupby_agg", "q_bm25", "q_sim_ivf")

KV_LAYERS = {
    "client.self_ms": "ms",
    "http_server.request_ms": "ms",
    "http_server.self_ms": "ms",
    "store.get_ms": "ms",
    "store.get_self_ms": "ms",
    "store.mutate_ms": "ms",
    "store.lock_wait_ms": "ms",
    "store.read_phase_ms": "ms",
    "store.write_phase_ms": "ms",
    "store.commit_phase_ms": "ms",
    "storefs.listdir_entries_per_get": "count",
    "storefs.calls_per_op": "count",
    "storefs.read_parquet_ms": "ms",
    "storefs.bytes_read_per_op": "B",
    "storefs.write_parquet_ms": "ms",
    "storefs.bytes_written_per_user_byte": "B/B",
    "backend.put_if_absent_ms": "ms",
    "backend.commit_win_ratio": "ratio",
    "trace.overhead_pct": "%",
}

SPARK_LAYERS = {
    "session.get_spark_s": "s",
    "store.create_df_bucketed_ms": "ms",
    "store.buckets_rewritten_per_commit": "count",
    "store.changes_df_ms": "ms",
    "store.get_typed_ms": "ms",
    **{f"queries.{q}_ms": "ms" for q in SUITE},
    "queries.suite_s": "s",
    "spark.jobs_per_iter": "count",
    "spark.stages_per_iter": "count",
    "spark.tasks_per_iter": "count",
    "store.lock_wait_ms": "ms",
    "store.write_phase_ms": "ms",
    "store.commit_phase_ms": "ms",
    "storefs.calls_per_op": "count",
    "backend.put_if_absent_ms": "ms",
    "backend.commit_win_ratio": "ratio",
    "trace.overhead_pct": "%",
}

LAYER_UNITS = {**KV_LAYERS, **SPARK_LAYERS}
