"""The workloads: what each generates and which operations it runs.

A run measures a fixed amount of work: round(seconds / seconds_per_pass)
pipeline runs or pool passes (at least two). seconds_per_pass is set
so that `--seconds 15` gives five pipeline runs (35 statements) or four
pool passes (28 queries), about 15 and 20 s on a quiet 4-core host.

An operation (op) is one unit the closed-loop client waits for: a
registry query on `query_mix` (build the DataFrame, then run it to
completion with a noop write), and one staging COPY or star-table
INSERT statement of the Sparkify pipeline on `etl_sparkify`, whose
pipeline runs one create + process at a time.
"""

from __future__ import annotations

# Relational queries of operators/: joins, shuffles, windows, TPC-H
# composites. No Python UDFs, so the UDF workers stay idle for them. An
# odd pool size keeps the median latency inside one query's samples.
OLAP_POOL = (
    "q_tpch_q3_shipping_priority",
    "q_window_rank",
    "q_agg_rollup",
    "q_tpch_q6_forecast_revenue",
)

# Queries of llm/: expression-heavy BM25 text scoring and cosine top-k,
# whose builders cost more than their execution, and a PNG decode in
# Python UDF workers.
LLM_POOL = (
    "q_text_bm25",
    "q_similarity_topk",
    "q_multimodal_decode_png",
)

WORKLOADS = {
    # the paper's own pipeline: JSON staging parse + five transforms +
    # parquet writes, over a seeded 30k-event corpus in 16 files
    "etl_sparkify": {
        "kind": "etl",
        "events": 30_000,
        "files": 16,
        "warmup_passes": 2,
        "seconds_per_pass": 3.0,
    },
    # both query pools, interleaved in a seeded order each pass, over
    # seeded TPC-H-shaped tables (120k lineitem rows), 1000 documents
    # and 500 embeddings
    "query_mix": {
        "kind": "pool",
        "pool": OLAP_POOL + LLM_POOL,
        "sf": 0.02,
        "docs": 1000,
        "embeddings": 500,
        "warmup_passes": 2,
        "seconds_per_pass": 3.75,
    },
}
