"""Plan-quality gate: the physical properties that matter at 100 TB
are asserted, not assumed — pushdown, pruning, join strategy.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from perfbench.workloads import LLM_POOL, OLAP_POOL
from sparkifydb_datawarehouse_spark import registry
from sparkifydb_datawarehouse_spark.plans import (
    join_strategies,
    pushed_filters,
    read_schemas,
)
from sparkifydb_datawarehouse_spark.tables import load_table
from tools.validate import jobs_of, roundtrips_of

registry.load_all_modules()

SNAPSHOT_QUERIES = tuple(sorted(q for q in registry.QUERIES if q.startswith("q_snapshot_")))


def test_filter_reaches_parquet_scan(spark, sf_dir):
    df = registry.QUERIES["q_filter_eq"](spark, sf_dir)
    filters = pushed_filters(df)
    assert any("EqualTo(event_type,purchase)" in f for f in filters), filters


def test_projection_prunes_columns(spark, sf_dir):
    df = registry.QUERIES["q_project_alias"](spark, sf_dir)
    schemas = read_schemas(df)
    assert len(schemas) == 1
    # 3 of 6 orders columns requested → exactly 3 read
    assert schemas[0].count(":") == 3, schemas[0]


def test_flagship_broadcasts_all_dims(spark, sf_dir):
    df = registry.QUERIES["q_flagship_revenue_by_region"](spark, sf_dir)
    strategies = join_strategies(df)
    assert strategies and all(s == "BroadcastHashJoin" for s in strategies), strategies


def test_range_join_stays_hash_based(spark, sf_dir):
    """The residual range predicate must NOT demote the join to a
    nested-loop/cartesian plan — the equi key keeps it hash-based."""
    df = registry.QUERIES["q_join_range"](spark, sf_dir)
    strategies = join_strategies(df)
    assert strategies, "expected a join in the plan"
    assert not any(
        s in ("BroadcastNestedLoopJoin", "CartesianProduct") for s in strategies
    ), strategies


def test_semi_join_is_semi(spark, sf_dir):
    df = registry.QUERIES["q_join_semi"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, plan[:800]


def test_sort_limit_is_take_ordered(spark, sf_dir):
    df = registry.QUERIES["q_sort_limit"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan[:800]


def test_minhash_shuffle_carries_sketches_not_text(spark, sf_dir):
    """The LSH pipeline's shuffles must move (band, band_sig, doc_id)
    and sketch arrays — never the raw text column."""
    df = registry.QUERIES["q_dedup_fuzzy_minhash"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text#" not in line, line


def test_exists_compiles_to_semi_join(spark, sf_dir):
    """Correlated EXISTS must plan as a semi join, never a per-row
    subquery loop."""
    df = registry.QUERIES["q_subquery_exists"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, plan[:800]


def test_lateral_topk_has_no_cartesian(spark, sf_dir):
    """The correlated LATERAL aggregate must decorrelate — a
    CartesianProduct in the plan means per-outer-row re-execution."""
    df = registry.QUERIES["q_lateral_topk"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan[:800]


def test_q6_all_predicates_pushed(spark, sf_dir):
    """TPC-H Q6 is pure scan+filter+agg: all four predicates must reach
    the parquet reader, and only the four referenced columns are read."""
    df = registry.QUERIES["q_tpch_q6_forecast_revenue"](spark, sf_dir)
    filters = " ".join(pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in filters, filters
    schemas = read_schemas(df)
    assert schemas and schemas[0].count(":") == 4, schemas


def test_q18_semi_join_before_wide_join(spark, sf_dir):
    """The HAVING subquery must reach lineitem as a semi join (only
    qualifying orderkeys flow into the customer/orders join)."""
    df = registry.QUERIES["q_tpch_q18_large_customers"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, plan[:1200]


def test_sessionize_single_shuffle(spark, sf_dir):
    """Both windows + the session agg share the user_id partitioning:
    exactly one exchange in the whole plan."""
    df = registry.QUERIES["q_sessionize_gap"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # final orderBy adds a range exchange; everything upstream must
    # reuse one hash exchange on user_id
    hash_exchanges = plan.count("hashpartitioning")
    assert hash_exchanges <= 1, f"{hash_exchanges} hash exchanges:\n{plan[:1500]}"


def test_q19_disjunction_no_shuffle(spark, sf_dir):
    """Q19's OR'd conjunct groups must not defeat the broadcast join or
    force a shuffle: part broadcasts, the agg is partial+final over the
    join output — zero hash exchanges in the whole plan."""
    df = registry.QUERIES["q_tpch_q19_disjunctive_filter"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:800]
    assert plan.count("hashpartitioning") == 0, plan[:800]


def test_q20_aggregates_before_supplier_join(spark, sf_dir):
    """The HAVING subquery must aggregate lineitem FIRST and reach
    supplier as a semi join — supplier rows never multiply against raw
    lineitem."""
    df = registry.QUERIES["q_tpch_q20_heavy_shippers"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, plan[:1200]
    # the semi join's build side is the aggregated heavy set, so a
    # HashAggregate must appear BEFORE (deeper than) the semi join node
    semi_pos = plan.index("LeftSemi")
    assert "HashAggregate" in plan[semi_pos:], plan[:1200]


def test_q13_left_join_keeps_preserved_side(spark, sf_dir):
    """Q13's priority filter lives on the inner (orders) side; the
    customer side must stay outer-preserved (no silent inner-join
    rewrite) so zero-order customers survive with count 0."""
    df = registry.QUERIES["q_tpch_q13_customer_distribution"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftOuter" in plan, plan[:1200]


def test_decontaminate_broadcasts_eval_grams(spark, sf_dir):
    """The eval-gram side is benchmark-sized — it must broadcast; the
    train side's only shuffles are the doc_id window/aggregations."""
    df = registry.QUERIES["q_text_decontaminate"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:1200]


def test_runtime_bloom_filter_injects_on_selective_join(spark, sf_dir):
    """100 TB posture: when a selective dim filter feeds a shuffle
    join, Spark injects a runtime Bloom filter on the fact side
    (bloom_filter_might_contain) so non-matching rows die at the scan,
    before shuffling. Verified with the size thresholds lowered to
    fixture scale; at production scale the defaults (10 MB creation
    side) apply."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).agg(
            F.sum("l_extendedprice").alias("s")
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan[:1500]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_fuzzy_join_is_hash_not_nested_loop(spark, sf_dir):
    """Banded blocking must keep the edit-distance join hash-based —
    a nested-loop here is the O(n²) failure the banding exists to
    prevent."""
    df = registry.QUERIES["q_join_fuzzy_levenshtein"](spark, sf_dir)
    strategies = join_strategies(df)
    assert strategies, "expected a join in the plan"
    assert not any(
        s in ("BroadcastNestedLoopJoin", "CartesianProduct") for s in strategies
    ), strategies


def test_interval_overlap_is_hash_not_nested_loop(spark, sf_dir):
    df = registry.QUERIES["q_join_interval_overlap"](spark, sf_dir)
    strategies = join_strategies(df)
    assert strategies, "expected a join in the plan"
    assert not any(
        s in ("BroadcastNestedLoopJoin", "CartesianProduct") for s in strategies
    ), strategies


def test_cdc_apply_single_shuffle_with_partial_agg(spark, sf_dir):
    """The change-log fold must be one key shuffle with map-side
    partial aggregation (max_by combines), not a window sort."""
    df = registry.QUERIES["q_cdc_apply"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan[:1500]
    # exactly one exchange before the final presentation sort
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"{n_exchanges} hash exchanges:\n{plan[:1500]}"


def test_table_diff_shuffles_hashes_not_rows(spark, sf_dir):
    """The diff join's inputs must be (key, xxhash64) projections —
    value columns are hashed map-side, before the exchange."""
    df = registry.QUERIES["q_table_diff"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64" in plan, plan[:1500]


def test_masked_view_rls_predicate_pushed(spark, sf_dir):
    """The row-level-security filter must reach the parquet scan —
    suppressed rows are never read, not read-then-dropped."""
    df = registry.QUERIES["q_masked_view"](spark, sf_dir)
    filters = pushed_filters(df)
    assert any("c_mktsegment" in f and "BUILDING" in f for f in filters), filters
    schemas = read_schemas(df)
    assert schemas and "c_name" not in schemas[0], schemas  # suppression prunes


def test_pit_join_is_hash_not_nested_loop(spark, sf_dir):
    """PIT containment: the user_id equi-key must keep the version
    join hash-based; the validity-range predicate is residual."""
    df = registry.QUERIES["q_pit_join"](spark, sf_dir)
    strategies = join_strategies(df)
    assert strategies, "expected a join in the plan"
    assert not any(
        s in ("BroadcastNestedLoopJoin", "CartesianProduct") for s in strategies
    ), strategies


def test_stream_enrich_broadcasts_dim(spark, sf_dir):
    df = registry.QUERIES["q_stream_enrich"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:800]


def test_keyset_cursor_pushed_and_take_ordered(spark, sf_dir):
    """The pagination cursor must reach the parquet scan (file pruning
    at scale) and the page must plan as per-partition top-k, not a
    global sort."""
    from sparkifydb_datawarehouse_spark.plans.inspect import pushed_filters

    df = registry.QUERIES["q_keyset_pagination"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan[:800]
    pushed = " ".join(pushed_filters(df))
    assert "o_orderdate" in pushed, pushed


def test_scalar_crossjoins_are_broadcast_not_cartesian(spark, sf_dir):
    """Every 1-row-side crossJoin in the repo carries an explicit
    F.broadcast hint; the physical plan must show BroadcastNestedLoop
    (a broadcast of one row) and never CartesianProduct (a full
    shuffle-side pairing that would be catastrophic at 100 TB if the
    'scalar' side ever stopped being scalar). Representative queries
    covering every crossJoin call site family: referential audit,
    equi-width histogram, percent-of-total style share, and the
    rolling-WAU bound filter."""
    for qid in (
        "q_dq_referential",
        "q_histogram_equiwidth",
        "q_rolling_distinct_users",
    ):
        plan = (
            registry.QUERIES[qid](spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan, (qid, plan[:800])
        assert "BroadcastNestedLoop" in plan, (qid, plan[:800])


def test_chunking_is_map_only(spark, sf_dir):
    """Document chunking must compute chunk rows without ANY shuffle —
    the only Exchange allowed is the deterministic output sort. At
    100 TB the chunker inherits upstream partitioning for free."""
    plan = (
        registry.QUERIES["q_text_chunking"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1, plan[:1200]


def test_ewma_single_key_shuffle(spark, sf_dir):
    """EWMA = one user_id window shuffle + the output sort; a
    self-join or fan-out formulation would show more."""
    plan = (
        registry.QUERIES["q_ts_ewma"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") <= 2, plan[:1200]


def test_bucketed_join_query_has_no_hash_shuffle(spark, sf_dir):
    """q_join_bucketed: the bucketed layout satisfies both the join
    and the groupBy distribution, so NO hash-partitioning Exchange may
    appear — not for the join, not for the aggregate. (At fixture
    scale Catalyst may still pick a broadcast join — a broadcast
    exchange is not a shuffle of the fact table; at production scale,
    past the broadcast threshold, the bucketed sort-merge join engages
    with the same zero-shuffle property. The output sort's range
    exchange is allowed.)"""
    plan = (
        registry.QUERIES["q_join_bucketed"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange hashpartitioning" not in plan, plan[:1500]
    assert plan.count("Exchange rangepartitioning") <= 1, plan[:1500]
    assert "Bucketed: true" in plan, plan[:1500]


def test_gopher_rules_prunes_to_two_columns(spark, sf_dir):
    """The rule filter needs only (text, source): the scan must not
    read doc_id/lang/n_chars — at 100 TB the saved columns are real
    I/O."""
    df = registry.QUERIES["q_text_gopher_rules"](spark, sf_dir)
    schemas = read_schemas(df)
    assert len(schemas) == 1
    assert schemas[0].count(":") == 2, schemas[0]


def test_containment_has_no_cartesian_and_one_fact_shuffle_chain(spark, sf_dir):
    """Candidate generation must stay an equi-join on the shingle key
    (never a cartesian/nested-loop), and the posting self-join must
    reuse the g-partitioning (no extra hashpartitioning exchanges
    between the bucket agg and the pair agg)."""
    plan = (
        registry.QUERIES["q_dedup_containment"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan.replace(
        "BroadcastNestedLoopJoin BuildRight, Cross", ""
    ), plan[:1500]  # scalar cap broadcast is the only nested-loop allowed
    # the 1-row cap frame must arrive via broadcast, not shuffle
    assert "BroadcastExchange" in plan, plan[:1500]


def test_containment_sketch_shuffles_hashes_not_text(spark, sf_dir):
    """The sketch join must carry int64 hash keys only — no raw text
    and no shingle strings may cross a shuffle (the whole point of
    the sketch)."""
    df = registry.QUERIES["q_dedup_containment_sketch"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text#" not in line and " g#" not in line, line


def test_grouped_regression_broadcasts_part_dim(spark, sf_dir):
    strategies = join_strategies(
        registry.QUERIES["q_grouped_regression"](spark, sf_dir)
    )
    assert any("BroadcastHashJoin" in s for s in strategies), strategies


def test_multitouch_single_user_shuffle(spark, sf_dir):
    """One hashpartitioning(user_id) exchange feeds the bounded RANGE
    frame; the three-way credit expansion must not re-shuffle events."""
    plan = (
        registry.QUERIES["q_multitouch_attribution"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning(user_id") == 1, plan[:1500]


def test_partition_pruned_join_has_dynamic_pruning(spark, sf_dir):
    """q_join_partition_pruned's fact scan must carry a
    dynamicpruningexpression in its PartitionFilters — the dim filter
    is on an attribute, so only runtime pruning can restrict the scan
    to the qualifying nation partitions."""
    plan = (
        registry.QUERIES["q_join_partition_pruned"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "dynamicpruning" in plan.lower(), plan[:1500]


def test_skew_join_aqe_split_fires(spark, sf_dir):
    """q_join_skew_aqe (VERDICT r4 #6): with the skew thresholds
    scaled down to fixture size (production defaults are 256 MB — the
    MECHANISM is what's under test, not the default trigger point),
    AQE must detect the planted hot partition (~half of lineitem on
    k = 0) and split it: `skew=true` on the executed SortMergeJoin.
    Broadcast demotion is disabled so the runtime can't convert the
    97-row dim side and dissolve the skew before the optimizer sees
    it."""
    confs = {
        # fixture shuffle partitions compress to a few KB, so the
        # byte floor sits at 256B (vs the 256MB production default)
        # and the factor at 1.5x median — the planted hot partition
        # carries ~half the rows, far beyond either bound
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "256",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.5",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {}
    for k in confs:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = registry.QUERIES["q_join_skew_aqe"](spark, sf_dir)
        rows = df.collect()  # executes THIS plan, finalizing AQE
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, plan[:500]
        assert "skew=true" in plan, plan[:2500]
        # value sanity under the skew-split plan: half the fact table
        # must still land on K0 exactly once
        k0 = next(r for r in rows if r["k_name"] == "K0")
        total = sum(r["n_rows"] for r in rows)
        assert k0["n_rows"] >= total * 0.45, (k0, total)
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_partitioned_copy_rebuilds_when_fixture_regenerated(spark, sf_dir, tmp_path):
    """The DPP helper's materialized-copy cache keys on the SOURCE
    parquet fingerprint (ADVICE r4): regenerating the fixture under the
    same sf_dir must rebuild the partitioned copy, not serve the stale
    one."""
    import shutil

    from sparkifydb_datawarehouse_spark.sources.layout import _partitioned_customer
    from sparkifydb_datawarehouse_spark.tables import load_table

    d = str(tmp_path / "sf")
    (tmp_path / "sf").mkdir()
    src = f"{sf_dir}/customer.parquet"
    dst = f"{d}/customer.parquet"
    (shutil.copytree if __import__("os").path.isdir(src) else shutil.copyfile)(
        src, dst
    )
    n_full = spark.read.parquet(_partitioned_customer(spark, d)).count()
    assert n_full == load_table(spark, sf_dir, "customer").count()

    # regenerate the fixture in place: half the customers
    half = load_table(spark, sf_dir, "customer").filter("c_custkey % 2 = 0")
    n_half = half.count()
    shutil.rmtree(dst, ignore_errors=True)
    half.toPandas().to_parquet(dst)  # plain file, new mtime/size
    n_after = spark.read.parquet(_partitioned_customer(spark, d)).count()
    assert n_after == n_half != n_full


def test_substring_dedup_prunes_to_id_and_text(spark, sf_dir):
    """The span-dedup scans must read only (doc_id, text) of the
    documents table — a scan dragging lang/source/n_chars along for a
    2-column operator is wrong at 100 TB."""
    for qid in ("q_text_substring_dedup", "q_text_substring_scrub"):
        for schema in read_schemas(registry.QUERIES[qid](spark, sf_dir)):
            assert schema.count(":") == 2, (qid, schema)
            assert "doc_id" in schema and "text" in schema, (qid, schema)


def test_substring_dedup_shuffles_hashes_not_text(spark, sf_dir):
    """The cross-doc window join must move 8-byte hashes, never the
    window strings: no Exchange output row may carry a gram/text
    string column."""
    plan = (
        registry.QUERIES["q_text_substring_dedup"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text#" not in line and "gram" not in line, line


def test_group_split_assignment_is_map_side(spark, sf_dir):
    """q_sample_group_split: the only exchanges are the summary agg
    and the final sort — the split assignment itself must not shuffle
    (at 100 TB it runs inside the scan stage)."""
    df = registry.QUERIES["q_sample_group_split"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 3, plan[:800]
    schemas = read_schemas(df)
    assert all(s.count(":") == 2 for s in schemas), schemas


def _build_jobs(spark, sf_dir: str, query_id: str) -> int:
    """The Spark jobs that building (not running) a query runs."""
    return jobs_of(spark, lambda: registry.QUERIES[query_id](spark, sf_dir))[1]


@pytest.mark.parametrize(
    "query_id, budget",
    [
        ("q_join_cross", 2),
        ("q_subquery_exists", 2),
        ("q_subquery_scalar", 1),
        ("q_lateral_topk", 3),
        ("q_recursive_cte", 1),
        ("q_dedup_fuzzy_minhash", 8),
    ],
)
def test_build_job_budget(spark, sf_dir, query_id, budget):
    """Building each query runs at most its measured Spark jobs: the
    SQL-surface queries load only the fixture tables they name (a
    schema-inference job each on the first load per session and table
    version, none later), and the fuzzy MinHash contract counts the
    corpus inside its plan instead of with a driver-side count()."""
    n_jobs = _build_jobs(spark, sf_dir, query_id)
    assert n_jobs <= budget, f"building {query_id} ran {n_jobs} Spark jobs (budget {budget})"


@pytest.mark.parametrize("query_id", OLAP_POOL + LLM_POOL + SNAPSHOT_QUERIES)
def test_rebuild_runs_no_job(spark, sf_dir, query_id):
    """Once a query_mix pool query or a snapshot-table query has been
    built, building it again runs no Spark job: every table and data
    file it reads is in the session's catalog, and its builder runs
    nothing else."""
    _build_jobs(spark, sf_dir, query_id)
    n_jobs = _build_jobs(spark, sf_dir, query_id)
    assert n_jobs == 0, f"rebuilding {query_id} ran {n_jobs} Spark jobs"


@pytest.mark.parametrize("query_id", OLAP_POOL + LLM_POOL)
def test_rebuild_sends_no_reflection(spark, sf_dir, query_id):
    """Rebuilding a query_mix pool query sends no py4j reflection
    command: the session's JVM view keeps each class PySpark and the
    builder resolved, and each class its static methods."""

    def build():
        return registry.QUERIES[query_id](spark, sf_dir)

    build()
    _, trips = roundtrips_of(spark, build)
    assert trips["reflection"] == 0, f"rebuilding {query_id} sent {dict(trips)}"
