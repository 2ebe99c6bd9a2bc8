"""ANN retrieval-quality gates (VERDICT r3 #5): recall@k measured
against brute-force ground truth, with pinned floors at the oracle
fixture (sf0.01) and monotonicity along each method's quality dial
(IVF nprobe, multi-probe LSH radius)."""

from __future__ import annotations

import pytest

from sparkifydb_datawarehouse_spark import registry
from conftest import SF_ORACLE

from sparkifydb_datawarehouse_spark.llm.similarity import similarity_ivf_nprobe

registry.load_all_modules()


@pytest.fixture(scope="module")
def recall_rows(spark):
    return registry.QUERIES["q_ann_recall"](spark, SF_ORACLE).collect()


@pytest.fixture(scope="module")
def recall_table(recall_rows):
    return {(r["method"], r["probe_param"]): r["recall"] for r in recall_rows}


def test_recall_floors_at_fixture(recall_table):
    # floors pinned from the 2026-08-14 measurement at sf0.01:
    # ivf 0.9 / 1.0 / 1.0 over nprobe 1/2/4; lsh 0.0/0.1/0.5/0.7 over
    # radius 0-3. Floors sit one notch below so fixture regeneration
    # with the same generator doesn't flap the gate.
    assert recall_table[("ivf", 1)] >= 0.8
    assert recall_table[("ivf", 2)] >= 0.9
    assert recall_table[("ivf", 4)] >= 0.9
    assert recall_table[("sign_lsh", 3)] >= 0.6


def test_multitable_lsh_lifts_radius0_recall(recall_table):
    """VERDICT r4 #5: L independent 4-bit tables must lift the
    radius-0 operating point from single-table's measured 0.0 to
    >= 0.5 (measured 0.6/0.6/0.7 at L=8 across sf0.001/0.01/0.1)."""
    assert recall_table[("lsh_multitable", 8)] >= 0.5
    # more tables never hurt recall
    assert (
        recall_table[("lsh_multitable", 2)]
        <= recall_table[("lsh_multitable", 4)]
        <= recall_table[("lsh_multitable", 8)]
    )


def test_bucket_volume_accounting(recall_rows):
    """n_cand is the honest cost ledger: monotone in each method's
    probe param, and every method examines fewer candidates than the
    brute-force scan over the full corpus."""
    by = {(r["method"], r["probe_param"]): r for r in recall_rows}
    n_corpus = 499 if "0.01" in SF_ORACLE or "0.001" in SF_ORACLE else None
    for (m, keys) in (
        ("sign_lsh", [0, 1, 2, 3]),
        ("lsh_multitable", [2, 4, 8]),
        ("ivf", [1, 2, 4]),
    ):
        vols = [by[(m, k)]["n_cand"] for k in keys]
        assert vols == sorted(vols), (m, vols)
        if n_corpus:
            assert all(v < n_corpus for v in vols), (m, vols)
    kinds = {r["method"]: r["param_kind"] for r in recall_rows}
    assert kinds == {
        "sign_lsh": "radius",
        "lsh_multitable": "n_tables",
        "ivf": "nprobe",
    }


def test_recall_monotone_in_probe_width(recall_table):
    assert (
        recall_table[("ivf", 1)]
        <= recall_table[("ivf", 2)]
        <= recall_table[("ivf", 4)]
    )
    assert (
        recall_table[("sign_lsh", 0)]
        <= recall_table[("sign_lsh", 1)]
        <= recall_table[("sign_lsh", 2)]
        <= recall_table[("sign_lsh", 3)]
    )


def test_single_bucket_lsh_weakness_is_documented(recall_table):
    # the harness EXISTS to expose this: 8 sign bits over near-random
    # fixture embeddings put the query's true neighbors in buckets at
    # Hamming distance 1-5, so the classic single-bucket probe recalls
    # ~nothing. If this ever rises above 0.5 the fixture changed
    # character and the pinned floors above should be re-measured.
    assert recall_table[("sign_lsh", 0)] <= 0.5


def test_ivf_nprobe1_matches_registered_single_cell_query(spark):
    """nprobe=1 must reproduce q_similarity_ivf exactly (the query's
    own cell IS its nearest centroid)."""
    got = {
        r["vec_id"]
        for r in similarity_ivf_nprobe(spark, SF_ORACLE, nprobe=1).collect()
    }
    want = {
        r["vec_id"]
        for r in registry.QUERIES["q_similarity_ivf"](spark, SF_ORACLE).collect()
    }
    assert got == want


def test_pq_adc_recall_vs_exact_l2(spark):
    """PQ/ADC top-10 vs exact-L2 brute-force ground truth: with 8
    subspaces x 8 centroids the codebook is tiny, so we gate a modest
    floor — the point is the measurement exists (ADC ordering is a
    REAL approximation here, unlike the identically-bucketed oracles)."""
    from pyspark.sql import functions as F

    emb = (
        registry.QUERIES["q_similarity_pq"](spark, SF_ORACLE)
        .select("vec_id")
        .collect()
    )
    pq_ids = {r["vec_id"] for r in emb}

    vecs = (
        spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    )
    q = vecs.filter(F.col("vec_id") == 0).select(F.col("emb").alias("q_emb"))
    l2 = F.aggregate(
        F.zip_with("emb", "q_emb", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    truth = {
        r["vec_id"]
        for r in (
            vecs.filter(F.col("vec_id") != 0)
            .crossJoin(F.broadcast(q))
            .select("vec_id", l2.alias("d"))
            .orderBy("d", "vec_id")
            .limit(10)
            .collect()
        )
    }
    recall = len(pq_ids & truth) / 10.0
    # measured 2026-08-14 at sf0.01; floor one notch below measurement
    assert recall >= 0.3, f"PQ recall@10 collapsed: {recall} ({pq_ids} vs {truth})"


def test_pca_invariants(spark):
    """q_embedding_pca (contract form since r6): all invariant flags
    must be 1 on the fixture, anchors consistent, deterministic."""
    rows = registry.QUERIES["q_embedding_pca"](spark, SF_ORACLE).collect()
    assert [r["component"] for r in rows] == [1, 2, 3]
    for r in rows:
        assert r["ratio_in_range"] == 1
        assert r["ratios_sum_le_1"] == 1
        assert r["eigs_nonincreasing"] == 1
        assert r["unit_norm_ok"] == 1
        assert r["orthogonal_ok"] == 1
        assert r["n_vectors"] > 0 and r["total_var"] > 0
    again = registry.QUERIES["q_embedding_pca"](spark, SF_ORACLE).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in rows]


def test_pca_matches_numpy_eigh(spark):
    """Power-iteration eigenvalues agree with numpy's full eigensolve
    on the same covariance matrix (top-3, 1e-4 tolerance)."""
    import numpy as np

    from pyspark.sql import functions as F

    from sparkifydb_datawarehouse_spark.llm.similarity import (
        _covariance_gram,
        _pca_topk,
    )

    emb = (
        spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
        .select(F.col("embedding").cast("array<double>").alias("emb"))
    )
    _, _, cov = _covariance_gram(emb)
    true_top = sorted(np.linalg.eigvalsh(cov))[::-1][:3]
    got, _ = _pca_topk(cov)
    for g, t in zip(got, true_top):
        assert abs(g - t) < 1e-4, (got, true_top)


def test_markov_attribution_invariants(spark):
    """Removal effects in [0,1]; attribution shares normalize to 1;
    every channel present; deterministic. The r7 contract form must
    carry the same claims as oracled flags."""
    from sparkifydb_datawarehouse_spark.operators.ts_advanced import (
        markov_attribution_detail,
    )

    rows = markov_attribution_detail(spark, SF_ORACLE).collect()
    assert {r["channel"] for r in rows} == {"click", "view", "signup", "error"}
    for r in rows:
        assert 0.0 <= r["removal_effect"] <= 1.0
        assert r["n_touches"] > 0
    assert abs(sum(r["attribution"] for r in rows) - 1.0) < 1e-4
    again = markov_attribution_detail(spark, SF_ORACLE).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in rows]
    flagged = registry.QUERIES["q_markov_attribution"](spark, SF_ORACLE).collect()
    assert {r["channel"]: r["n_touches"] for r in flagged} == {
        r["channel"]: r["n_touches"] for r in rows
    }
    assert all(
        r["effects_in_unit_range"] == 1 and r["attribution_normalized"] == 1
        for r in flagged
    )


@pytest.mark.filterwarnings("error::DeprecationWarning")
def test_markov_attribution_solves_without_deprecation_warning(spark, sf_dir):
    """The absorption solve reads its (n, 1) result as a scalar by index:
    building and collecting the query raises no DeprecationWarning
    (NumPy deprecates float() of a one-element array)."""
    rows = registry.QUERIES["q_markov_attribution"](spark, sf_dir).collect()
    assert rows


def test_semantic_dedup_recall_and_determinism(spark):
    """q_dedup_semantic: the realized multi-probe recall flag must be
    1 on the fixture (measured 0.961 at sf0.01 vs the 0.85 floor),
    anchors positive, and the whole row reproducible."""
    rows = registry.QUERIES["q_dedup_semantic"](spark, SF_ORACLE).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_anchor_true"] > 0
    assert r["nprobe"] == 3
    assert r["recall_ge_floor"] == 1
    again = registry.QUERIES["q_dedup_semantic"](spark, SF_ORACLE).collect()
    assert [tuple(x) for x in again] == [tuple(x) for x in rows]
