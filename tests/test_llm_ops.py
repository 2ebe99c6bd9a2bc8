"""Behavioral tests for the rows-only (non-oracle) LLM ops: the
sketch-based dedup queries must actually FIND planted near-duplicates
and must NOT pair unrelated docs.
"""

from __future__ import annotations

import pytest

from sparkifydb_datawarehouse_spark.llm import dedup


@pytest.fixture(scope="module")
def planted_dir(spark, tmp_path_factory):
    """A documents table with planted duplicate structure:
    - docs 0 and 1: identical long text (near-dup by any measure)
    - docs 2 and 3: one word changed out of 40 (high-jaccard near-dup)
    - doc 4: unrelated text
    """
    base = " ".join(f"token{i} filler common word{i % 7}" for i in range(10))
    variant = base.replace("token3", "tokenX", 1)
    unrelated = " ".join(f"zebra{i} qux{i * 3} other" for i in range(12))
    rows = [
        (0, base, "en", "srcA", len(base)),
        (1, base, "en", "srcA", len(base)),
        (2, base + " tail extra", "en", "srcA", len(base) + 11),
        (3, variant + " tail extra", "en", "srcA", len(variant) + 11),
        (4, unrelated, "en", "srcB", len(unrelated)),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = tmp_path_factory.mktemp("planted")
    df.coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


def _pairs(df):
    return {(r["doc_a"], r["doc_b"]) for r in df.collect()}


def test_minhash_finds_planted_dups(spark, planted_dir):
    pairs = _pairs(dedup.dedup_fuzzy_minhash(spark, planted_dir))
    assert (0, 1) in pairs, "identical docs must share every band"
    assert (2, 3) in pairs, "1-word-out-of-40 variant must collide in some band"
    assert not any(4 in p for p in pairs), "unrelated doc must not pair"


def test_simhash_finds_planted_dups(spark, planted_dir):
    docs = spark.read.parquet(f"{planted_dir}/documents.parquet")
    df = dedup.simhash_pairs(docs)
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in df.collect()}
    assert pairs.get((0, 1)) == 0, "identical docs → identical simhash"
    assert (2, 3) in pairs, "near-identical docs within hamming threshold"
    assert not any(4 in p for p in pairs), "unrelated doc must not pair"
    # the r8 contract form: planted identical docs make the
    # exact_dups_hamming_zero flag NON-vacuous, and both flags read 1
    flagged = dedup.dedup_simhash(spark, planted_dir).collect()
    assert flagged, "planted corpus has true j >= 1/2 pairs"
    assert all(
        r["recall_ge_floor"] == 1 and r["exact_dups_hamming_zero"] == 1
        for r in flagged
    )


def test_minhash_smoke_on_fixture(spark, sf_dir):
    # runs on the real corpus without error; pair list is deterministic
    df = dedup.minhash_band_pairs(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )
    assert df.columns == ["doc_a", "doc_b"]
    df.collect()
    # r9 contract form: anchored-truth recall over floor, volume linear
    flagged = dedup.dedup_fuzzy_minhash(spark, sf_dir).collect()
    assert flagged and all(
        r["recall_ge_floor"] == 1 and r["candidate_volume_linear"] == 1
        for r in flagged
    )


def test_connected_components_chain_and_islands(spark):
    """A chain 1-2-3 and an island 5-6 must form exactly two clusters
    labeled by their minima."""
    from sparkifydb_datawarehouse_spark.llm.clustering import connected_components

    edges = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "a long, b long")
    # both physical strategies must produce the identical labeling:
    # driver union-find (default for small graphs) and the
    # distributed propagation loop (forced via max_driver_edges=0)
    for max_driver in (1_000_000, 0):
        got = {
            r["vertex"]: r["cluster_id"]
            for r in connected_components(
                edges, "a", "b", max_driver_edges=max_driver
            ).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}, f"max_driver={max_driver}"


def test_kmeans_inertia_decreases_and_is_deterministic(spark, sf_dir):
    """Lloyd invariants: each update step must not increase inertia
    (sum of squared distances to assigned centroid), and the fixed
    init makes the whole operator reproducible."""
    from pyspark.sql import functions as F

    from sparkifydb_datawarehouse_spark.llm.clustering import (
        _assign,
        kmeans_fit_assign,
    )
    from sparkifydb_datawarehouse_spark.llm.dedup import EMBED_DIM
    from sparkifydb_datawarehouse_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")

    def inertia(iters: int) -> float:
        # recompute assignment distances for the model after `iters`
        assigned = kmeans_fit_assign(emb, EMBED_DIM, iters=iters)
        joined = emb.join(assigned, "vec_id")
        # true squared distance: ||x||^2 - 2 x.c + ||c||^2 needs the
        # centroids; cheaper equivalent for the monotonicity check is
        # within-cluster variance via the cluster means themselves
        stats = (
            joined.select("cluster", F.posexplode("embedding").alias("pos", "v"))
            .groupBy("cluster", "pos")
            .agg(
                (F.sum(F.col("v") * F.col("v"))
                 - F.count("v") * F.pow(F.avg("v"), 2)).alias("ss")
            )
            .agg(F.sum("ss").alias("total"))
            .collect()
        )
        return stats[0].total

    i1, i3 = inertia(1), inertia(3)
    assert i3 <= i1 * (1 + 1e-9), (i1, i3)

    a = sorted((r.vec_id, r.cluster) for r in kmeans_fit_assign(emb, EMBED_DIM).collect())
    b = sorted((r.vec_id, r.cluster) for r in kmeans_fit_assign(emb, EMBED_DIM).collect())
    assert a == b
    assert len({c for _, c in a}) > 1


def test_decontaminate_flags_eval_overlap(spark, planted_dir):
    """doc 0 (doc_id % 50 == 0) is the eval slice; doc 1 is its exact
    copy and doc 2 a superset — both must be flagged with high overlap.
    The unrelated doc 4 shares no 5-gram and must not appear."""
    from sparkifydb_datawarehouse_spark.llm.corpus import text_decontaminate

    out = {r.doc_id: r for r in text_decontaminate(spark, planted_dir).collect()}
    assert 1 in out and out[1].contamination == 1.0
    assert 2 in out and out[2].contamination > 0.8
    assert 4 not in out
    assert all(r.n_hit <= r.n_grams for r in out.values())


def test_vocabulary_ids_are_dense_and_frequency_sorted(spark, sf_dir):
    from sparkifydb_datawarehouse_spark.llm.corpus import text_vocabulary

    rows = text_vocabulary(spark, sf_dir).collect()
    assert [r.token_id for r in rows] == list(range(len(rows)))
    counts = [r.n for r in rows]
    assert counts == sorted(counts, reverse=True)


def test_unigram_logprob_ranks_rare_token_docs_lower(spark):
    """A doc made of corpus-rare tokens must score a lower (more
    negative) mean log-prob than one made of the most common token."""
    from pyspark.sql import functions as F

    rows = [(0, "the the the the"), (1, "zyx qwv zyx qwv"), (2, "the the the zyx")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("term")
    ).filter(F.col("term") != "")
    freq = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    tot = freq.agg(F.sum("cnt").cast("double").alias("total"))
    model = freq.crossJoin(F.broadcast(tot))
    out = {
        r.doc_id: r.mean_logprob
        for r in toks.join(F.broadcast(model), "term")
        .groupBy("doc_id")
        .agg(F.round(F.avg(F.log(F.col("cnt") / F.col("total"))), 4).alias("mean_logprob"))
        .collect()
    }
    assert out[1] < out[2] < out[0] < 0


def test_minhash_bucket_cap_bounds_degenerate_corpus(spark):
    """An all-identical corpus hashes every doc into ONE bucket per
    band; the cap must bound the pair explosion to C(cap, 2) and the
    Observation must account for every dropped id (no silent caps)."""
    from pyspark.sql import Observation

    n_docs, cap = 300, 16
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(n_docs)],
        "doc_id long, text string",
    )
    obs = Observation("minhash_caps")
    pairs = _pairs(dedup.minhash_band_pairs(docs, max_bucket=cap, observation=obs))
    # smallest `cap` ids survive in every band -> identical pair sets
    assert pairs == {(a, b) for a in range(cap) for b in range(a + 1, cap)}
    n_bands = dedup._N_MINHASH // dedup._BAND_ROWS
    assert obs.get["buckets_capped"] == n_bands
    assert obs.get["ids_dropped"] == n_bands * (n_docs - cap)


def test_simhash_bucket_cap_and_observation(spark):
    from pyspark.sql import Observation

    n_docs, cap = 120, 8
    docs = spark.createDataFrame(
        [(i, "one two three four five six seven") for i in range(n_docs)],
        "doc_id long, text string",
    )
    obs = Observation("simhash_caps")
    df = dedup.simhash_pairs(docs, widened=False, max_bucket=cap, observation=obs)
    pairs = _pairs(df)
    assert pairs == {(a, b) for a in range(cap) for b in range(a + 1, cap)}
    assert obs.get["buckets_capped"] == 4  # one bucket per chunk table
    assert obs.get["ids_dropped"] == 4 * (n_docs - cap)


def _near_dup_corpus(spark, n_pairs=25, n_tokens=120, max_hamming=3):
    """n_pairs planted near-duplicate pairs inside the hamming<=3
    guarantee class, each pair drawn from its own vocabulary so
    cross-pair collisions are impossible.

    A one-token substitution flips the sketch bits whose vote margin
    it crosses — a random count. The guarantee class is what BOTH
    table designs promise to find, so the variant token is chosen
    adversarially per pair: sketch several candidate substitutions
    once, keep the first whose hamming from the base is in
    (0, max_hamming]. Deterministic (xxhash64 is a fixed function)."""
    candidates = []  # (doc_id encoding pair k, candidate c)
    rows = []
    for k in range(n_pairs):
        toks = [f"p{k}w{i}" for i in range(n_tokens)]
        rows.append((k * 100, " ".join(toks)))
        for c in range(8):
            cand = list(toks)
            cand[(c * 7) % n_tokens] = f"p{k}sub{c}"
            candidates.append((k * 100 + c + 1, " ".join(cand)))
    sketches = {
        r["doc_id"]: r["simhash"]
        for r in dedup.simhash_sketch(
            spark.createDataFrame(rows + candidates, "doc_id long, text string")
        ).collect()
    }
    final_rows, planted = [], set()
    for k in range(n_pairs):
        base_id = k * 100
        base_text = rows[k][1]
        for c in range(8):
            # mask to 64 bits: sketches arrive as signed longs
            ham = bin(
                (sketches[base_id] ^ sketches[base_id + c + 1]) & ((1 << 64) - 1)
            ).count("1")
            if 0 < ham <= 3:
                final_rows.append((2 * k, base_text))
                final_rows.append(
                    (2 * k + 1, next(t for i, t in candidates if i == base_id + c + 1))
                )
                planted.add((2 * k, 2 * k + 1))
                break
    assert len(planted) >= n_pairs // 2, "not enough <=3-bit variants found"
    return spark.createDataFrame(final_rows, "doc_id long, text string"), planted


def test_simhash_widened_tables_keep_recall(spark):
    """The VERDICT r2 watch item: the >200k-doc widened path (Manku
    block-combination tables, 32-bit keys) must not cost recall vs the
    4x16-bit baseline. On the hamming<=3 guarantee class both designs
    must find EVERY planted pair — recall 1.0 each, so widened >=
    baseline holds with no slack."""
    docs, planted = _near_dup_corpus(spark)

    def recall(widened: bool) -> float:
        found = _pairs(dedup.simhash_pairs(docs, widened=widened))
        return len(found & planted) / len(planted)

    baseline, widened = recall(False), recall(True)
    assert baseline == 1.0, baseline
    assert widened == 1.0, widened
    assert widened >= baseline


def test_minhash_estimator_calibration(spark, sf_dir):
    """The 32-permutation signature agreement must track exact Jaccard:
    mean |err| well under the single-pair stderr bound (~0.09 at J=0.5)
    and max |err| bounded by a few sigma."""
    rows = dedup.minhash_calibration_detail(spark, sf_dir).collect()
    assert rows, "calibration needs candidate pairs"
    errs = [r["abs_err"] for r in rows]
    assert sum(errs) / len(errs) <= 0.08, sum(errs) / len(errs)
    assert max(errs) <= 0.35, max(errs)
    # the registered (now contract-oracled) form must carry the same
    # claims as flags on every row
    flagged = dedup.dedup_minhash_calibration(spark, sf_dir).collect()
    assert len(flagged) == len(rows)
    assert all(
        r["mae_within_bound"] == 1 and r["max_err_within_bound"] == 1
        for r in flagged
    )


def test_prefix_filter_equals_unfiltered_exact_join(spark):
    """Independent in-Spark soundness check for q_dedup_prefix_filter
    (the DuckDB oracle checks sf0.01; this checks sf0.001 against a
    candidate-generation-free full posting self-join)."""
    from pyspark.sql import functions as F

    from sparkifydb_datawarehouse_spark import registry
    from sparkifydb_datawarehouse_spark.llm.dedup import _word_shingles
    from sparkifydb_datawarehouse_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    got = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in registry.QUERIES["q_dedup_prefix_filter"](spark, sf).collect()
    }

    docs = load_table(spark, sf, "documents")
    ex = docs.select("doc_id", F.explode(_word_shingles("text")).alias("shingle"))
    sized = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    li = (
        ex.alias("a")
        .join(
            ex.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("li"))
        .join(sized.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("la")), "doc_a")
        .join(sized.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("lb")), "doc_b")
        .filter(3 * F.col("li") >= F.col("la") + F.col("lb"))
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("li") / (F.col("la") + F.col("lb") - F.col("li")), 6).alias(
                "jaccard"
            ),
        )
    )
    want = {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in li.collect()}
    assert got == want and want, f"prefix filter diverged: {got ^ want}"


def test_lsh_verified_equals_prefix_filter(spark, sf_dir):
    """q_dedup_lsh_verified must emit the SAME exact-Jaccard pairs as
    q_dedup_prefix_filter on the fixture: tier 1 (16x2 minhash LSH)
    may only change HOW candidates are found, never the verified
    output (the fixture's qualifying pairs sit at j >= 0.889 where the
    16x2 collision-miss probability is ~1.4e-11; xxhash64 is seedless
    so the run is deterministic)."""
    from sparkifydb_datawarehouse_spark import registry

    a = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in registry.QUERIES["q_dedup_lsh_verified"](spark, sf_dir).collect()
    }
    b = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in registry.QUERIES["q_dedup_prefix_filter"](spark, sf_dir).collect()
    }
    assert a == b and a, f"two-tier diverged from exact join: {a ^ b}"


def test_lsh_verified_stages_full_recall_on_fixture(spark, sf_dir):
    """The per-stage accounting query must report recall 1.0 at every
    stage on the fixture (candidates can only shrink toward truth,
    never below it)."""
    from sparkifydb_datawarehouse_spark import registry

    from sparkifydb_datawarehouse_spark import registry
    from sparkifydb_datawarehouse_spark.llm.dedup import (
        dedup_lsh_verified_stages_detail,
    )

    rows = dedup_lsh_verified_stages_detail(spark, sf_dir).collect()
    assert [r["stage"] for r in rows] == [
        "lsh_candidates",
        "length_filtered",
        "sketch_estimate",
        "degree_capped",
        "verified",
    ]
    for r in rows:
        assert r["recall"] == 1.0, f"stage {r['stage']} lost true pairs: {r}"
    # candidate volume must be monotone non-increasing through the tiers
    assert (
        rows[0]["n_pairs"]
        >= rows[1]["n_pairs"]
        >= rows[2]["n_pairs"]
        >= rows[3]["n_pairs"]
        >= rows[4]["n_pairs"]
    )
    # the r8 registered contract form reads all-green on the fixture
    flagged = registry.QUERIES["q_dedup_lsh_verified_stages"](
        spark, sf_dir
    ).collect()
    assert [f["stage"] for f in flagged] == [r["stage"] for r in rows]
    assert all(
        f["recall_full"] == 1 and f["pairs_monotone"] == 1 for f in flagged
    )


def test_lsh_verified_recalls_planted_borderline_pairs(spark, tmp_path):
    """The fixture's near-dups all sit at j >= 0.889; this plants 15
    pairs at exactly j = 28/48 = 0.583 — INSIDE [0.5, 0.889) where the
    16x2 banding curve is the binding constraint (per-pair collision
    p ~ 0.99) — plus sub-threshold distractors at j = 18/38 = 0.474
    that must NOT appear. Deterministic corpus + seedless xxhash64 =>
    a reproducible recall; gate at >= 0.9."""
    from pyspark.sql import functions as F  # noqa: F401

    from sparkifydb_datawarehouse_spark.llm.dedup import _lsh_verified_tiers

    rows = []
    planted, distract = set(), set()
    for k in range(15):
        common = " ".join(f"w{k}_{i}" for i in range(30))
        rows.append((4 * k, common + " " + " ".join(f"a{k}_{i}" for i in range(10))))
        rows.append((4 * k + 1, common + " " + " ".join(f"b{k}_{i}" for i in range(10))))
        planted.add((4 * k, 4 * k + 1))
        # distractor pair: 20 common words -> j = 18/38 < 0.5
        dcommon = " ".join(f"d{k}_{i}" for i in range(20))
        rows.append((4 * k + 2, dcommon + " " + " ".join(f"c{k}_{i}" for i in range(10))))
        rows.append((4 * k + 3, dcommon + " " + " ".join(f"e{k}_{i}" for i in range(10))))
        distract.add((4 * k + 2, 4 * k + 3))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    _, _, _, _, _, verified = _lsh_verified_tiers(docs)
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in verified.collect()}
    found = set(got) & planted
    assert len(found) / len(planted) >= 0.9, f"recall too low: {sorted(got)}"
    assert not (set(got) & distract), "sub-threshold pair leaked through verify"
    for pair in found:
        assert got[pair] == round(28 / 48, 6), got[pair]


def test_lsh_verified_degree_cap_binds_and_keeps_clusters_connected(spark):
    """VERDICT r5 #3: the per-doc candidate-degree cap. A 12-doc
    identical-text clique (66 candidate edges, per-doc degree 11) with
    max_degree=4 must (a) report dropped edges through the
    Observation, (b) bound surviving per-doc degree at <= 2*cap, and
    (c) keep the clique CONNECTED (either-endpoint voting keeps every
    node's best edges — AND-voting would isolate nodes 5..11)."""
    from pyspark.sql import Observation

    from sparkifydb_datawarehouse_spark.llm.dedup import _lsh_verified_tiers

    text = " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(i, text) for i in range(12)], "doc_id long, text string"
    )
    obs = Observation("degree_cap")
    *_, cand_capped, verified = _lsh_verified_tiers(
        docs, max_degree=4, degree_observation=obs
    )
    # read the observation off a sort-free action: verified's global
    # orderBy adds a range-partitioner sampling pass that would execute
    # the observed node twice and double the accumulated counts
    cand_capped.count()
    got = obs.get
    assert got["edges_before_degree_cap"] == 66
    assert got["edges_degree_dropped"] > 0, "cap never bound on a 12-clique"
    pairs = [(r["doc_a"], r["doc_b"]) for r in verified.collect()]
    # global linear bound: every kept edge holds >= 1 of the <= cap*n
    # votes, so |edges| <= cap*n (per-NODE degree may exceed the cap
    # for popular docs — that asymmetry is what keeps hubs connected)
    assert pairs and len(pairs) <= 4 * 12, len(pairs)
    # CI floor on pair-level recall under a BINDING cap: either-endpoint
    # voting keeps >= cap*n/2 of a clique's edges (measured 38/66);
    # a regression to AND-voting would read 14/66 and trip this
    assert len(pairs) / 66 >= 0.5, len(pairs)
    # connectivity: union-find over surviving verified pairs
    parent = {i: i for i in range(12)}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    assert len({find(i) for i in range(12)}) == 1, "cap disconnected the clique"


def test_lsh_verified_degree_cap_inert_at_fixture_scale(spark, sf_dir):
    """The registered query keeps its exact brute-force oracle because
    _MAX_DEGREE is inert on real fixtures: assert the max candidate
    degree at sf0.001 sits well under the cap, so the oracle equality
    (test above / driver check) genuinely exercises the capped path
    with zero drops."""
    from pyspark.sql import Observation

    from sparkifydb_datawarehouse_spark.llm.dedup import (
        _MAX_DEGREE,
        _lsh_verified_tiers,
    )
    from sparkifydb_datawarehouse_spark.tables import load_table

    obs = Observation("degree_cap_fixture")
    *_, cand_capped, _verified = _lsh_verified_tiers(
        load_table(spark, sf_dir, "documents"), degree_observation=obs
    )
    cand_capped.count()
    got = obs.get
    assert got["edges_degree_dropped"] == 0, got
    assert _MAX_DEGREE == 64


def test_substring_dedup_flags_planted_spans(spark, tmp_path):
    """Two docs share a verbatim 10-token span (>= the 8-token window);
    a third is unique. Expected coverage is exact: the shared span
    yields 3 windows per doc covering 10 positions each; the unique
    doc must not appear."""
    from sparkifydb_datawarehouse_spark.llm.corpus import text_substring_dedup

    span = " ".join(f"s{i}" for i in range(10))
    rows = [
        (1, "alpha beta " + span + " gamma delta"),
        (2, "one two three " + span),
        (3, " ".join(f"u{i}" for i in range(20))),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))
    got = {
        r["doc_id"]: (r["n_tokens"], r["dup_tokens"], r["dup_fraction"])
        for r in text_substring_dedup(spark, str(tmp_path)).collect()
    }
    assert set(got) == {1, 2}
    assert got[1] == (14, 10, round(10 / 14, 6))
    assert got[2] == (13, 10, round(10 / 13, 6))


def test_substring_scrub_first_occurrence_wins(spark, tmp_path):
    """The lowest doc_id containing a shared span keeps it; every
    later doc loses exactly the covered tokens, and the rebuilt text
    preserves the order of surviving tokens."""
    from sparkifydb_datawarehouse_spark.llm.corpus import text_substring_scrub

    span = " ".join(f"s{i}" for i in range(10))
    rows = [
        (1, "alpha beta " + span + " gamma"),
        (2, "one two three " + span),
        (3, " ".join(f"u{i}" for i in range(20))),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))
    got = {
        r["doc_id"]: (r["n_removed"], r["text_clean"])
        for r in text_substring_scrub(spark, str(tmp_path)).collect()
    }
    assert set(got) == {2}, got  # doc 1 keeps the span; doc 3 untouched
    assert got[2] == (10, "one two three")


def test_lsh_cap_profile_reports_monotone_recall(spark, tmp_path):
    """VERDICT r6 #4: the degree cap is a registered operating point.
    On a 12-doc identical-text clique (per-doc degree 11) the profile
    must emit one row per cap with candidate edges / verified pairs /
    realized recall, monotone nondecreasing in cap, binding at cap 4
    (recall < 1 but >= the 0.5 either-endpoint floor) and exact at the
    default cap 64."""
    from sparkifydb_datawarehouse_spark.llm.dedup import (
        _CAP_PROFILE,
        dedup_lsh_cap_profile_detail,
    )

    text = " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(i, text) for i in range(12)], "doc_id long, text string"
    )
    docs.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    rows = dedup_lsh_cap_profile_detail(spark, str(tmp_path)).collect()
    assert [r["max_degree"] for r in rows] == list(_CAP_PROFILE)
    recalls = [r["realized_recall"] for r in rows]
    edges = [r["candidate_edges"] for r in rows]
    assert all(r["n_true"] == 66 for r in rows)
    assert recalls == sorted(recalls), "recall must be monotone in cap"
    assert edges == sorted(edges), "candidate edges must be monotone in cap"
    assert 0.5 <= recalls[0] < 1.0, recalls  # cap 4 binds on an 11-degree clique
    assert recalls[-1] == 1.0, recalls  # default cap exact
    # verified-at-cap ≡ verified ∩ {best_rank <= cap}: counts agree
    for r in rows:
        assert r["verified_pairs"] == r["n_true_recalled"]


@pytest.mark.parametrize(
    "query_id, budget",
    [("q_dedup_lsh_cap_profile", 26), ("q_dedup_lsh_verified_stages", 31)],
)
def test_dedup_audit_job_budget(spark, sf_dir, query_id, budget):
    """Building and collecting each two-tier audit runs at most its
    measured Spark jobs: its stages share one posting table, one bucket
    expander and one exact verify, and every per-stage / per-cap count
    is one grouped aggregate instead of a cross join of one-row
    aggregates per row (66 and 57 jobs before)."""
    from sparkifydb_datawarehouse_spark import registry
    from tools.validate import jobs_of

    rows, n_jobs = jobs_of(spark, lambda: registry.QUERIES[query_id](spark, sf_dir).collect())
    assert len(rows) == 5
    assert n_jobs <= budget, f"{query_id} ran {n_jobs} Spark jobs (budget {budget})"


@pytest.mark.parametrize(
    "query_id", ["q_dedup_lsh_cap_profile", "q_dedup_lsh_verified_stages"]
)
def test_dedup_audit_truth_reads_tier_postings(spark, sf_dir, query_id, monkeypatch):
    """The anchored truth of each two-tier audit reads the LSH tiers'
    checkpointed posting table: building the query explodes the
    documents' shingles once, not a second time for the anchor slice
    (two explodes and one more checkpoint job before)."""
    from sparkifydb_datawarehouse_spark import registry
    from sparkifydb_datawarehouse_spark.llm import dedup

    calls = []
    shingle_postings = dedup._shingle_postings

    def counting(docs):
        calls.append(docs)
        return shingle_postings(docs)

    monkeypatch.setattr(dedup, "_shingle_postings", counting)
    rows = registry.QUERIES[query_id](spark, sf_dir).collect()
    assert len(rows) == 5
    assert len(calls) == 1, f"{query_id} built {len(calls)} posting tables"


def test_lsh_cap_profile_inert_on_fixture(spark, sf_dir):
    """Every operating point reads recall 1.0 on the real fixture —
    the cap trade-off only exists on adversarial/hub-heavy corpora."""
    from sparkifydb_datawarehouse_spark.llm.dedup import (
        dedup_lsh_cap_profile,
        dedup_lsh_cap_profile_detail,
    )

    rows = dedup_lsh_cap_profile_detail(spark, sf_dir).collect()
    assert rows and all(r["realized_recall"] == 1.0 for r in rows)
    # the registered contract form (r8 conversion) reads all-green too
    flags = dedup_lsh_cap_profile(spark, sf_dir).collect()
    assert len(flags) == len(rows)
    assert all(
        f["recall_full"] == 1 and f["verified_subset_of_truth"] == 1
        for f in flags
    )


def test_uncapped_verify_flood_guard(spark, sf_dir, tmp_path):
    """VERDICT r7 #4: ``max_degree=None`` (the documented escape hatch
    that spilled ~70 GB on the 100x-adversarial corpus before the cap
    existed) now pre-flights candidate volume. On a planted junk flood
    — a 64-doc identical-text clique, C(64,2)=2016 estimate-surviving
    edges — a 1000-edge ceiling must REFUSE with CandidateFloodError
    before the posting join runs; on the real oracle fixture the
    uncapped path with the default 10M ceiling completes and matches
    the capped result exactly."""
    from sparkifydb_datawarehouse_spark.llm.dedup import (
        CandidateFloodError,
        _lsh_verified_tiers,
        dedup_lsh_verified,
    )

    # inert at oracle scale: default ceiling, uncapped == capped output
    uncapped = _pairs(dedup_lsh_verified(spark, sf_dir, max_degree=None))
    capped = _pairs(dedup_lsh_verified(spark, sf_dir))
    assert uncapped == capped

    text = " ".join(f"w{i}" for i in range(40))
    flood = spark.createDataFrame(
        [(i, text) for i in range(64)], "doc_id long, text string"
    )
    with pytest.raises(CandidateFloodError, match="pre-flight ceiling"):
        _lsh_verified_tiers(flood, max_degree=None, uncapped_edge_ceiling=1000)
    # the same flood passes when its volume is within the ceiling
    out = _lsh_verified_tiers(
        flood, max_degree=None, uncapped_edge_ceiling=5000
    )[5]
    assert out.count() == 64 * 63 // 2


def test_prefix_filter_saturation_guard(spark, sf_dir, tmp_path):
    """Round-8 guard: the exact prefix-filter join pre-flights its
    prefix-bucket pair volume and refuses on shingle-saturated corpora
    (tiny fixed vocabulary => even the rarest shingles are common; the
    10x natural-perturbation fixture measured ~643M candidate pairs
    and ground >25 min before this guard existed). Inert at oracle
    scale; trips with a small ceiling on a dense planted corpus."""
    from sparkifydb_datawarehouse_spark.llm.dedup import (
        CandidateFloodError,
        dedup_prefix_filter,
    )

    assert dedup_prefix_filter(spark, sf_dir).count() > 0  # inert

    words = [f"w{i}" for i in range(6)]
    rng_texts = [
        " ".join(words[(i + j) % 6] for j in range(12)) for i in range(40)
    ]
    spark.createDataFrame(
        list(enumerate(rng_texts)), "doc_id long, text string"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    with pytest.raises(CandidateFloodError, match="shingle-saturated"):
        dedup_prefix_filter(spark, str(tmp_path), candidate_volume_ceiling=50)
