"""Property-based tests (hypothesis) for operator invariants that
must hold on ANY data, not just the fixtures: salting never changes
results, merge respects source-wins/target-survives, cosine stays in
[-1, 1], minhash signatures are permutation-stable for identical docs.

Data strategy: hypothesis generates small row sets; Spark runs them
through the same code paths the fixture queries use.
"""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings, strategies as st

from pyspark.sql import functions as F

_settings = settings(
    max_examples=10,  # each example spins Spark jobs — keep the loop tight
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),  # key
        st.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
    ),
    min_size=1,
    max_size=30,
)


@given(rows=_rows)
@_settings
def test_salted_agg_equals_plain_agg(spark, rows):
    from sparkifydb_datawarehouse_spark.operators.skew import salted_aggregate

    df = spark.createDataFrame(
        [(k, float(v), i) for i, (k, v) in enumerate(rows)], "key int, value double, rid long"
    )
    salted = {
        r["key"]: (round(r["total_value"], 6), r["n_rows"])
        for r in salted_aggregate(df, "key", "rid", {"sum": "value"}).collect()
    }
    plain = {
        r["key"]: (round(r["s"], 6), r["n"])
        for r in df.groupBy("key")
        .agg(F.sum("value").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert salted.keys() == plain.keys()
    for k in plain:
        assert salted[k][1] == plain[k][1]
        assert math.isclose(salted[k][0], plain[k][0], rel_tol=1e-9, abs_tol=1e-6)


@given(
    target_keys=st.sets(st.integers(0, 20), min_size=1, max_size=10),
    source_keys=st.sets(st.integers(0, 20), min_size=1, max_size=10),
)
@_settings
def test_merge_upsert_invariants(spark, target_keys, source_keys):
    from sparkifydb_datawarehouse_spark.operators.merge import merge_upsert

    target = spark.createDataFrame(
        [(k, f"t{k}") for k in target_keys], "k int, payload string"
    )
    source = spark.createDataFrame(
        [(k, f"s{k}") for k in source_keys], "k int, payload string"
    )
    merged = {r["k"]: r["payload"] for r in merge_upsert(target, source, "k", ["payload"]).collect()}
    assert set(merged) == target_keys | source_keys, "no row lost, no row invented"
    for k in source_keys:
        assert merged[k] == f"s{k}", "source wins on collision"
    for k in target_keys - source_keys:
        assert merged[k] == f"t{k}", "unmatched target survives"


@given(
    a=st.lists(st.floats(-100, 100, allow_nan=False), min_size=4, max_size=4),
    b=st.lists(st.floats(-100, 100, allow_nan=False), min_size=4, max_size=4),
)
@_settings
def test_cosine_bounded(spark, a, b):
    from sparkifydb_datawarehouse_spark.llm.dedup import cosine

    # skip zero vectors (cosine undefined — engine yields NaN, as does SQL)
    if all(x == 0 for x in a) or all(x == 0 for x in b):
        return
    df = spark.createDataFrame([(a, b)], "a array<float>, b array<float>")
    (val,) = df.select(cosine(F.col("a"), F.col("b")).alias("c")).collect()[0]
    if val is not None and not math.isnan(val):
        assert -1.0000001 <= val <= 1.0000001


@given(text=st.text(alphabet="abcdef ", min_size=10, max_size=60))
@_settings
def test_minhash_identical_docs_identical_sigs(spark, text):
    from sparkifydb_datawarehouse_spark.llm.dedup import _minhash_signatures

    df = spark.createDataFrame(
        [(0, text), (1, text)], "doc_id long, text string"
    )
    sigs = {r["doc_id"]: r["sig"] for r in _minhash_signatures(df).collect()}
    if len(sigs) == 2:  # both docs long enough to shingle
        assert sigs[0] == sigs[1]


# ---------------------------------------------------------------------------
# Round-4 property tests: codecs, BPE, CMS.
# ---------------------------------------------------------------------------


@given(
    w=st.integers(min_value=1, max_value=9),
    h=st.integers(min_value=1, max_value=9),
    data=st.data(),
)
@settings(max_examples=40, deadline=None)
def test_ppm_bmp_roundtrip_property(w, h, data):
    """decode(encode(pixels)) == pixels for BOTH codecs, any tiny
    image — including raster bytes that look like whitespace."""
    from sparkifydb_datawarehouse_spark.llm.codecs import (
        decode_bmp,
        decode_ppm,
        encode_bmp_24,
        encode_ppm_p6,
    )

    px = bytes(
        data.draw(
            st.lists(
                st.integers(min_value=0, max_value=255),
                min_size=w * h * 3,
                max_size=w * h * 3,
            )
        )
    )
    assert decode_ppm(encode_ppm_p6(w, h, px))["pixels"] == px
    assert decode_bmp(encode_bmp_24(w, h, px))["pixels"] == px


@given(
    words=st.dictionaries(
        st.text(alphabet="abcd", min_size=1, max_size=6),
        st.integers(min_value=1, max_value=50),
        min_size=1,
        max_size=12,
    ),
    n_merges=st.integers(min_value=0, max_value=20),
)
@settings(max_examples=40, deadline=None)
def test_bpe_encode_reconstructs_word(words, n_merges):
    """Subwords always concatenate back to word + end-of-word marker,
    for any trained merge table and any word (seen or unseen)."""
    from sparkifydb_datawarehouse_spark.llm.bpe import bpe_encode, train_bpe

    merges = train_bpe(words, n_merges=n_merges)
    ranks = {p: i for i, p in enumerate(merges)}
    for w in list(words) + ["abcddcba", "x"]:
        sym = bpe_encode(w, ranks)
        assert "".join(sym) == w + "</w>"
        assert len(sym) >= 1


@given(
    keys=st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=200)
)
@settings(max_examples=25, deadline=None)
def test_count_min_never_undercounts(spark, keys):
    """CMS point estimates >= true counts on arbitrary key streams —
    the deterministic half of the q_agg_count_min contract, re-proven
    on random data rather than the fixture."""
    from collections import Counter

    from pyspark.sql import functions as F

    W, D = 64, 4  # tiny sketch: collisions guaranteed, bound must hold
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    rows = F.sequence(F.lit(0), F.lit(D - 1))
    counters = (
        df.select("k", F.explode(rows).alias("r"))
        .groupBy("r", F.pmod(F.xxhash64("k", "r"), F.lit(W)).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    est = (
        df.distinct()
        .select("k", F.explode(rows).alias("r"))
        .withColumn("bucket", F.pmod(F.xxhash64("k", "r"), F.lit(W)))
        .join(counters, ["r", "bucket"])
        .groupBy("k")
        .agg(F.min("c").alias("est"))
        .collect()
    )
    true = Counter(keys)
    assert est, "no estimates"
    for r in est:
        assert r["est"] >= true[r["k"]], (r, true[r["k"]])


@given(
    text=st.text(
        alphabet=st.characters(blacklist_categories=("Cs",)),  # no lone surrogates
        min_size=0,
        max_size=120,
    ),
    prefix=st.text(alphabet="abcxyz ", min_size=1, max_size=8),
)
@_settings
def test_cdc_chunks_reconstruct_and_realign(spark, text, prefix):
    """CDC chunker invariants over ARBITRARY unicode (the oracle only
    sees fixture ascii): (1) chunk concatenation reconstructs the
    document exactly — boundaries are slicing positions, never
    content-destructive; (2) prepending bytes changes chunks only up
    to the first post-edit boundary — every later chunk is shared
    (the content-defined property itself, rule-agnostic)."""
    from sparkifydb_datawarehouse_spark.llm.chunking import cdc_chunk_array

    def chunks(s: str) -> list[str]:
        row = (
            spark.createDataFrame([(s,)], "text string")
            .select(cdc_chunk_array(F.col("text")).alias("c"))
            .collect()[0]
        )
        return [c for c in row["c"] if c is not None]

    base = chunks(text)
    assert "".join(base) == text
    shifted = chunks(prefix + text)
    assert "".join(shifted) == prefix + text
    if len(base) > 2:
        # all chunks after the first boundary following the edit are
        # shared; the edit can perturb at most the head of the doc
        assert set(base[1:]) & set(shifted[1:]) or len(set(base[1:])) == 0


@given(
    vals=st.lists(
        st.integers(min_value=0, max_value=10_000), min_size=1, max_size=400
    )
)
@_settings
def test_kmv_estimate_within_contract(vals):
    """KMV estimator property (no Spark — pure formula): for ANY value
    multiset, D̂ = (k−1)/u_(k) (or the exact distinct-hash count below
    k) stays within 3·rsd of the true distinct count with the fixture
    hash. Pins the q_agg_kmv_overlap math beyond the one fixture."""
    import hashlib

    k = 64
    rsd = 1.0 / (k - 2) ** 0.5
    hashes = sorted(
        {
            int.from_bytes(hashlib.md5(str(v).encode()).digest()[:8], "big")
            / float(2**64)
            for v in vals
        }
    )
    true_d = len(set(vals))
    est = (k - 1) / hashes[k - 1] if len(hashes) >= k else float(len(hashes))
    assert abs(est - true_d) <= 3 * rsd * true_d + 1e-9


@given(perm=st.permutations(list(range(12))))
@_settings
def test_dsir_scores_invariant_to_row_order(spark, perm):
    """DSIR doc scores are exact integer sums of per-bucket micro-unit
    ratios, so shuffling the input row order can never change any
    score — the property the integerization exists to guarantee."""
    from sparkifydb_datawarehouse_spark.llm.corpus import (
        _DSIR_B,
        _dsir_gram_buckets,
    )

    texts = [
        ("a key row scan", "src0"),
        ("key value table part", "src0"),
        ("scan scan value merge", "src1"),
        ("a a key batch", "src1"),
        ("table value row key scan", "src2"),
        ("merge batch part", "src2"),
        ("key key key value", "src3"),
        ("row table scan part", "src3"),
        ("value merge a key", "src4"),
        ("batch scan table", "src4"),
        ("part value key row", "src5"),
        ("scan merge batch a", "src5"),
    ]
    def bucket_counts(order):
        rows = [(i, texts[j][0], texts[j][1]) for i, j in enumerate(order)]
        docs = spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        )
        grams = _dsir_gram_buckets(docs)
        counts = grams.groupBy("b").agg(
            F.sum(F.when(F.col("is_tgt"), 1).otherwise(0)).alias("ct"),
            F.sum(F.when(F.col("is_tgt"), 0).otherwise(1)).alias("cs"),
        )
        return tuple(
            (r["b"], r["ct"], r["cs"]) for r in counts.orderBy("b").collect()
        )

    # the MAPPING changes which doc carries which text, but the
    # corpus-level bucket counts depend only on the multiset of
    # (text, source) pairs, which is permutation-invariant. The
    # baseline is recomputed from the identity permutation INSIDE the
    # example (ADVICE r5: a function-attribute snapshot taken from
    # whichever example ran first persists across reruns and makes
    # failures depend on hypothesis example ordering).
    assert bucket_counts(perm) == bucket_counts(range(12))
