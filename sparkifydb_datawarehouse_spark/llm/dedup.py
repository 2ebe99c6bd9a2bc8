"""B16/B18 — deduplication: exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.

Design: sketching = ONE interpreted higher-order pass to hash
tokens/shingles, then explode + hash AGGREGATION for the per-document
mins/bit-votes (whole-stage codegen with map-side combine — higher
order lambdas are CodegenFallback and cost ~1µs/eval, so anything
O(sketch_width × shingles) must be an aggregate, not a lambda). All
shuffles carry sketches (a few hundred bytes/doc after partial agg),
never documents. That is the property that makes these runnable at
100 TB: the full text never crosses the network.

Sketch hash = xxhash64 (Spark built-in, JVM-side). DuckDB has no
xxhash64, so the sketch PAIR SETS are engine-specific; since round 8
the registered sketch queries are CONTRACT ORACLES (exact truth rows
+ recall/accuracy flags DuckDB re-checks), and the set-exact queries
(exact dedup, n-gram Jaccard) are fully value-checked.

The near-duplicate family (minhash bands, simhash, prefix filter,
two-tier LSH join, anchor truth and the audits over them) shares one
copy of each stage:

- _shingle_postings — the (doc_id, 64-bit shingle hash) posting table
  of every exact tier;
- _bucket_pairs     — bucket-depth cap, its (buckets_capped,
  ids_dropped) Observation and the in-expression pair explode, for
  every bucket-collision candidate generator;
- _verify_exact     — the candidate-bounded posting join that counts
  |A∩B| and keeps j ≥ 1/2 (_jaccard_rows is its threshold tail);
- _truth_counts     — per-stage, per-cap and recall counts against
  exact truth: truth joined once, every count one grouped aggregate
  (_recall_flag is an audit's corpus-level recall floor over it).

Helpers return unordered frames; each registered query sorts once.
"""

from __future__ import annotations

import functools
from collections.abc import Iterable

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load_table

# ---------------------------------------------------------------------------
# Exact dedup: group by normalized-text fingerprint, keep min doc_id.
# The scalable exact-dedup shape: shuffle carries (hash, doc_id) only.
# ---------------------------------------------------------------------------

_ORACLE_EXACT = """
SELECT md5(REGEXP_REPLACE(TRIM(LOWER(text)), '\\s+', ' ', 'g')) AS fingerprint,
       MIN(doc_id) AS keeper_doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_copies
FROM documents
GROUP BY 1
ORDER BY fingerprint
"""


@query("q_dedup_exact", oracle=_ORACLE_EXACT)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Measured negative result (round 4): a scan-spread repartition
    # before the fingerprint projection — the _shingle_hashes_exploded
    # idiom — was tried per VERDICT r3 #7 and REGRESSED this query
    # (0.40 → 0.58 s min-of-5, quiet host, sf0.1): unlike shingling,
    # the per-row regexp+md5 here is cheap relative to shuffling full
    # text, so the map-side projection on scan partitions wins. The
    # groupBy shuffle carries (hash, doc_id, count) only.
    fp = F.md5(F.regexp_replace(F.trim(F.lower("text")), r"\s+", " "))
    return (
        docs.groupBy(fp.alias("fingerprint"))
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .orderBy("fingerprint")
    )


# ---------------------------------------------------------------------------
# Shared sketch helpers (expression-level, no UDFs).
# ---------------------------------------------------------------------------


def _word_shingles(text_col: str | Column, n: int = 3) -> Column:
    """Distinct n-word shingles as an array<string>; empty array for
    docs shorter than n tokens.

    r11 form, measured 6.3× faster at sf0.1 (4.0 → 0.64 s for the
    explode+count of the whole fixture, identical shingle stream):
    the token array is LET-BOUND through a one-element-array transform
    so the filter(split(lower(text))) tree evaluates ONCE per row (a
    naive indexed rewrite re-evaluated it per element_at and was 2×
    SLOWER than the original), and each shingle reads tokens in place
    via element_at instead of the original per-shingle F.slice copy
    (O(n²) bytes per doc — the same cost the q_text_novelty rewrite
    measured at 4.5×)."""
    toks = F.filter(F.split(F.lower(text_col), r"\s+"), lambda t: t != "")

    def _shingles_of(t: Column) -> Column:
        sh = F.transform(
            F.sequence(F.lit(1), F.size(t) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(t, i + k) for k in range(n)]
            ),
        )
        return F.array_distinct(
            F.when(F.size(t) >= n, sh).otherwise(F.array().cast("array<string>"))
        )

    return F.element_at(F.transform(F.array(toks), _shingles_of), 1)


def _shingle_postings(docs: DataFrame) -> DataFrame:
    """(doc_id, h): each document's distinct 3-word shingles folded to
    64-bit hashes at the scan, localCheckpointed — every exact tier
    reads it at least twice (sizes or signatures, and both posting-join
    sides), and every later join/sort/shuffle carries (doc_id, int64),
    so text never crosses the network. The hash is a valid global
    total order for the prefix lemma (ANY total order is), and
    intersection counts over 64-bit keys equal string-set counts unless
    two distinct shingles of the SAME pair collide: P ≲ pairs · |A|·|B|
    · 2⁻⁶⁴ ≈ 1e-10 at sf0.1 — and the brute-force string-set oracles
    re-prove equality on every driver run. Bench: string-keyed verify
    measured 6.2 s at sf0.1; hashed keys cut the verify shuffle bytes
    ~4x."""
    return (
        docs.select("doc_id", F.explode(_word_shingles("text")).alias("shingle"))
        .select("doc_id", F.xxhash64("shingle").alias("h"))
        .localCheckpoint(eager=True)
    )


def _bucket_pairs(
    keyed: DataFrame,
    keys: list[str],
    member: Column,
    max_bucket: int,
    observation=None,
) -> DataFrame:
    """(a, b): every pair of `member` values sharing a bucket `keys`
    value, a < b in the member sort order.

    Pairs via groupBy + in-expression combination generation — ONE
    shuffle and one signature computation, vs a self-join that
    recomputes the whole sketch pipeline per side. Buckets deeper than
    `max_bucket` are truncated to their `max_bucket` smallest members
    (deterministic: members are sorted) with the overflow counted into
    `observation` as (buckets_capped, ids_dropped); see _MAX_BUCKET.
    A pair colliding in several buckets repeats — callers distinct."""
    buckets = (
        keyed.groupBy(*keys)
        .agg(F.sort_array(F.collect_list(member)).alias("m"))
        .filter(F.size("m") > 1)
        .withColumn("n_dropped", F.greatest(F.size("m") - max_bucket, F.lit(0)))
    )
    if observation is not None:
        buckets = buckets.observe(
            observation,
            F.sum((F.col("n_dropped") > 0).cast("long")).alias("buckets_capped"),
            F.sum("n_dropped").alias("ids_dropped"),
        )
    return (
        buckets.withColumn("m", F.slice("m", 1, max_bucket))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(m, (x, i) -> "
                    "transform(slice(m, i + 2, size(m)), "
                    "y -> struct(x AS a, y AS b))))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
    )


def _jaccard_rows(li: DataFrame) -> DataFrame:
    """(doc_a, doc_b, jaccard) for the pairs of (doc_a, doc_b, la, lb,
    li) whose exact Jaccard li / (la + lb − li) reaches t = 1/2, in
    integer arithmetic; the Jaccard is rounded to 6 places."""
    return li.filter(
        (_PF_T_NUM + _PF_T_DEN) * F.col("li") >= _PF_T_NUM * (F.col("la") + F.col("lb"))
    ).select(
        "doc_a",
        "doc_b",
        F.round(F.col("li") / (F.col("la") + F.col("lb") - F.col("li")), 6).alias(
            "jaccard"
        ),
    )


def _verify_exact(cand: DataFrame, postings: DataFrame) -> DataFrame:
    """Exact j ≥ 1/2 rows among candidate pairs (doc_a, doc_b, la, lb):
    |A∩B| via candidate-bounded posting joins — cost tracks candidate
    volume, never corpus size; zero-overlap candidates produce no join
    rows and fall out before the threshold filter."""
    li = (
        cand.join(postings.alias("ta"), F.col("doc_a") == F.col("ta.doc_id"))
        .join(
            postings.alias("tb"),
            (F.col("doc_b") == F.col("tb.doc_id")) & (F.col("ta.h") == F.col("tb.h")),
        )
        .groupBy("doc_a", "doc_b", "la", "lb")
        .agg(F.count(F.lit(1)).alias("li"))
    )
    return _jaccard_rows(li)


def _truth_counts(
    tagged: DataFrame, truth: DataFrame, key: str, keys: Iterable[int], *aggs: Column
) -> DataFrame:
    """One row per `key` value in `keys`: `aggs` over the tagged pairs
    (key, doc_a, doc_b, ...) with t = 1 on the pairs that are truth
    pairs, and n_true, the number of truth pairs. Every marker is NULL
    where it does not apply, so each count is a count(marker), and a
    key without pairs still gets its row. The truth pairs are joined
    once (broadcast) and every count is one groupBy."""
    pairs = truth.select("doc_a", "doc_b")
    marks = pairs.select(F.lit(1).alias("tt")).unionByName(
        tagged.sparkSession.range(1).select(F.lit(None).cast("int").alias("tt"))
    )
    return (
        tagged.join(
            F.broadcast(pairs.withColumn("t", F.lit(1))), ["doc_a", "doc_b"], "left"
        )
        .unionByName(
            marks.select(F.explode(F.array(*map(F.lit, keys))).alias(key), "tt"),
            allowMissingColumns=True,
        )
        .groupBy(key)
        .agg(*aggs, F.count("tt").alias("n_true"))
    )


def _recall_flag(cand: DataFrame, truth: DataFrame, floor: float) -> DataFrame:
    """One row: recall_ge_floor — the share of the (distinct) truth
    pairs that the (distinct) candidate pairs surface is ≥ `floor`,
    vacuously 1 without truth pairs — and n_cand, the candidate count.
    Bounded truth is broadcast into one pass over the candidates, so
    the generator runs once and no count leaves the plan."""
    return _truth_counts(
        cand.select(F.lit(0).alias("k"), "doc_a", "doc_b"),
        truth,
        "k",
        [0],
        F.count("doc_a").alias("n_cand"),
        F.count("t").alias("n_true_recalled"),
    ).select(_recall_reaches(floor).alias("recall_ge_floor"), "n_cand")


def _recall_reaches(floor: float) -> Column:
    """1 when n_true_recalled of the n_true truth pairs reach the
    recall `floor`, vacuously 1 without truth pairs; else 0."""
    return (
        F.when(F.col("n_true") == 0, F.lit(1))
        .otherwise((F.col("n_true_recalled") / F.col("n_true") >= floor).cast("int"))
    )


_N_MINHASH = 32
_BAND_ROWS = 4  # 8 bands of 4 → LSH threshold ≈ (1/8)^(1/4) ≈ 0.59 Jaccard


def _shingle_hashes_exploded(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, h) — one row per 3-word shingle, h = 32-bit shingle hash.

    One xxhash64 call per shingle over the three token strings directly
    (no shingle-string concat, no per-shingle slice). Higher-order
    lambdas are CodegenFallback (interpreted), so the design rule here
    is ONE HOF pass over the tokens and nothing else; all later math is
    column-level whole-stage codegen. The 64→32-bit fold happens AFTER
    explode as a plain projection so the k-permutation multiply cannot
    overflow a long under ANSI mode. Duplicate shingles are kept:
    min() over a multiset equals min() over the set, so distinct-ing
    would be pure cost."""
    # fixture tables arrive as ONE parquet file → one partition; fan the
    # compute-heavy sketching out to all cores first. (At 100 TB inputs
    # are many files and this repartition is a no-op to remove.)
    spread = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    toks = F.filter(F.split(F.lower(text_col), r"\s+"), lambda t: t != "")
    return (
        spread.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 3), "
                    "i -> xxhash64(toks[i], toks[i+1], toks[i+2]))"
                )
            ).alias("h64"),
        )
        .select(
            "doc_id",
            F.expr(
                "(shiftrightunsigned(h64, 32) ^ h64) & 4294967295"
            ).alias("h"),
        )
    )


def _minhash_wide(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """doc_id → 32 minhash columns m0..m31, permutation k realized as
    the REHASH xxhash64(h, k) — an independent uniform draw per k, so
    P(m_k(A) = m_k(B)) = J(A,B) exactly (min-stability) with no
    overflow under ANSI mode.

    Why not the earlier `h * (2k+1) + k` arithmetic "permutation": h
    is 32-bit, the multiplier ≤ 63, so the product NEVER wraps 2^64 —
    every permutation was order-preserving, every argmin was the same
    min-h shingle, and the 32 columns were one minhash repeated (the
    round-3 calibration op exposed it: signature agreement was binary
    0/1 instead of graded ≈J, and the banded LSH threshold claim was
    void — collision probability per band was J, not J^4).

    Perf-critical shape (230s → ~2s → ~1s at sf0.1 across rounds): the
    32 permutation-mins run as partial+final hash AGGREGATION over the
    exploded shingle rows — whole-stage codegen — instead of 32
    interpreted array_min(transform(...)) lambda passes per document.
    Map-side combine means the shuffle carries one 32-column row per
    (doc_id, input partition), never the shingles."""
    mins = [
        F.min(F.xxhash64(F.col("h"), F.lit(k))).alias(f"m{k}")
        for k in range(_N_MINHASH)
    ]
    return _shingle_hashes_exploded(docs, text_col).groupBy("doc_id").agg(*mins)


def _minhash_signatures(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """doc_id → 32-value minhash signature array (docs with < 3 tokens
    are absent). Thin array view over _minhash_wide for consumers that
    want one column."""
    wide = _minhash_wide(docs, text_col)
    return wide.select(
        "doc_id", F.array(*[f"m{k}" for k in range(_N_MINHASH)]).alias("sig")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup: signature → band buckets → bucket self-join.
# The raw pair set is engine-specific (xxhash64); the registered
# q_dedup_fuzzy_minhash is its r8 contract form further below.
# ---------------------------------------------------------------------------


# Bucket-depth cap: pair generation is quadratic in bucket size, so a
# degenerate bucket (an all-identical corpus hashes every doc into ONE
# bucket per band) must be truncated before the pair explode. 64 keeps
# per-bucket fan-out at C(64,2)=2016 pairs; real LSH buckets at sane
# chunk/band widths are O(1) deep and never reach it. The cap is NOT
# silent: the drop is counted per bucket and surfaced through an
# optional Observation (pyspark.sql.Observation) riding the production
# pass — callers that care assert `ids_dropped == 0` or log it.
_MAX_BUCKET = 64

# Two-tier verify: minimum agreeing minhash positions (of _N_MINHASH)
# a candidate pair must show before the exact posting join pays for it.
# 8/32 = estimated Jaccard 1/4 — half the exact threshold t = 1/2, so
# only a pair whose deterministic estimate deviates −50% relative could
# be lost (P ≈ 1.2e-3 at j exactly 0.5, ~1e-12 at the fixture's
# j ≥ 0.889; the stages query measures realized recall per corpus).
_EST_MIN_AGREE = 8

# Per-doc candidate-degree cap (VERDICT r5 #3 — the third production
# lever for the two-tier join): after the length + estimate filters,
# each document votes for its top-_MAX_DEGREE incident candidate
# edges by (minhash agreement desc, partner doc_id asc), and an edge
# survives if EITHER endpoint votes for it — the standard kNN-graph
# rule. Every kept edge holds at least one of the ≤ cap·n votes, so
# the verify tier's posting-join input is ≤ cap·corpus edges —
# LINEAR in n no matter how pathological the
# near-threshold pair mass is (the adversarial 100× replica corpus
# generates K² moderately-similar pairs per duplicate cluster;
# without the cap the exact-verify tier inherits all of them).
# Ranking prefers HIGHER estimated similarity, so what the cap sheds
# first is exactly the low-ĵ junk; a true j ≥ t pair is lost only
# when BOTH its endpoints have ≥ cap neighbors with estimates above
# the pair's own — i.e. both docs sit in duplicate clusters wider
# than the cap, where either-endpoint voting still keeps every node's
# best edges, so the cluster stays CONNECTED for the downstream
# connected-components collapse (AND-voting would isolate high-id
# nodes of a clique wider than the cap). Drops are counted through an
# optional Observation, and the stages query reports realized recall
# per corpus. At oracle/fixture scale the cap is INERT (max candidate
# degree ≪ 64 — asserted by pytest), so q_dedup_lsh_verified keeps
# its exact brute-force oracle.
_MAX_DEGREE = 64

# Pre-flight ceiling for the UNCAPPED verify tier (VERDICT r7 #4).
# ``dedup_lsh_verified(max_degree=None)`` is the documented escape
# hatch that spilled ~70 GB and died on the 100×-adversarial replica
# corpus (SCALING.md (y)) — each junk candidate costs ~170 posting-join
# rows downstream. When the cap is disabled, the candidate set is
# materialized once (localCheckpoint — the verify tier reuses it, so
# the count is amortized, not extra work) and the run REFUSES with
# CandidateFloodError if it exceeds this many edges. The 100× flood
# measured 21.7M estimate-surviving candidates, so the 10M default
# trips there while leaving two orders of magnitude of headroom over
# any legit mid-scale corpus; a workload with >10M GENUINE near-dup
# edges should run with a degree cap (the linear-cost path), not
# uncapped. ``uncapped_edge_ceiling=None`` disables the guard.
_UNCAPPED_EDGE_CEILING = 10_000_000


class CandidateFloodError(RuntimeError):
    """Uncapped LSH-verify refused: candidate volume indicates a junk
    flood that the exact-verify tier would inherit quadratically."""


def minhash_band_pairs(
    docs: DataFrame, max_bucket: int = _MAX_BUCKET, observation=None
) -> DataFrame:
    """Candidate near-duplicate pairs from 8-band/4-row MinHash LSH.

    Band signature = xxhash64 over the band's 4 minhash COLUMNS — a
    single hash call per band, emitted via the stack() generator
    (codegen) rather than building an array of structs and exploding.
    64-bit collisions only add candidate pairs. Short docs never
    reach here (dropped before the shingle explode), so no null-hash
    bucket can form. Pairs and the bucket cap: _bucket_pairs.
    """
    wide = _minhash_wide(docs)
    n_bands = _N_MINHASH // _BAND_ROWS
    stack_args = ", ".join(
        "{b}, xxhash64({cols})".format(
            b=b,
            cols=", ".join(f"m{b * _BAND_ROWS + r}" for r in range(_BAND_ROWS)),
        )
        for b in range(n_bands)
    )
    banded = wide.select(
        "doc_id",
        F.expr(f"stack({n_bands}, {stack_args}) AS (band, band_sig)"),
    )
    return (
        _bucket_pairs(
            banded, ["band", "band_sig"], F.col("doc_id"), max_bucket, observation
        )
        .select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"))
        .distinct()
    )


# q_dedup_fuzzy_minhash is registered AFTER dedup_prefix_filter below
# (its contract oracle string-patches _ORACLE_PREFIX_FILTER at import
# time); production candidate generation stays minhash_band_pairs().


# ---------------------------------------------------------------------------
# SimHash: 64-bit bit-vote sketch; candidates share one of four
# 16-bit chunks, verified with bit_count(xor) <= hamming threshold.
# The raw pair set is engine-specific (xxhash64); the registered
# q_dedup_simhash is its r8 contract form further below.
#
# Scale note (measured in SCALING.md): 16-bit chunks give 65536
# buckets per chunk; expected bucket depth is corpus/65536, and pair
# generation is quadratic in depth. Keep chunk bits ≈ log2(corpus
# size) + margin so depth stays O(1) — at 500k docs the quadratic
# term is already visible (9.7× cost at 10× data). Naively widening
# chunks loses the hamming<=3 pigeonhole guarantee; large corpora
# switch to the Manku block-combination tables instead — see
# simhash_pairs for the design and its measured recall rationale.
# ---------------------------------------------------------------------------

_HAMMING_MAX = 12


def simhash_sketch(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash) — 64-bit bit-vote sketch per document.

    Bit votes as 64 SUM aggregates over exploded token hashes —
    whole-stage codegen partial+final agg — instead of a 64-round
    interpreted fold that re-tokenized the document per bit. Bit b of
    the sketch is set iff more than half the token hashes have bit b
    set: sum((h >> b) & 1) * 2 > n_tokens.

    explode THEN hash: explode is a codegen generator and xxhash64 a
    plain column function, so tokenization+hashing has no interpreted
    higher-order lambda at all (unlike shingling, token hashing needs
    no adjacency, so the pure-explode path is available).
    """
    spread = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    tok_hashes = (
        spread.select(
            "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("tok")
        )
        .filter(F.col("tok") != "")
        .select("doc_id", F.xxhash64("tok").alias("h"))
    )
    bit_sums = tok_hashes.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        *[
            F.sum(F.expr(f"shiftrightunsigned(h, {b}) & 1")).alias(f"b{b}")
            for b in range(64)
        ],
    )
    simhash = F.expr(
        " | ".join(f"IF(b{b} * 2 > n_tok, shiftleft(1L, {b}), 0L)" for b in range(64))
    )
    return bit_sums.select("doc_id", simhash.alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    widened: bool | None = None,
    max_bucket: int = _MAX_BUCKET,
    observation=None,
) -> DataFrame:
    """Near-duplicate pairs (doc_a, doc_b, hamming) with hamming <=
    _HAMMING_MAX, candidates generated by bucket-key collision.

    Two candidate-table designs, both with the hamming<=3 pigeonhole
    GUARANTEE (<=3 differing bits leave some table's key bits fully
    untouched), auto-selected by corpus size (a driver-side count(),
    which runs Spark jobs while the query is built; pass `widened` to
    skip it):

    - baseline (<=200k docs): 4 tables keyed on the 4 disjoint 16-bit
      chunks. Cheap (4x fan-out) but expected bucket depth is
      corpus/65536 — pair generation is quadratic in depth, so past
      ~200k docs the buckets themselves become the cost
      (SCALING.md:29-52).
    - widened (>200k docs): the Manku/WWW'07 block-combination scheme
      — the sketch splits into 6 blocks (11/11/11/11/10/10 bits) and
      every C(6,3)=20 block TRIPLE becomes a table keyed on the
      concatenated ~32-bit triple value. Bucket depth drops to
      corpus/2^32 (O(1) at any realistic corpus) while the <=3-bit
      guarantee survives: 3 differing bits touch <=3 blocks, leaving
      >=3 untouched blocks whose triple IS one of the 20 tables. A
      naive widening (2 chunks of 32 bits, or bit-rotated variants)
      loses exactly this guarantee — measured recall 0.3 vs 0.93 on
      planted near-dups — which is why the table count (20x fan-out of
      16-byte rows, linear) is the honest price of depth control.
      Recall parity with the baseline is pinned by
      tests/test_llm_ops.py on planted <=3-bit near-duplicates.

    Degenerate buckets are truncated at `max_bucket` members (smallest
    doc_ids kept — members are sorted) with the overflow counted into
    `observation`; see _MAX_BUCKET.
    """
    sketched = simhash_sketch(docs)
    if widened is None:
        widened = docs.count() > 200_000
    tables = []
    if not widened:
        mask16 = (1 << 16) - 1
        tables = [
            f"struct({c} AS tbl, "
            f"shiftrightunsigned(simhash, {c * 16}) & {mask16} AS tbl_key)"
            for c in range(4)
        ]
    else:
        from itertools import combinations

        sizes = [11, 11, 11, 11, 10, 10]
        starts = [sum(sizes[:i]) for i in range(6)]
        block = [
            f"(shiftrightunsigned(simhash, {starts[i]}) & {(1 << sizes[i]) - 1})"
            for i in range(6)
        ]
        for tid, (a, b, c) in enumerate(combinations(range(6), 3)):
            key = (
                f"({block[a]} | shiftleft({block[b]}, 11) "
                f"| shiftleft({block[c]}, 22))"
            )
            tables.append(f"struct({tid} AS tbl, {key} AS tbl_key)")
    chunks = sketched.select(
        "doc_id",
        "simhash",
        F.explode(F.expr(f"array({', '.join(tables)})")).alias("cc"),
    ).select("doc_id", "simhash", "cc.tbl", "cc.tbl_key")
    return (
        _bucket_pairs(
            chunks,
            ["tbl", "tbl_key"],
            F.struct("doc_id", "simhash"),
            max_bucket,
            observation,
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias(
                "hamming"
            ),
        )
        .distinct()
        .filter(F.col("hamming") <= _HAMMING_MAX)
    )


# q_dedup_simhash is registered after dedup_prefix_filter below (its
# contract oracle string-patches _ORACLE_PREFIX_FILTER at import time).


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard over neighbor candidate pairs (same source,
# doc_id within +5) — fully oracle-checked against DuckDB list ops.
# At scale the candidate generator would be the LSH bucket join above;
# the neighbor window here keeps the pair count linear for the oracle.
# ---------------------------------------------------------------------------

_ORACLE_JACCARD = """
WITH sh AS (
    SELECT doc_id, source,
           list_distinct(list_transform(
               range(len(toks) - 2),
               i -> toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3]
           )) AS shingles
    FROM (
        SELECT doc_id, source,
               list_filter(string_split_regex(LOWER(text), '\\s+'), t -> t <> '') AS toks
        FROM documents
    )
    WHERE len(toks) >= 3
)
SELECT a.doc_id AS doc_a,
       b.doc_id AS doc_b,
       ROUND(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / len(list_distinct(list_concat(a.shingles, b.shingles))), 6) AS jaccard
FROM sh a
JOIN sh b ON a.source = b.source
         AND b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 100
ORDER BY doc_a, doc_b
"""


@query("q_dedup_ngram_jaccard", oracle=_ORACLE_JACCARD)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard per candidate pair WITHOUT per-pair array ops.

    The first formulation evaluated array_intersect/array_distinct on
    every pair — interpreted collection calls over ~100-element arrays,
    measured 27.6 s at sf0.1 (the same trap the corpus funnel hit,
    SCALING.md (c)). This form computes |A∩B| as an AGGREGATION over
    the exploded shingle-match join — whole-stage codegen end to end:

      matches:  (doc_a, doc_b, inter) from a shingle-keyed self-join of
                the exploded distinct shingles, restricted by the same
                source/id-window predicate — each shared shingle is one
                joined row, counted per pair (shuffle carries hashes);
      pairs:    the array-free candidate frame (so ZERO-overlap
                neighbors still emit jaccard = 0, like the oracle);
      jaccard:  inter / (|A| + |B| - inter) — integers, exact.

    Measured 27.6 → ~2 s at sf0.1. The candidate window stays the
    oracle-friendly id-band; at 100 TB the LSH bucket join above is
    the candidate generator and this verify stage is unchanged.

    (window of 100 ids: fixture sources are src{doc_id % 20}, so
    same-source neighbors sit at id strides of 20 — a ±5 window would
    never match and the candidate set would be empty)
    """
    docs = load_table(spark, sf_dir, "documents")
    # the interpreted shingling HOF is the dominant cost (~4 s at
    # sf0.1 across all cores) and THREE plan branches need its output
    # (sizes, both self-join sides) — localCheckpoint materializes the
    # exploded shingles exactly once (the corpus-funnel discipline);
    # the repartition spreads the single-file fixture scan first
    spread = docs.repartition(spark.sparkContext.defaultParallelism)
    ex = spread.select(
        "doc_id", "source", F.explode(_word_shingles("text")).alias("shingle")
    ).localCheckpoint(eager=True)
    # _word_shingles emits DISTINCT shingles, so per-doc row count IS
    # the shingle-set size; zero-shingle docs are absent from the
    # explode, matching the size>0 filter the oracle applies
    sized = ex.groupBy("doc_id", "source").agg(F.count(F.lit(1)).alias("n_sh"))

    pair_cond = (
        (F.col("a.source") == F.col("b.source"))
        & (F.col("b.doc_id") > F.col("a.doc_id"))
        & (F.col("b.doc_id") <= F.col("a.doc_id") + 100)
    )
    pairs = (
        sized.alias("a")
        .join(sized.alias("b"), pair_cond)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
    )

    # the id-band rides IN the join key (the corpus-funnel lesson:
    # posting-list depth of a common shingle must not set the bucket
    # fan-out) — probe side explodes over [band, band+1] so every
    # in-window pair meets in exactly one (source, shingle, band)
    # bucket, whose depth is bounded by docs-per-window
    ex_a = ex.select(
        "doc_id",
        "source",
        "shingle",
        F.explode(
            F.array(
                F.floor(F.col("doc_id") / 100), F.floor(F.col("doc_id") / 100) + 1
            )
        ).alias("band"),
    )
    ex_b = ex.withColumn("band", F.floor(F.col("doc_id") / 100))
    matches = (
        ex_a.alias("a")
        .join(
            ex_b.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.shingle") == F.col("b.shingle"))
            & pair_cond,
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )

    inter = F.coalesce(F.col("inter"), F.lit(0))
    return (
        pairs.join(matches, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                inter.cast("double") / (F.col("n_a") + F.col("n_b") - inter), 6
            ).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup: neighbor pairs with cosine above
# threshold — oracle-checked (cosine spelled out identically in both
# engines: dot/(|a||b|) over double-cast components).
# ---------------------------------------------------------------------------

# random 64-dim embeddings: neighbor cosine tops out ≈0.47 at sf0.01
# (σ≈1/8) — 0.3 keeps the result non-empty-but-selective at every SF
_COS_THRESHOLD = 0.3


EMBED_DIM = 64  # fixture embedding width (FIXTURES.md); callers pass
# their own dim for other corpora


def as_double_array(col: Column) -> Column:
    """Cast array<float> → array<double> ONCE, matching the oracle's
    emb::DOUBLE[] (the pair scorer _seq_dot_udf reads this pre-cast
    array)."""
    return col.cast("array<double>")


def _dot_fold(a: Column, b: Column) -> Column:
    """Dot product as a zip_with/aggregate fold over double-cast terms,
    added left to right — the same association as DuckDB's
    list_dot_product (0.0+x0 == x0). Interpreted (CodegenFallback) but
    a TINY expression tree."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity between two array<float> columns (double
    math) as HOF folds: ~µs/row interpreted eval but a small
    expression tree, so driver-side plan analysis stays cheap — the
    right form for per-vector scoring and bounded candidate sets
    (measured: semantic-dedup's 125k-pair fan-out ran 4.8 s with the
    fold against 13.9 s with a dim-unrolled codegen chain, whose
    analysis and codegen dominated). Large pair fan-outs score with
    _seq_dot_udf, which hands whole Arrow batches to numpy instead."""
    return F.try_divide(
        _dot_fold(a, b), F.sqrt(_dot_fold(a, a)) * F.sqrt(_dot_fold(b, b))
    )


_ORACLE_EMB_DUP = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
SELECT a.vec_id AS vec_a,
       b.vec_id AS vec_b,
       ROUND(list_dot_product(a.emb, b.emb)
             / (SQRT(list_dot_product(a.emb, a.emb)) * SQRT(list_dot_product(b.emb, b.emb))),
             6) AS cos_sim
FROM e a
JOIN e b ON b.vec_id > a.vec_id AND b.vec_id <= a.vec_id + 10
WHERE ROUND(list_dot_product(a.emb, b.emb)
            / (SQRT(list_dot_product(a.emb, a.emb)) * SQRT(list_dot_product(b.emb, b.emb))),
            6) > {_COS_THRESHOLD}
ORDER BY vec_a, vec_b
"""


_WINDOW = 10  # candidate window: vec_b in (vec_a, vec_a + _WINDOW]


def _seq_dot_udf():
    """Arrow-vectorized pairwise dot with SEQUENTIAL per-element
    accumulation: acc = t0; acc += t_i in index order — the exact
    association of the HOF fold (cosine) AND DuckDB's
    list_dot_product, so round-6 oracle parity is untouched.
    (np.dot/@ would use pairwise summation — last-ulp different.)

    Why a UDF here at all: the unrolled 64-term expression is cheap
    per ROW but costs seconds of driver-side analysis/codegen per
    query BUILD (~400-node trees, rebuilt every run — measured ~4-5 s
    of the clusters query at sf0.1, dwarfing the actual math on 20k
    candidate pairs). Same trade as k-means' argmin (SURVEY §4): past
    ~1k expression nodes, hand the batch to numpy."""

    @F.pandas_udf("double")
    def seq_dot(xa: pd.Series, xb: pd.Series) -> pd.Series:
        X = np.vstack(xa.to_numpy())
        Y = np.vstack(xb.to_numpy())
        acc = X[:, 0] * Y[:, 0]
        for i in range(1, X.shape[1]):
            acc = acc + X[:, i] * Y[:, i]
        return pd.Series(acc)

    return seq_dot


@query("q_dedup_embedding_cosine", oracle=_ORACLE_EMB_DUP)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded range join: a pure range condition would plan as a
    nested-loop join with the (interpreted) cosine pushed into the
    O(n²) join condition — observed 140s at a few thousand vectors.
    Blocking vec_id into window-sized bands and exploding the probe
    side over [band, band+1] turns candidate generation into an
    EQUI-join (hash, codegen); the range residual and the cosine then
    evaluate on only the O(n·window) in-band pairs. Norms are computed
    once per vector before the join; each candidate pair costs one
    Arrow-batched sequential dot (see _seq_dot_udf for why not the
    unrolled expression)."""
    dot = _seq_dot_udf()
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_array(F.col("embedding")).alias("emb")
    )
    emb = emb.withColumn("norm", F.sqrt(dot("emb", "emb")))
    a = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("emb").alias("emb_a"),
        F.col("norm").alias("norm_a"),
        F.explode(
            F.array(
                F.floor(F.col("vec_id") / _WINDOW),
                F.floor(F.col("vec_id") / _WINDOW) + 1,
            )
        ).alias("band"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("emb").alias("emb_b"),
        F.col("norm").alias("norm_b"),
        F.floor(F.col("vec_id") / _WINDOW).alias("band"),
    )
    cos = F.round(
        F.try_divide(
            dot("emb_a", "emb_b"), F.col("norm_a") * F.col("norm_b")
        ),
        6,
    )
    return (
        a.join(b, "band")
        .filter(
            (F.col("vec_b") > F.col("vec_a"))
            & (F.col("vec_b") <= F.col("vec_a") + _WINDOW)
        )
        .select("vec_a", "vec_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") > _COS_THRESHOLD)
        # compute the Arrow dot exactly once (optimization r13, guide
        # §2.4): the final sort's range sampling re-ran the in-band
        # join + cosine a second time; the surviving pairs are tiny
        .localCheckpoint(eager=False)
        .orderBy("vec_a", "vec_b")
    )


# ---------------------------------------------------------------------------
# Representative selection — the KEEP RULE that turns dedup groups
# into a clean corpus. dedup_exact answers "what is duplicated"; this
# answers "which copy survives": per fingerprint group, keep the
# best document by an explicit quality ordering (longest text, ties
# to the lowest doc_id — deterministic and auditable). One
# max_by(struct) hash agg: the shuffle carries (fingerprint, best
# candidate so far) after partial agg, never the group's documents.
# At 100 TB this replaces the window-rank formulation (full shuffle +
# per-group sort) for the same reason cdc.apply_cdc does.
# ---------------------------------------------------------------------------

_ORACLE_REPRESENTATIVE = """
WITH ranked AS (
    SELECT doc_id, lang, n_chars,
           md5(REGEXP_REPLACE(TRIM(LOWER(text)), '\\s+', ' ', 'g')) AS fingerprint,
           ROW_NUMBER() OVER (
               PARTITION BY md5(REGEXP_REPLACE(TRIM(LOWER(text)), '\\s+', ' ', 'g'))
               ORDER BY n_chars DESC, doc_id
           ) AS rn,
           COUNT(*) OVER (
               PARTITION BY md5(REGEXP_REPLACE(TRIM(LOWER(text)), '\\s+', ' ', 'g'))
           ) AS n_copies
    FROM documents
)
SELECT fingerprint, doc_id AS kept_doc_id, lang, n_chars,
       CAST(n_copies AS BIGINT) AS n_copies
FROM ranked WHERE rn = 1
ORDER BY fingerprint
"""


@query("q_dedup_representative", oracle=_ORACLE_REPRESENTATIVE)
def dedup_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.regexp_replace(F.trim(F.lower("text")), r"\s+", " "))
    # quality order = (n_chars DESC, doc_id ASC); max_by takes the MAX
    # of the ordering struct, so doc_id rides negated
    best = F.max_by(
        F.struct("doc_id", "lang", "n_chars"),
        F.struct(F.col("n_chars"), -F.col("doc_id")),
    ).alias("best")
    return (
        docs.groupBy(fp.alias("fingerprint"))
        .agg(best, F.count(F.lit(1)).alias("n_copies"))
        .select(
            "fingerprint",
            F.col("best.doc_id").alias("kept_doc_id"),
            F.col("best.lang").alias("lang"),
            F.col("best.n_chars").alias("n_chars"),
            "n_copies",
        )
        .orderBy("fingerprint")
    )


# ---------------------------------------------------------------------------
# URL-canonicalization dedup — the cheapest web-corpus dedup signal:
# the same page crawled under scheme/host case variants, tracking
# query params, trailing slashes, and fragments must collapse to ONE
# canonical URL before any content hashing runs (it prunes refetches
# for free, upstream of text-level dedup). The fixture has no URL
# column, so URLs are SYNTHESIZED deterministically from doc columns
# with injected variant noise — the same discipline as the PII
# detector's injected PII (llm/textstats.py): a deterministic
# generator makes the canonicalizer oracle-checkable value-for-value.
#
# Scale design (100 TB): canonicalization is pure map-side string
# algebra (codegen); the dedup groupBy shuffles (canonical_url,
# doc_id) only — identical shape to exact dedup above.
# ---------------------------------------------------------------------------

_TRACKING_PREFIXES = ("utm_", "ref=", "fbclid=", "gclid=")


def _synth_url() -> Column:
    """Deterministic raw URL with variant noise keyed by doc_id % 4:
    0 plain, 1 tracking params (+ one real param to keep), 2 uppercase
    scheme+host, 3 trailing slash + fragment."""
    host = F.concat_ws("", F.lit("https://"), F.col("source"), F.lit(".example.com"))
    path = F.concat_ws(
        "/", F.lit(""), F.col("lang"), F.lit("item"), (F.col("doc_id") % 50)
    )
    variant = F.col("doc_id") % 4
    return (
        F.when(variant == 1, F.concat(host, path, F.lit("?utm_source=news&ref=tw&page=2")))
        .when(variant == 2, F.concat(F.upper(host), path))
        .when(variant == 3, F.concat(host, path, F.lit("/#section")))
        .otherwise(F.concat(host, path))
    )


def canonical_url(url: Column) -> Column:
    """Canonical form: strip fragment; lowercase scheme+host; drop
    trailing slashes; drop tracking query params (utm_*, ref, fbclid,
    gclid) but KEEP real ones, sorted for order-independence. Spelled
    as engine-portable string algebra (regexp + array ops) rather than
    parse_url so the DuckDB oracle can run the identical expressions."""
    u = F.regexp_replace(url, r"#.*$", "")  # fragment
    head = F.lower(F.regexp_extract(u, r"(?i)^(https?://[^/?]+)", 1))
    rest = F.regexp_replace(u, r"(?i)^https?://[^/?]+", "")
    path = F.regexp_replace(F.regexp_replace(rest, r"\?.*$", ""), r"/+$", "")
    qs = F.when(rest.contains("?"), F.regexp_extract(rest, r"\?(.*)$", 1)).otherwise(
        F.lit("")
    )
    kept = F.array_sort(
        F.filter(
            F.split(qs, "&"),
            lambda p: (p != "")
            & ~p.startswith("utm_")
            & ~p.startswith("ref=")
            & ~p.startswith("fbclid=")
            & ~p.startswith("gclid="),
        )
    )
    return F.concat(
        head,
        path,
        F.when(F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))).otherwise(
            F.lit("")
        ),
    )


_ORACLE_URL_CANONICAL = """
WITH raw AS (
    SELECT doc_id,
           CASE doc_id % 4
             WHEN 1 THEN 'https://' || source || '.example.com/' || lang || '/item/'
                         || (doc_id % 50) || '?utm_source=news&ref=tw&page=2'
             WHEN 2 THEN UPPER('https://' || source || '.example.com')
                         || '/' || lang || '/item/' || (doc_id % 50)
             WHEN 3 THEN 'https://' || source || '.example.com/' || lang || '/item/'
                         || (doc_id % 50) || '/#section'
             ELSE 'https://' || source || '.example.com/' || lang || '/item/'
                  || (doc_id % 50)
           END AS url
    FROM documents
), canon AS (
    SELECT doc_id, url,
           LOWER(regexp_extract(regexp_replace(url, '#.*$', ''), '(?i)^(https?://[^/?]+)', 1))
           || regexp_replace(regexp_replace(regexp_replace(regexp_replace(url, '#.*$', ''), '(?i)^https?://[^/?]+', ''), '\\?.*$', ''), '/+$', '')
           || CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&') ELSE '' END
           AS canonical
    FROM (
        SELECT doc_id, url,
               list_sort(list_filter(
                   string_split(CASE WHEN contains(regexp_replace(url, '#.*$', ''), '?')
                                     THEN regexp_extract(regexp_replace(url, '#.*$', ''), '\\?(.*)$', 1)
                                     ELSE '' END, '&'),
                   p -> p <> '' AND NOT starts_with(p, 'utm_') AND NOT starts_with(p, 'ref=')
                        AND NOT starts_with(p, 'fbclid=') AND NOT starts_with(p, 'gclid=')
               )) AS kept
        FROM raw
    ) q JOIN raw USING (doc_id, url)
)
SELECT canonical AS canonical_url,
       CAST(COUNT(*) AS BIGINT) AS n_copies,
       CAST(COUNT(DISTINCT url) AS BIGINT) AS n_raw_forms,
       MIN(doc_id) AS keeper_doc_id
FROM canon
GROUP BY canonical
ORDER BY canonical_url
"""


@query("q_dedup_url_canonical", oracle=_ORACLE_URL_CANONICAL)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    with_url = docs.select("doc_id", _synth_url().alias("url"))
    return (
        with_url.select("doc_id", "url", canonical_url(F.col("url")).alias("canonical"))
        .groupBy(F.col("canonical").alias("canonical_url"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("url").alias("n_raw_forms"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .orderBy("canonical_url")
    )


# ---------------------------------------------------------------------------
# Sketch calibration — minhash-estimated Jaccard vs EXACT Jaccard on
# the same neighbor pairs: the accuracy report that justifies trusting
# the sketch at scales where exact verification is unaffordable. The
# estimator is the signature agreement fraction (unbiased for true
# Jaccard, stderr ≈ sqrt(J(1-J)/32)); the exact side reuses the
# exploded-intersection aggregation. Contract-oracled since r7; the
# estimator's error is also pinned by tests/test_llm_ops.py.
# ---------------------------------------------------------------------------


def minhash_calibration_detail(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-pair calibration detail: exact Jaccard vs the 32-minhash
    agreement estimate and its absolute error (estimates are
    engine-specific — xxhash64 rehash family — hence not oracled;
    tests/test_llm_ops.py pins MAE/max-err on this frame)."""
    docs = load_table(spark, sf_dir, "documents")
    exact = dedup_ngram_jaccard(spark, sf_dir)
    sigs = _minhash_wide(docs)
    a = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"m{k}").alias(f"a{k}") for k in range(_N_MINHASH)],
    )
    b = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"m{k}").alias(f"b{k}") for k in range(_N_MINHASH)],
    )
    agree = sum(
        (F.col(f"a{k}") == F.col(f"b{k}")).cast("int") for k in range(_N_MINHASH)
    )
    return (
        exact.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            F.round(agree / F.lit(_N_MINHASH), 6).alias("jaccard_est"),
            F.round(F.abs(agree / F.lit(_N_MINHASH) - F.col("jaccard")), 6).alias(
                "abs_err"
            ),
        )
    )


# Contract-oracle (VERDICT r6 #5): the per-pair minhash estimate stays
# engine-specific, but the pair set and exact Jaccard are the ngram
# oracle's own values, and the CALIBRATION CLAIM the rows-only query
# used to carry informally — MAE ≤ 0.08, max error ≤ 0.35 (the
# ~4σ envelope of a 32-permutation estimator at J≈0.5) — is
# deterministic for fixed data (xxhash64 is seedless), so it is now an
# oracled flag pair. A drifted sketch flips a flag corpus-wide and
# fails the driver's value-hash.
_CALIB_MAE_BOUND = 0.08
_CALIB_MAX_BOUND = 0.35

_ORACLE_MINHASH_CALIBRATION = (
    _ORACLE_JACCARD.replace("ORDER BY doc_a, doc_b", "").rstrip()
    .replace(
        "SELECT a.doc_id AS doc_a,",
        "SELECT a.doc_id AS doc_a,\n       CAST(1 AS INTEGER) AS mae_within_bound,\n"
        "       CAST(1 AS INTEGER) AS max_err_within_bound,",
        1,
    )
    + "\nORDER BY doc_a, doc_b"
)


@query("q_dedup_minhash_calibration", oracle=_ORACLE_MINHASH_CALIBRATION)
def dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-Jaccard pair rows (the ngram oracle's values) plus the
    corpus-level calibration flags: MAE and max |err| of the minhash
    estimator within their documented bounds (constant per run —
    broadcast of a one-row aggregate)."""
    detail = minhash_calibration_detail(spark, sf_dir).localCheckpoint(
        eager=True
    )  # two consumers: the row stream and the corpus-level aggregate
    claims = detail.agg(
        (F.avg("abs_err") <= _CALIB_MAE_BOUND)
        .cast("int")
        .alias("mae_within_bound"),
        (F.max("abs_err") <= _CALIB_MAX_BOUND)
        .cast("int")
        .alias("max_err_within_bound"),
    )
    return (
        detail.crossJoin(F.broadcast(claims))
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            "mae_within_bound",
            "max_err_within_bound",
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Prefix-filtered EXACT set-similarity self-join (AllPairs/PPJoin
# family — Bayardo et al. WWW'07, Xiao et al. WWW'08, public
# literature): find every document pair with shingle-set Jaccard ≥ t
# over the WHOLE corpus — no id-band, no source restriction (the
# candidate windows q_dedup_ngram_jaccard uses) and no sketch
# approximation (minhash). The scale mechanism is the prefix filter:
# order each doc's shingles by GLOBAL rarity (document frequency asc,
# shingle asc — any total order is sound, rare-first minimizes
# candidates) and index only the first |x| − ⌈(t/(1+t))·|x|⌉ + 1 of
# them. Soundness: j ≥ t ⇒ |A∩B| ≥ α = ⌈t/(1+t)·(|A|+|B|)⌉, while a
# pair sharing NO prefix shingle has |A∩B| ≤ suffix_a + suffix_b
# < t/(1+t)·(|A|+|B|) ≤ α — contradiction, so every qualifying pair
# meets in ≥1 (rare) prefix-shingle bucket. The brute-force oracle
# verifies this math empirically: a missed pair fails the value hash.
#
# 100 TB shape: postings explode only prefix shingles (rare by
# construction — bucket depth collapses vs the full inverted index);
# the integer length filter (t·|a| ≤ |b| ≤ |a|/t) prunes map-side;
# verification joins candidates back to full postings, so its cost is
# bounded by candidate volume, not corpus size. Threshold and
# prefix arithmetic are exact integers on both engines.
#
# Measured profile (round 4): sf0.1 ~2.8 s (459k raw candidates →
# 125k after the position filter → 256 pairs). At 10× (replica-built
# corpus) candidates grow 78× (9.8M) because every doc has 10
# high-overlap replicas — EXACT similarity joins are inherently
# output/candidate-sensitive, and a self-similar corpus is their
# adversarial case (~60 s). A count filter (s shared prefix shingles)
# was tried and REJECTED: the sound bound is s + ⌈la/3⌉ + ⌈lb/3⌉ − 2
# (suffix sizes ADD across sides; the min-form dropped 360 true pairs
# at 10× before the oracle-discipline caught it), which prunes almost
# nothing at these set sizes. At 100 TB the sketch tier (minhash LSH)
# remains the first-stage candidate generator; prefix-filter is the
# exact mid-scale tool and the post-LSH verifier.
# ---------------------------------------------------------------------------

_PF_T_NUM, _PF_T_DEN = 1, 2  # Jaccard threshold t = 1/2

_ORACLE_PREFIX_FILTER = """
WITH toks AS (
    SELECT doc_id, list_filter(string_split_regex(LOWER(text), '\\s+'), t -> t <> '') AS tk
    FROM documents
), sh AS (
    SELECT doc_id,
           list_distinct(CASE WHEN len(tk) >= 3 THEN
               list_transform(range(1, len(tk) - 1),
                              i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
               ELSE [] END) AS toks
    FROM toks
), pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           len(list_intersect(a.toks, b.toks)) AS li,
           len(a.toks) AS la, len(b.toks) AS lb
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE len(a.toks) > 0 AND len(b.toks) > 0
)
SELECT doc_a, doc_b,
       ROUND(li * 1.0 / (la + lb - li), 6) AS jaccard
FROM pairs
WHERE 3 * li >= la + lb
ORDER BY doc_a, doc_b
"""


# Pre-flight ceiling for the exact prefix-filter join (round 8,
# the _UNCAPPED_EDGE_CEILING pattern applied to the OTHER exact tier).
# A shingle-SATURATED corpus — tiny fixed vocabulary, so trigram space
# stops growing with data (the Heaps'-law violation the containment
# op already work-bounds) — makes even each doc's RAREST shingles
# common: on the 10× natural-perturbation fixture (50k docs, only 41k
# distinct shingles, max df 955) the prefix buckets hold
# Σ C(d,2) ≈ 643M candidate pairs and the join ground past 25 min
# before being killed, vs 52M / ~170 s on the replica corpus and
# 0.65M / ~4 s at sf0.1. The guard counts the prefix-bucket pair
# volume off the (already materialized) prefix index and refuses
# above the ceiling — exact joins on saturated corpora should go to
# the LSH tier, not spill for half an hour.
_PF_PAIR_CEILING = 100_000_000


@query("q_dedup_prefix_filter", oracle=_ORACLE_PREFIX_FILTER)
def dedup_prefix_filter(
    spark: SparkSession,
    sf_dir: str,
    candidate_volume_ceiling: int | None = _PF_PAIR_CEILING,
) -> DataFrame:
    return _prefix_filter_pairs(
        load_table(spark, sf_dir, "documents"), candidate_volume_ceiling
    ).orderBy("doc_a", "doc_b")


def _prefix_filter_pairs(
    docs: DataFrame, candidate_volume_ceiling: int | None
) -> DataFrame:
    """Exact j ≥ 1/2 PPJoin over an arbitrary documents frame — the
    core of q_dedup_prefix_filter and the full-corpus truth of the
    *_detail audits. ``candidate_volume_ceiling=None`` skips the
    pre-flight count job (for callers with a construction-bounded
    input)."""
    from pyspark.sql.window import Window

    ex = _shingle_postings(
        docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    )
    # global rarity order -> per-doc rank -> keep the prefix:
    # px = n - ceil(n * t/(1+t)) + 1, t=1/2 -> n - ceil(n/3) + 1.
    # Both statistics ride WINDOW functions over ex (optimization
    # round 14, guide §2.4): df = count over the h partition and
    # n = count over the doc_id partition replace the old
    # groupBy-then-join-back pair (dfreq ⋈ ex by h, sized ⋈ by doc_id)
    # — ex is traversed once instead of three times and the plan drops
    # from four exchanges to two (plans/r14/q_dedup_prefix_filter_*).
    # Identical semantics: ex rows are distinct per (doc_id, h), so the
    # partition counts equal the old aggregate counts row for row.
    wd = Window.partitionBy("doc_id")
    prefix = (
        ex.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("h")))
        .withColumn("n", F.count(F.lit(1)).over(wd))
        .withColumn("rk", F.row_number().over(wd.orderBy("df", "h")))
        .filter(F.col("rk") <= F.col("n") - F.ceil(F.col("n") / 3) + 1)
        .select("doc_id", "h", "n", "rk")
        # three consumers (volume guard + both sides of the self-join)
        # — one materialization. Lazy when the guard runs (its full
        # aggregation materializes the checkpoint as a side effect of
        # the job it must run anyway — one fewer job); eager otherwise
        # (the self-join's two branches would race a lazy checkpoint).
        .localCheckpoint(eager=candidate_volume_ceiling is None)
    )
    if candidate_volume_ceiling is not None:
        vol_row = (
            prefix.groupBy("h")
            .agg(F.count(F.lit(1)).alias("d"))
            .agg(
                F.sum(F.col("d") * (F.col("d") - 1) / 2).alias("pair_volume")
            )
            .first()
        )
        pair_volume = int(vol_row["pair_volume"] or 0)
        if pair_volume > candidate_volume_ceiling:
            raise CandidateFloodError(
                f"exact prefix-filter join refused: prefix buckets hold "
                f"~{pair_volume} candidate pairs, above the "
                f"{candidate_volume_ceiling} pre-flight ceiling. This "
                "corpus is shingle-saturated (vocabulary not growing "
                "with data — measured 643M pairs on a 50k-doc fixture "
                "with 41k distinct shingles); run the LSH tier "
                "(dedup_lsh_verified) instead, or raise/disable "
                "candidate_volume_ceiling if the volume is intended."
            )

    # candidate pairs: shared prefix shingle + integer length filter
    # (t*la <= lb <= la/t), then the PPJoin POSITION filter: at the
    # pair's FIRST prefix match (ra, rb), every other shared shingle is
    # strictly later in the global order on both sides (an earlier one
    # would itself be a prefix match), so |A∩B| ≤ 1 + min(la−ra, lb−rb)
    # — prune pairs whose bound can't reach α = ⌈(la+lb)/3⌉. Measured
    # at sf0.1: 459k raw candidates → 125k, verify 4.5 s → 1.9 s; the
    # brute-force oracle re-proves soundness on every run.
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (_PF_T_DEN * F.col("b.n") >= _PF_T_NUM * F.col("a.n"))
            & (_PF_T_DEN * F.col("a.n") >= _PF_T_NUM * F.col("b.n")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("la"),
            F.col("b.n").alias("lb"),
            F.col("a.rk").alias("ra"),
            F.col("b.rk").alias("rb"),
        )
        .groupBy("doc_a", "doc_b", "la", "lb")
        .agg(F.min(F.struct("ra", "rb")).alias("m"))
        .filter(
            3 * (1 + F.least(F.col("la") - F.col("m.ra"), F.col("lb") - F.col("m.rb")))
            >= F.col("la") + F.col("lb")
        )
        .select("doc_a", "doc_b", "la", "lb")
    )
    return _verify_exact(cand, ex)


# ---------------------------------------------------------------------------
# Contract-oracle forms for the two raw sketch candidate generators
# (VERDICT r7 #3, the minhash-calibration pattern): the candidate
# PAIRS are engine-specific (xxhash64), but the CLAIMS about them are
# checkable against the brute-force exact j ≥ 1/2 truth. Vacuous-truth
# discipline: zero truth pairs → zero rows on both sides, so no flag
# can diverge on degenerate slices. Production candidate generation
# stays minhash_band_pairs() / simhash_pairs().
#
# BOUNDED exact-truth tier (VERDICT r8 #5, the q_dedup_semantic C173
# anchor pattern): round 8 ran the exact prefix-filter truth over the
# WHOLE corpus inside these registered queries, which made the two
# headline entries the bench's most expensive (6.0 / 7.0 s at sf0.1)
# and super-linear per decade (30.2× / 16.1× — the exact tier inherits
# candidate blowup; SCALING.md (z)). The truth tier is now the SAME
# exact PPJoin restricted to a FIXED-SIZE anchor slice
# (doc_id < _TRUTH_ANCHOR): exact values at any corpus scale, constant
# audit cost — the sketch under audit still runs over the FULL corpus,
# so the recall claim is "full-corpus sketch vs anchored exact truth".
# At sf0.01 the anchor covers the whole 500-doc fixture, so the r8 and
# r9 contracts coincide there; full-corpus recall at fixture scale
# stays a pytest invariant (tests/test_llm_ops.py), and the UNBOUNDED
# audit remains available via the non-headline *_detail functions.
# ---------------------------------------------------------------------------

_TRUTH_ANCHOR = 500


def _truth_anchor_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_anchor_truth over the anchor slice's own posting table, for
    the two audits that build no LSH tiers (the two-tier audits read
    the tiers' checkpointed postings instead)."""
    return _anchor_truth(
        _shingle_postings(
            load_table(spark, sf_dir, "documents").filter(
                F.col("doc_id") < _TRUTH_ANCHOR
            )
        )
    )


def _anchor_truth(postings: DataFrame) -> DataFrame:
    """Exact j ≥ 1/2 pairs among the fixed anchor slice
    (doc_id < _TRUTH_ANCHOR) of a posting table — the bounded
    ground-truth tier shared by the four audit-class contract queries.

    Deliberately NOT the PPJoin: prefix pruning (rarity window + rank
    filter) earns its ~6 extra exchanges at corpus scale, but on a
    ≤500-doc slice the fixed plan overhead dominates (measured 2.1 s
    per audit query at sf0.1 vs <1 s for this shape). A brute-force
    posting self-join with the slice BROADCAST is the C173 pattern:
    one explode projection, one broadcast hash join, two aggregations
    — shuffle volume bounded by the anchor at any corpus size. Worst
    case join fan-out is all-identical docs: shingles·C(500,2) ≈ 5M
    rows, still executor-local. Same 64-bit shingle-hash intersection
    semantics as the PPJoin (collision P ≲ 1e-10; the string-set
    DuckDB oracle re-proves equality on every driver run)."""
    ex = postings.filter(F.col("doc_id") < _TRUTH_ANCHOR)
    sized = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    li = (
        ex.alias("a")
        .join(
            F.broadcast(ex.alias("b")),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("li"))
    )
    return _jaccard_rows(
        li.join(F.broadcast(sized.withColumnRenamed("doc_id", "doc_a")), "doc_a")
        .withColumnRenamed("n", "la")
        .join(F.broadcast(sized.withColumnRenamed("doc_id", "doc_b")), "doc_b")
        .withColumnRenamed("n", "lb")
    )


_ORACLE_PREFIX_ANCHORED = _ORACLE_PREFIX_FILTER.replace(
    "FROM documents", f"FROM documents WHERE doc_id < {_TRUTH_ANCHOR}", 1
)

_ORACLE_FUZZY_MINHASH = _ORACLE_PREFIX_ANCHORED.replace(
    "SELECT doc_a, doc_b,",
    "SELECT doc_a, doc_b,\n"
    "       CAST(1 AS INTEGER) AS recall_ge_floor,\n"
    "       CAST(1 AS INTEGER) AS candidate_volume_linear,",
    1,
)

# The 8-band/4-row production banding misses a j = 0.889 pair with
# p ≈ 4e-4 (deterministic for fixed data; measured anchored-truth
# recall 1.0 on every fixture: 25/25 sf0.01, 28/28 sf0.001, 1/1
# sf0.1). ADVICE r8: a per-pair =1 oracle would fail outright on the
# first future corpus where the banding curve's residual miss rate
# shows up — use a corpus-level floor like the sibling simhash
# contract instead, with margin under all measured points.
_MINHASH_RECALL_FLOOR = 0.9


@query("q_dedup_fuzzy_minhash", oracle=_ORACLE_FUZZY_MINHASH)
def dedup_fuzzy_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact j ≥ 1/2 truth pairs over the fixed anchor slice (the
    anchored prefix-filter oracle's values) plus the 8-band/4-row LSH
    candidate-generator contract flags:

    recall_ge_floor         — anchor-truth-level: the fraction of
                              anchored truth pairs the FULL-corpus
                              band join surfaced is ≥ 0.9 (vacuously 1
                              with no truth pairs — zero rows then
                              anyway);
    candidate_volume_linear — corpus-level: the candidate set stayed
                              within _MAX_DEGREE·n_docs edges (the
                              linearity bound the degree cap enforces
                              downstream; 25 vs 32k at sf0.01).
                              Adversarial replica corpora honestly
                              read 0 here.
    """
    docs = load_table(spark, sf_dir, "documents")
    # bounded anchor truth (≤ C(500,2) rows) — materialized once (rows
    # + flags); both flags (recall + volume) come out of ONE
    # aggregation, so the LSH generator is computed exactly once with
    # no checkpoint-materialization job (measured 4.9 → 2.6 s at sf0.1)
    truth = _truth_anchor_pairs(spark, sf_dir).localCheckpoint(eager=True)
    # the corpus size rides the same aggregation as one marker row per
    # document, so counting it runs no job while the query is built
    # and adds no exchange
    tagged = minhash_band_pairs(docs).unionByName(
        docs.select(F.lit(1).alias("doc")), allowMissingColumns=True
    )
    flags = _truth_counts(
        tagged.withColumn("k", F.lit(0)),
        truth,
        "k",
        [0],
        F.count("doc_a").alias("n_cand"),
        F.count("t").alias("n_true_recalled"),
        F.count("doc").alias("n_docs"),
    ).select(
        _recall_reaches(_MINHASH_RECALL_FLOOR).alias("recall_ge_floor"),
        (F.col("n_cand") <= _MAX_DEGREE * F.greatest("n_docs", F.lit(1)))
        .cast("int")
        .alias("candidate_volume_linear"),
    )
    return (
        truth.crossJoin(F.broadcast(flags))
        .select(
            "doc_a",
            "doc_b",
            "recall_ge_floor",
            "candidate_volume_linear",
            "jaccard",
        )
        .orderBy("doc_a", "doc_b")
    )


_ORACLE_SIMHASH = _ORACLE_PREFIX_ANCHORED.replace(
    "SELECT doc_a, doc_b,",
    "SELECT doc_a, doc_b,\n"
    "       CAST(1 AS INTEGER) AS recall_ge_floor,\n"
    "       CAST(1 AS INTEGER) AS exact_dups_hamming_zero,",
    1,
)

# SimHash is a LOSSIER sketch than shingle minhash (64 token-level
# bit-votes vs 32 shingle minhashes): shingle-Jaccard ≥ 1/2 pairs sit
# near but not always under hamming 12 — measured FULL-corpus truth
# recall 0.92 at sf0.01, 0.964 at sf0.001, 0.879 at sf0.1 (r8);
# against the r9 anchored truth (doc_id < 500): 27/28 = 0.964 at
# sf0.001, 23/25 = 0.92 at sf0.01 (anchor covers the whole fixture at
# both), 1/1 at sf0.1. The floor below leaves margin under all
# measured points; corpora where simhash recall collapses
# (token-permuted near-dups) honestly read 0. Full-corpus recall at
# fixture scale stays pinned by pytest via the *_detail audits.
_SIMHASH_RECALL_FLOOR = 0.85


@query("q_dedup_simhash", oracle=_ORACLE_SIMHASH)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact j ≥ 1/2 truth pairs over the fixed anchor slice plus the
    simhash sketch's contract flags:

    recall_ge_floor         — anchor-truth-level: the fraction of
                              anchored truth pairs the FULL-corpus
                              simhash_pairs surfaces (chunk
                              collision + hamming ≤ _HAMMING_MAX) is
                              ≥ _SIMHASH_RECALL_FLOOR; vacuously 1
                              when there are no truth pairs (zero rows
                              then anyway);
    exact_dups_hamming_zero — every identical-normalized-text pair
                              within the anchor slice is surfaced with
                              hamming 0 (a theorem: identical token
                              multisets give identical sketches; 0
                              such pairs on the fixture — the
                              planted-corpus pytest exercises the
                              non-vacuous case; bounded to the anchor
                              so the fingerprint self-join broadcasts).
    """
    docs = load_table(spark, sf_dir, "documents")
    # bounded anchor truth, broadcast into a single pass over the
    # full-corpus candidate set (the fuzzy_minhash shape); the sketch
    # generator is checkpointed once for its two consumers (recall agg
    # + the hamming-0 anti join)
    truth = _truth_anchor_pairs(spark, sf_dir).localCheckpoint(eager=True)
    cand = simhash_pairs(docs).localCheckpoint(eager=True)
    recall_flag = _recall_flag(cand, truth, _SIMHASH_RECALL_FLOOR)
    fp = docs.filter(F.col("doc_id") < _TRUTH_ANCHOR).select(
        "doc_id",
        F.md5(F.regexp_replace(F.trim(F.lower("text")), r"\s+", " ")).alias("f"),
    )
    # a fingerprint bucket holds ≤ _TRUTH_ANCHOR ids: nothing is capped
    dup_pairs = _bucket_pairs(fp, ["f"], F.col("doc_id"), _TRUTH_ANCHOR).select(
        F.col("a").alias("doc_a"), F.col("b").alias("doc_b")
    )
    dup_flag = dup_pairs.join(
        cand.filter(F.col("hamming") == 0).select("doc_a", "doc_b"),
        ["doc_a", "doc_b"],
        "left_anti",
    ).agg((F.count(F.lit(1)) == 0).cast("int").alias("exact_dups_hamming_zero"))
    return (
        truth.crossJoin(F.broadcast(recall_flag))
        .crossJoin(F.broadcast(dup_flag))
        .select(
            "doc_a",
            "doc_b",
            "recall_ge_floor",
            "exact_dups_hamming_zero",
            "jaccard",
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Two-tier near-dup join (VERDICT r4 #2): minhash-LSH CANDIDATE
# generation feeding exact posting-join VERIFICATION — the claimed
# 100 TB dedup posture as ONE accounted operator. Tier 1 replaces the
# prefix-filter's inverted-index candidate generator (whose candidate
# volume is corpus-similarity-sensitive: 78× growth at 10× on the
# replica corpus, SCALING.md (j)) with LSH bucket collisions, whose
# volume tracks the NEAR-DUPLICATE volume instead. Tier 2 is the same
# exact |A∩B| aggregation the prefix filter uses, so the output is
# EXACT Jaccard ≥ t over whatever tier 1 surfaced.
#
# Banding: 16 bands × 2 rows over the same 32 rehash minhashes
# (threshold (1/16)^(1/2) = 0.25). The wider banding is what makes the
# composition ORACLE-ABLE against the brute-force Jaccard oracle: a
# true pair at j must collide in ≥1 band with p = 1−(1−j²)^16, and the
# corpus' qualifying pairs all sit at j ≥ 0.889 (miss p ≈ 1.4e-11;
# empirically 0 misses at sf0.001/0.01/0.1 — and deterministic for
# fixed data, xxhash64 is seedless). At the 8×4 production banding a
# j = 0.89 pair misses with p ≈ 4e-4 — sound for dedup (minhash's
# documented recall contract) but not for a value-hash oracle gate.
# A t-threshold pair at exactly j = 0.5 collides with p ≈ 0.99 per
# the 16×2 curve; the fixture has no pairs in [0.5, 0.889), and the
# pytest recall gate plants its own.
#
# 100 TB shape: tier-1 shuffles carry 32-column sketch rows (one per
# doc after map-side combine) then (band_sig, doc_id) — never text,
# never the full inverted index. Tier-2 cost is bounded by candidate
# volume (posting joins keyed on 64-bit shingle hashes). Bucket-depth
# cap and its Observation: _bucket_pairs, as in minhash_band_pairs.
# ---------------------------------------------------------------------------


def _degree_ranked(cand_est: DataFrame) -> DataFrame:
    """Per-doc degree rank for every candidate edge: direct each edge
    both ways, row_number per source over (agree desc, partner asc) —
    spill-safe window, no collect_list hub blowup — then fold the two
    directed rows back to the undirected edge with groupBy, keeping
    the BEST endpoint rank (either endpoint's vote suffices — the
    kNN-graph rule, keeps clusters connected). Two exchanges over
    ≤ 2·|cand_est| rows of 5 longs. ``best_rank ≤ cap`` decides
    survival for ANY cap, so one ranking pass serves every operating
    point (q_dedup_lsh_cap_profile exploits this)."""
    from pyspark.sql.window import Window

    directed = cand_est.withColumn("src", F.col("doc_a")).withColumn(
        "dst", F.col("doc_b")
    )
    directed = directed.unionByName(
        cand_est.withColumn("src", F.col("doc_b")).withColumn(
            "dst", F.col("doc_a")
        )
    )
    w = Window.partitionBy("src").orderBy(F.desc("agree"), F.asc("dst"))
    return (
        directed.withColumn("rn", F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "la", "lb")
        .agg(F.min("rn").alias("best_rank"))
    )


def _lsh_verified_tiers(
    docs: DataFrame,
    max_bucket: int = _MAX_BUCKET,
    max_degree: int | None = _MAX_DEGREE,
    observation=None,
    degree_observation=None,
    checkpoint_candidates: bool = False,
    uncapped_edge_ceiling: int | None = _UNCAPPED_EDGE_CEILING,
    anchor_doc_a: int | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame, DataFrame, DataFrame]:
    """Returns (ex, cand_raw, cand, cand_est, cand_capped, verified):

    ``anchor_doc_a`` (VERDICT r9 #5) restricts every returned pair set
    to pairs whose SMALLER id is in the anchor slice (doc_a < anchor,
    applied map-side inside the bucket explode, before any distinct /
    window / posting join) — the bounded-accounting tier of the stages
    contract. Restriction commutes with each stage's filter, so the
    monotone theorem survives, and anchored truth pairs (both ids <
    anchor, doc_a < doc_b) are all anchor-incident, so per-stage recall
    vs anchored truth is unchanged. Downstream volume is bounded by
    the anchor at any corpus scale; only the sketch + bucket explode
    itself stays corpus-sized (one map pass). None = full corpus.

    ex        — _shingle_postings(docs) (consumers: sketch, both
                verify posting sides, and the anchored audits'
                _anchor_truth);
    cand_raw  — LSH bucket-collision pairs (doc_a < doc_b, distinct);
    cand      — cand_raw after the integer length filter
                t·|a| ≤ |b| ≤ |a|/t (a j ≥ t pair cannot violate it);
    cand_est  — cand after the minhash-estimate filter: the pair's 32
                already-computed minhashes must agree on ≥ _EST_MIN_AGREE
                positions (ĵ ≥ 1/4 when the exact threshold is 1/2).
                The 100× probe's root cause lives here: with 2-row
                bands, RANDOM collisions between modestly-overlapping
                docs scale ~n²·E[j²] — measured 2.2k/332k/21.7M raw
                candidates at 1×/10×/100× against only 256/3k/30k true
                pairs, and each junk candidate costs ~170 posting-join
                rows in the verify tier (391 s at 100×). Per-position
                agreement probability IS j (the MinHash identity), so
                junk at j≈0.1 passes Binomial(32, 0.1) ≥ 8 with
                p≈6e-4 while a threshold pair at j = 0.5 fails with
                p≈1.2e-3 — and xxhash64 is seedless, so each pair's
                estimate is a DETERMINISTIC constant: the recall
                contract stays measurable (stages query) and the
                fixture/replica true pairs at j ≥ 0.889 sit ≥ 25
                agreements, unreachable by the cut. Cost: zero extra
                shuffles — lengths and byte-packed signatures ride the
                bucket lists, so both filters evaluate inside the pair
                explode and junk dies before any distinct;
    cand_capped — cand_est after the per-doc degree cap (see
                _MAX_DEGREE): each doc votes for its top-`max_degree`
                incident edges by (agree desc, partner asc); an edge
                survives on EITHER endpoint's vote (≥1 of ≤ cap·n
                votes ⇒ ≤ max_degree·n edges globally; a popular doc's
                own degree may exceed the cap — that keeps hubs
                connected). ``max_degree=None`` disables (then
                cand_capped is cand_est);
    verified  — exact-Jaccard output rows (doc_a, doc_b, jaccard ≥ t).
    """
    ex = _shingle_postings(
        docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    )

    # tier 1: 32 rehash minhashes + the doc's shingle count in ONE
    # codegen agg pass (map-side combine) -> 16 band signatures ->
    # bucket self-pairing in expression space (one shuffle, no
    # self-join re-sketch). stats is cut once: every candidate stage
    # re-reads it, and the cut keeps the sketch's exchanges out of the
    # plans downstream (without it q_dedup_lsh_verified plans 11).
    stats = (
        ex.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.array(
                *[
                    F.min(F.xxhash64(F.col("h"), F.lit(k)))
                    for k in range(_N_MINHASH)
                ]
            ).alias("sig"),
        )
        .localCheckpoint(eager=True)
    )
    n_bands = _N_MINHASH // 2
    stack_args = ", ".join(
        f"{b}, xxhash64(sig[{2 * b}], sig[{2 * b + 1}])" for b in range(n_bands)
    )
    # Banding uses the FULL 64-bit minhashes (byte-truncated band sigs
    # would fold 5M docs into 65k buckets). What travels into the
    # bucket lists is a fixed-width struct: (doc_id, n, p0..p3) where
    # p0..p3 pack one BYTE per minhash (8 per long, 48 B total vs the
    # 264 B array<long> sig). Truncation can only ADD agreements
    # (expected ~32/256 ≈ 0.13 false agreements/pair), never remove a
    # true one, so the ≥ _EST_MIN_AGREE cut stays recall-safe. The 100×
    # probe showed the post-join-fix residual (232 s) was the candidate
    # plumbing itself — a 21.7M-pair distinct plus two 264 B-sig
    # decoration joins; decorating IN the explode lets junk pairs die
    # before any shuffle and deletes both joins.
    pack_sql = ", ".join(
        f"'p{k}', ("
        + " | ".join(f"shiftleft(sig[{8 * k + j}] & 255, {8 * j})" for j in range(8))
        + ")"
        for k in range(4)
    )
    banded = stats.select(
        F.expr(f"named_struct('doc_id', doc_id, 'n', n, {pack_sql})").alias("rec"),
        F.expr(f"stack({n_bands}, {stack_args}) AS (band, band_sig)"),
    )
    # sort_array on structs orders by leading field doc_id, so i<j
    # explode keeps doc_a < doc_b; agreement = 32 xor-mask byte
    # compares on the packed longs, all constant-folded codegen. Masks
    # are emitted as SIGNED 64-bit literals (255<<56 wraps negative —
    # an unsigned literal would not parse as a Spark long).
    def _s64(x: int) -> int:
        return x - (1 << 64) if x >= (1 << 63) else x

    agree_expr = " + ".join(
        f"IF(((a.p{k} ^ b.p{k}) & {_s64(255 << (8 * j))}L) = 0, 1, 0)"
        for k in range(4)
        for j in range(8)
    )
    pairs_dec = _bucket_pairs(
        banded, ["band", "band_sig"], F.col("rec"), max_bucket, observation
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.n").alias("la"),
        F.col("b.n").alias("lb"),
        F.expr(agree_expr).alias("agree"),
    )
    if anchor_doc_a is not None:
        # drop non-anchor-incident pairs inside the explode's map
        # stage: nothing past this line ever sees more than the
        # anchor-bounded pair volume
        pairs_dec = pairs_dec.filter(F.col("doc_a") < anchor_doc_a)
    if checkpoint_candidates:
        # the stages audit reads the pair stream in 3 distinct stages
        # and its descendants: exchange reuse shares the bucket
        # shuffle, but each reader would rerun the interpreted pair
        # explode after it — cut the lineage so it runs once
        pairs_dec = pairs_dec.localCheckpoint(eager=True)

    len_ok = (_PF_T_DEN * F.col("lb") >= _PF_T_NUM * F.col("la")) & (
        _PF_T_DEN * F.col("la") >= _PF_T_NUM * F.col("lb")
    )
    cand_raw = pairs_dec.select("doc_a", "doc_b").distinct()
    cand = pairs_dec.filter(len_ok).select("doc_a", "doc_b").distinct()
    # the hot path: only pairs surviving BOTH filters reach a distinct
    # shuffle; the verify tier ships (doc_a, doc_b, la, lb) only.
    # `agree` is pair-deterministic (computed from the two packed
    # signatures), so carrying it through distinct changes nothing.
    cand_est = (
        pairs_dec.filter(len_ok & (F.col("agree") >= _EST_MIN_AGREE))
        .select("doc_a", "doc_b", "la", "lb", "agree")
        .distinct()
    )

    if max_degree is not None:
        capped = _degree_ranked(cand_est)
        if degree_observation is not None:
            capped = capped.observe(
                degree_observation,
                F.sum((F.col("best_rank") > max_degree).cast("long")).alias(
                    "edges_degree_dropped"
                ),
                F.count(F.lit(1)).alias("edges_before_degree_cap"),
            )
        cand_capped = capped.filter(F.col("best_rank") <= max_degree).select(
            "doc_a", "doc_b", "la", "lb"
        )
    else:
        cand_capped = cand_est.select("doc_a", "doc_b", "la", "lb")
        if uncapped_edge_ceiling is not None:
            # pre-flight guard (VERDICT r7 #4): materialize the
            # candidate set once — the verify tier reads the same
            # checkpoint, so the count costs one cached scan — and
            # refuse before the posting join fans each edge into ~170
            # rows. Only the uncapped path needs this: a degree cap
            # already bounds verify volume at cap·n by construction.
            cand_capped = cand_capped.localCheckpoint(eager=True)
            n_edges = cand_capped.count()
            if n_edges > uncapped_edge_ceiling:
                raise CandidateFloodError(
                    f"uncapped LSH verify refused: {n_edges} candidate "
                    f"edges exceed the {uncapped_edge_ceiling}-edge "
                    "pre-flight ceiling (a junk flood costs ~170 "
                    "posting-join rows per edge — the 100x-adversarial "
                    "probe spilled ~70 GB here, SCALING.md (y)). Run "
                    "with a degree cap (max_degree, default "
                    f"{_MAX_DEGREE}) for verify cost linear in corpus "
                    "size, or raise/disable uncapped_edge_ceiling if "
                    "this volume is intended."
                )

    # tier 2: the prefix filter's exact verify, over the capped edges
    verified = _verify_exact(cand_capped, ex)
    return ex, cand_raw, cand, cand_est, cand_capped, verified


@query("q_dedup_lsh_verified", oracle=_ORACLE_PREFIX_FILTER)
def dedup_lsh_verified(
    spark: SparkSession,
    sf_dir: str,
    max_degree: int | None = _MAX_DEGREE,
    uncapped_edge_ceiling: int | None = _UNCAPPED_EDGE_CEILING,
) -> DataFrame:
    """All document pairs with exact shingle-set Jaccard ≥ 1/2,
    candidates from minhash LSH instead of the exact prefix-filter
    index. Same brute-force oracle as q_dedup_prefix_filter — the
    driver re-proves on every run that the LSH tier surfaced every
    qualifying pair (see banding note above). The per-doc degree cap
    is PLUMBED (VERDICT r6 #4, the similarity_ivf_nprobe pattern):
    default _MAX_DEGREE, inert at oracle scale — the oracle equality
    additionally proves, every run, that the default cap dropped no
    qualifying pair on this corpus; q_dedup_lsh_cap_profile reports
    realized recall per operating point. ``max_degree=None`` is the
    escape hatch — it arms the CandidateFloodError pre-flight
    (``uncapped_edge_ceiling``) so a junk flood refuses instead of
    spilling in the verify tier."""
    _, _, _, _, _, verified = _lsh_verified_tiers(
        load_table(spark, sf_dir, "documents"),
        max_degree=max_degree,
        uncapped_edge_ceiling=uncapped_edge_ceiling,
    )
    return verified.orderBy("doc_a", "doc_b")


def dedup_lsh_verified_stages_detail(
    spark: SparkSession, sf_dir: str, anchored: bool = False
) -> DataFrame:
    """Per-stage accounting for the two-tier join: one row per stage
    with its pair count, how many TRUE pairs (prefix-filter exact
    ground truth) it retains, and the recall fraction. The executable
    form of the recall claim — on the fixture every stage must show
    recall 1.0 (pinned by tests/test_llm_ops.py); on self-similar
    replica corpora the banding curve's residual miss rate shows up
    honestly (measured 0.998 at 10×, SCALING.md). Every stage's pairs
    are tagged with the stage and counted against the truth in one
    grouped aggregate (_truth_counts): the candidate stages share one
    plan, so the sketch and bucket exchanges run once, not once per
    stage row.

    By default the truth is the FULL-corpus exact prefix filter and
    every stage counts all its pairs — the unbounded audit, for probes
    and pytest. ``anchored`` (set by the registered contract query)
    bounds both to the anchor slice, so the headline cost stays
    constant in corpus size: the truth is _anchor_truth over the
    tiers' own posting table (VERDICT r8 #5), and the per-stage pair
    ACCOUNTING counts anchor-incident pairs only (VERDICT r9 #5)."""
    docs = load_table(spark, sf_dir, "documents")
    ex, *stages = _lsh_verified_tiers(
        docs,
        checkpoint_candidates=True,
        anchor_doc_a=_TRUTH_ANCHOR if anchored else None,
    )
    truth = (
        _anchor_truth(ex)
        if anchored
        else _prefix_filter_pairs(docs, _PF_PAIR_CEILING)
    )
    tagged = [
        pairs.select(F.lit(ord_).alias("stage_ord"), "doc_a", "doc_b")
        for ord_, pairs in enumerate(stages, 1)
    ]
    return _truth_counts(
        functools.reduce(DataFrame.unionByName, tagged),
        truth,
        "stage_ord",
        range(1, len(stages) + 1),
        F.count("doc_a").alias("n_pairs"),
        F.count("t").alias("n_true_recalled"),
    ).select(
        "stage_ord",
        F.element_at(F.array(*map(F.lit, _STAGE_NAMES)), F.col("stage_ord")).alias(
            "stage"
        ),
        "n_pairs",
        "n_true_recalled",
        "n_true",
        F.round(F.try_divide("n_true_recalled", "n_true"), 6).alias("recall"),
    ).orderBy("stage_ord")


# Contract-oracle form (round 8): the per-stage PAIR counts are
# engine-specific (xxhash64 banding), but the stage labels are fixed,
# n_true is the brute-force exact j ≥ 1/2 count, and two claims hold:
#   recall_full    — every stage retains ALL true pairs on this corpus
#                    (deterministic for fixed data; 1.0 per stage on
#                    the fixture, pinned independently by pytest;
#                    vacuously 1 when n_true = 0);
#   pairs_monotone — stage pair counts never increase (a THEOREM: each
#                    stage filters its predecessor's pair set).
_STAGE_NAMES = (
    "lsh_candidates",
    "length_filtered",
    "sketch_estimate",
    "degree_capped",
    "verified",
)

_ORACLE_LSH_STAGES = (
    "WITH truth AS (\n"
    + _ORACLE_PREFIX_ANCHORED.replace("ORDER BY doc_a, doc_b", "").rstrip()
    + "\n), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM truth)\n"
    "SELECT s.stage_ord, s.stage, n.n_true,\n"
    "       CAST(1 AS INTEGER) AS recall_full,\n"
    "       CAST(1 AS INTEGER) AS pairs_monotone\n"
    "FROM (VALUES "
    + ", ".join(f"({i + 1}, '{s}')" for i, s in enumerate(_STAGE_NAMES))
    + ") AS s(stage_ord, stage) CROSS JOIN n\n"
    "ORDER BY s.stage_ord"
)


@query("q_dedup_lsh_verified_stages", oracle=_ORACLE_LSH_STAGES)
def dedup_lsh_verified_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract form over dedup_lsh_verified_stages_detail (which
    keeps the full per-stage pair/recall accounting): one row per
    stage with the exact true-pair anchor and the two flags described
    above the oracle. Truth tier bounded to the anchor slice
    (VERDICT r8 #5); since round 10 the per-stage pair ACCOUNTING is
    anchor-incident too (VERDICT r9 #5 — full-candidate accounting
    made this the last registered query super-linear in candidate
    volume: 389.8 s at the 100×-adversarial probe). The sketch,
    banding, and bucket explode still run over the FULL corpus — the
    contract audits production banding behavior restricted to pairs
    touching the anchor slice; both flags are invariant under that
    restriction (monotonicity commutes with it, truth pairs are all
    anchor-incident). At the driver's sf0.01 the anchor covers the
    whole fixture, so the driver row is as strong as before;
    full-corpus accounting stays available via the unregistered
    _detail (probes + pytest)."""
    # two consumers: rows + the cross-stage monotonicity window
    detail = dedup_lsh_verified_stages_detail(
        spark, sf_dir, anchored=True
    ).localCheckpoint(eager=True)
    from pyspark.sql.window import Window

    w = Window.orderBy("stage_ord")  # 5 rows — the single partition is fine
    monotone = (
        detail.select(
            (
                F.col("n_pairs")
                <= F.coalesce(F.lag("n_pairs").over(w), F.col("n_pairs"))
            ).alias("ok")
        )
        .agg(F.min(F.col("ok").cast("int")).alias("pairs_monotone"))
    )
    return (
        detail.crossJoin(F.broadcast(monotone))
        .select(
            "stage_ord",
            "stage",
            "n_true",
            _recall_reaches(1.0).alias("recall_full"),
            "pairs_monotone",
        )
        .orderBy("stage_ord")
    )


# Degree-cap operating points (VERDICT r6 #4): SCALING.md (t) measured
# cap 8 = 94.5% of pairs at 2.4× less wall at 100× adversarial, but 64
# was hard-wired. The profile below makes the trade-off selectable and
# OBSERVABLE: one ranking pass (best_rank decides survival for any
# cap), one verify pass on the uncapped candidates, then per-cap
# accounting — candidate edges, verified pairs, realized recall vs the
# prefix-filter exact ground truth. tests/test_llm_ops.py pins the CI
# floors (monotone in cap; default cap recall 1.0 on the fixture).
_CAP_PROFILE: tuple[int, ...] = (4, 8, 16, 32, 64)


def dedup_lsh_cap_profile_detail(
    spark: SparkSession, sf_dir: str, anchored: bool = False
) -> DataFrame:
    """One row per degree-cap operating point: surviving candidate
    edges, verified pairs at that cap, exact true-pair count, and
    realized recall. Verification runs ONCE at the LARGEST profiled
    cap — capping only filters candidates and verify is
    pair-deterministic, so verified-at-cap ≡ verified@max ∩
    {best_rank ≤ cap} for every cap ≤ max: identical per-cap results,
    but the verify tier stays bounded at max_cap·n edges BY
    CONSTRUCTION (an uncapped profile verify on the 100×-adversarial
    replica corpus spilled ~70 GB before dying — the cap demonstrating
    its own necessity; SCALING.md (y)).

    By default the truth is the FULL-corpus exact prefix filter
    (probes, pytest). ``anchored`` (set by the registered contract
    query) bounds it to the anchor slice — _anchor_truth over the
    tiers' own posting table (VERDICT r8 #5) — and restricts the
    verified/recalled accounting to pairs inside the anchor, so
    verified_pairs == n_true_recalled stays the subset THEOREM when
    the truth tier only covers the slice. candidate_edges always count
    the full corpus (the cap's own operating curve)."""
    docs = load_table(spark, sf_dir, "documents")
    ex, _, _, cand_est, _, verified_all = _lsh_verified_tiers(
        docs, max_degree=max(_CAP_PROFILE)
    )
    ver = verified_all.select("doc_a", "doc_b", F.lit(1).alias("v"))
    if anchored:
        ver = ver.filter(
            (F.col("doc_a") < _TRUTH_ANCHOR) & (F.col("doc_b") < _TRUTH_ANCHOR)
        )
        truth = _anchor_truth(ex)
    else:
        truth = _prefix_filter_pairs(docs, _PF_PAIR_CEILING)
    # every ranked edge exploded over the caps it survives; verified
    # pairs carry v = 1
    caps = F.array(*map(F.lit, _CAP_PROFILE))
    tagged = (
        _degree_ranked(cand_est)
        .join(ver, ["doc_a", "doc_b"], "left")
        .select(
            F.explode(F.filter(caps, lambda c: c >= F.col("best_rank"))).alias(
                "max_degree"
            ),
            "doc_a",
            "doc_b",
            "v",
        )
    )
    return (
        _truth_counts(
            tagged,
            truth,
            "max_degree",
            _CAP_PROFILE,
            F.count("doc_a").alias("candidate_edges"),
            F.count("v").alias("verified_pairs"),
            F.count(F.col("v") * F.col("t")).alias("n_true_recalled"),
        )
        .select(
            "max_degree",
            "candidate_edges",
            "verified_pairs",
            "n_true_recalled",
            "n_true",
            F.round(F.try_divide("n_true_recalled", "n_true"), 6).alias(
                "realized_recall"
            ),
        )
        .orderBy("max_degree")
    )


# Contract-oracle form (VERDICT r7 #3): per-cap candidate/verified
# counts are engine-specific, but n_true is the brute-force exact
# j ≥ 1/2 pair count (SQL-expressible) and two claims are checkable:
#   recall_full  — at every profiled cap the two-tier join recalled
#                  ALL true pairs on this corpus (deterministic for
#                  fixed data; 1.0 at every cap on the fixture, pinned
#                  independently by pytest; vacuously 1 when n_true=0);
#   verified_subset_of_truth — |verified ∩ truth| = |verified|: a
#                  THEOREM (the verify tier computes exact Jaccard, so
#                  every verified pair qualifies), re-checked per run.
_ORACLE_CAP_PROFILE = (
    "WITH truth AS (\n"
    + _ORACLE_PREFIX_ANCHORED.replace("ORDER BY doc_a, doc_b", "").rstrip()
    + "\n), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM truth)\n"
    "SELECT c.max_degree, n.n_true,\n"
    "       CAST(1 AS INTEGER) AS recall_full,\n"
    "       CAST(1 AS INTEGER) AS verified_subset_of_truth\n"
    f"FROM (VALUES {', '.join(f'({c})' for c in _CAP_PROFILE)}) "
    "AS c(max_degree) CROSS JOIN n\n"
    "ORDER BY c.max_degree"
)


@query("q_dedup_lsh_cap_profile", oracle=_ORACLE_CAP_PROFILE)
def dedup_lsh_cap_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract form over dedup_lsh_cap_profile_detail (which keeps
    the full candidate/verified/recall accounting): one row per
    profiled cap with the exact true-pair anchor and the two flags
    described above the oracle. Truth tier and the verified-subset
    scope are bounded to the anchor slice (VERDICT r8 #5); the LSH
    candidate generation, capping, and verify tiers still run over
    the full corpus."""
    return (
        dedup_lsh_cap_profile_detail(spark, sf_dir, anchored=True)
        .select(
            "max_degree",
            "n_true",
            _recall_reaches(1.0).alias("recall_full"),
            (F.col("verified_pairs") == F.col("n_true_recalled"))
            .cast("int")
            .alias("verified_subset_of_truth"),
        )
        .orderBy("max_degree")
    )


# ---------------------------------------------------------------------------
# Incremental ingest dedup (round 5) — the production shape of exact
# dedup: a NEW BATCH (today's crawl; the doc_id % 10 == 0 slice stands
# in) deduped in two steps against an already-indexed corpus (the
# rest). Step 1 collapses within-batch copies (min doc_id keeper);
# step 2 LEFT ANTI joins the batch's fingerprints against the index's
# distinct fingerprints — only genuinely new content survives.
#
# Scale design (100 TB index, ~TB daily batch): both join sides are
# 16-byte md5 fingerprints — text never shuffles. The anti join
# shuffles hash-keyed rows; in steady state the index side is a
# fingerprint table bucketed by fingerprint (sources/layout.py's
# bucketed-sink path), so re-ingest joins are shuffle-free on the big
# side and only the day's batch moves. Same fingerprint normalization
# as q_dedup_exact so the two operators compose.
# ---------------------------------------------------------------------------

_ORACLE_INCREMENTAL = """
WITH fp AS (
    SELECT doc_id,
           md5(REGEXP_REPLACE(TRIM(LOWER(text)), '\\s+', ' ', 'g')) AS fingerprint,
           doc_id % 10 = 0 AS is_batch
    FROM documents
),
batch AS (
    SELECT fingerprint, MIN(doc_id) AS keeper_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_batch_copies
    FROM fp WHERE is_batch GROUP BY fingerprint
),
idx AS (SELECT DISTINCT fingerprint FROM fp WHERE NOT is_batch)
SELECT b.keeper_doc_id AS doc_id, b.fingerprint, b.n_batch_copies
FROM batch b
LEFT JOIN idx i USING (fingerprint)
WHERE i.fingerprint IS NULL
ORDER BY doc_id
"""


@query("q_dedup_incremental", oracle=_ORACLE_INCREMENTAL)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-batch docs surviving exact dedup against the indexed corpus:
    within-batch collapse, then fingerprint anti-join vs the index."""
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id",
        F.md5(F.regexp_replace(F.trim(F.lower("text")), r"\s+", " ")).alias(
            "fingerprint"
        ),
        (F.col("doc_id") % 10 == 0).alias("is_batch"),
    )
    batch = (
        fp.filter("is_batch")
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_batch_copies"),
        )
    )
    idx = fp.filter(~F.col("is_batch")).select("fingerprint")
    return (
        batch.join(idx, "fingerprint", "left_anti")
        .select(
            F.col("keeper_doc_id").alias("doc_id"),
            "fingerprint",
            "n_batch_copies",
        )
        .orderBy("doc_id")
    )
