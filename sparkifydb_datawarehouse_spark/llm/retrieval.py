"""Retrieval scoring over the `documents` / `embeddings` corpus:
Okapi BM25 lexical ranking and reciprocal-rank-fusion (RRF) hybrid
search — the scoring half of a RAG / training-data retrieval stack
(TF-IDF in llm/textstats.py is the statistic; BM25 is the ranking
function actually used by search engines, Robertson & Zaragoza 2009,
public literature; RRF is Cormack/Clarke/Buettcher SIGIR 2009).

Reference has no text surface at all (its 7 SQL statements are
/root/reference/sql_queries.py) — this is Part-B LLM-pipeline surface
mandated by BASELINE.json.

Scale design (100 TB):
- BM25 here is MAP-ONLY per document: the query's terms are known, so
  tf(term, doc) and dl are computed inside the scan (size/filter over
  the token array — whole-stage codegen, no explode, no shuffle). The
  only aggregation is one global 6-scalar stats row (N, Σdl, df per
  query term) — a partial-agg reduce that costs the same at any
  scale — broadcast back into the scoring scan. Top-k is
  TakeOrderedAndProject. Nothing fact-sized ever shuffles.
- For ad-hoc multi-query serving you would precompute an inverted
  index (q_text_inverted_index) and intersect postings; this operator
  is the scan-time form used for corpus-wide scoring/filtering runs.
- RRF fuses bounded top-W candidate lists (W=50): each list is a
  distributed TakeOrdered, the window rank + outer join then touch
  ≤ 2W rows regardless of corpus size.

Determinism: scores are fixed-order arithmetic (s0 + s1 + s2 spelled
left-to-right in both engines), ranks order by ROUND(score, 6) with
doc_id tie-break, so an ulp of libm drift can't flip a rank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load_table
from .dedup import cosine

_TOKEN_SPLIT = r"\s+"
_QUERY_TERMS = ("spark", "query", "join")
_K1 = 1.2
_B = 0.75
_TOP_N = 20

# RRF
_RRF_K = 60
_CAND_W = 50
_RRF_TOP = 10
_QUERY_VEC_ID = 0


def _eq_term(term: str):
    """1-arg lambda factory — F.filter reads a 2-arg lambda as
    (element, index), so a `term=term` default would bind the index."""
    return lambda t: t == F.lit(term)


def _bm25_scored(docs: DataFrame) -> DataFrame:
    """doc_id + per-query-term tf + dl + bm25 (unrounded), all in-plan."""
    # the token array is projected once: CollapseProject keeps a
    # non-cheap expression that four columns read in its own
    # projection, so each document is split once per scan, not four
    # times
    toks = docs.select(
        "doc_id",
        F.filter(F.split(F.lower("text"), _TOKEN_SPLIT), lambda t: t != "").alias(
            "toks"
        ),
    )
    base = toks.select(
        "doc_id",
        F.size("toks").cast("long").alias("dl"),
        *[
            F.size(F.filter("toks", _eq_term(term))).cast("long").alias(f"tf_{i}")
            for i, term in enumerate(_QUERY_TERMS)
        ],
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(_QUERY_TERMS))
        ],
    )
    scored = base.crossJoin(F.broadcast(stats))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    norm = F.lit(_K1) * (F.lit(1.0) - F.lit(_B) + F.lit(_B) * (F.col("dl") / avgdl))

    def term_score(i: int):
        tf = F.col(f"tf_{i}")
        df = F.col(f"df_{i}")
        idf = F.log(
            F.lit(1.0) + (F.col("n_docs") - df + F.lit(0.5)) / (df + F.lit(0.5))
        )
        return idf * (tf * F.lit(_K1 + 1.0)) / (tf + norm)

    score = term_score(0) + term_score(1) + term_score(2)
    return scored.select(
        "doc_id",
        "dl",
        *[F.col(f"tf_{i}").alias(f"tf_{t}") for i, t in enumerate(_QUERY_TERMS)],
        score.alias("bm25_raw"),
    )


def _duck_bm25_cte() -> str:
    """DuckDB CTEs `base`/`stats` mirroring _bm25_scored; final scoring
    expression mirrors term_score with identical literal structure."""
    tf_cols = ",\n           ".join(
        f"len(list_filter(list_filter(string_split_regex(LOWER(text), '\\s+'), t -> t <> ''), t -> t = '{term}')) AS tf_{i}"
        for i, term in enumerate(_QUERY_TERMS)
    )
    df_cols = ", ".join(
        f"SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(_QUERY_TERMS))
    )
    terms = " + ".join(
        f"(LN(1.0 + (n_docs - df_{i} + 0.5) / (df_{i} + 0.5))"
        f" * (tf_{i} * {_K1 + 1.0}) / (tf_{i} + {_K1} * (1.0 - {_B} + {_B} * (dl / (CAST(sum_dl AS DOUBLE) / n_docs)))))"
        for i in range(len(_QUERY_TERMS))
    )
    return f"""
base AS (
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(LOWER(text), '\\s+'), t -> t <> '')) AS BIGINT) AS dl,
           {tf_cols}
    FROM documents
),
stats AS (
    SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl, {df_cols} FROM base
),
scored AS (
    SELECT doc_id, dl, {", ".join(f"CAST(tf_{i} AS BIGINT) AS tf_{t}" for i, t in enumerate(_QUERY_TERMS))},
           {terms} AS bm25_raw
    FROM base CROSS JOIN stats
)"""


_ORACLE_BM25 = f"""
WITH {_duck_bm25_cte()}
SELECT doc_id, dl, {", ".join(f"tf_{t}" for t in _QUERY_TERMS)},
       ROUND(bm25_raw, 6) AS bm25
FROM scored
ORDER BY ROUND(bm25_raw, 6) DESC, doc_id
LIMIT {_TOP_N}
"""


@query("q_text_bm25", oracle=_ORACLE_BM25)
def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-N for a fixed conjunctive keyword query.

    tf/dl are computed inside the scan (no explode); the corpus stats
    row (N, Σdl, df_t) is one partial-agg reduce broadcast back in.
    """
    docs = load_table(spark, sf_dir, "documents")
    scored = _bm25_scored(docs)
    return (
        scored.select(
            "doc_id",
            "dl",
            *[f"tf_{t}" for t in _QUERY_TERMS],
            F.round("bm25_raw", 6).alias("bm25"),
        )
        .orderBy(F.round("bm25_raw", 6).desc(), "doc_id")
        .limit(_TOP_N)
    )


# ---------------------------------------------------------------------------
# RRF hybrid search: fuse the BM25 top-W with the cosine top-W (same
# fixed query vector as q_similarity_topk) by reciprocal rank:
#     rrf(d) = Σ_lists 1 / (K + rank_list(d)).
# Candidate lists are TakeOrdered top-W — the fusion itself touches
# ≤ 2W rows. doc_id and vec_id share the id space by fixture design.
# ---------------------------------------------------------------------------

_DUCK_COS = (
    "list_dot_product(a.emb, q.emb)"
    " / (SQRT(list_dot_product(a.emb, a.emb)) * SQRT(list_dot_product(q.emb, q.emb)))"
)

_ORACLE_RRF = f"""
WITH {_duck_bm25_cte()},
lex AS (
    SELECT doc_id, ROUND(bm25_raw, 6) AS bm25 FROM scored
    ORDER BY ROUND(bm25_raw, 6) DESC, doc_id LIMIT {_CAND_W}
),
lexr AS (
    SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rank_lex
    FROM lex
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
qv AS (SELECT emb FROM e WHERE vec_id = {_QUERY_VEC_ID}),
vec AS (
    SELECT a.vec_id AS doc_id, ROUND({_DUCK_COS}, 6) AS cos_sim
    FROM e a, qv q
    WHERE a.vec_id <> {_QUERY_VEC_ID}
    ORDER BY ROUND({_DUCK_COS}, 6) DESC, a.vec_id LIMIT {_CAND_W}
),
vecr AS (
    SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY cos_sim DESC, doc_id) AS BIGINT) AS rank_vec
    FROM vec
)
SELECT COALESCE(lexr.doc_id, vecr.doc_id) AS doc_id,
       rank_lex, rank_vec,
       ROUND(COALESCE(1.0 / ({_RRF_K} + rank_lex), 0.0)
             + COALESCE(1.0 / ({_RRF_K} + rank_vec), 0.0), 6) AS rrf_score
FROM lexr FULL OUTER JOIN vecr ON lexr.doc_id = vecr.doc_id
ORDER BY rrf_score DESC, doc_id
LIMIT {_RRF_TOP}
"""


@query("q_search_rrf_fusion", oracle=_ORACLE_RRF)
def search_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+vector retrieval fused by reciprocal rank."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    lex_top = (
        _bm25_scored(docs)
        .select("doc_id", F.round("bm25_raw", 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(_CAND_W)
    )
    lex_rank = lex_top.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25").desc(), "doc_id"))
        .cast("long")
        .alias("rank_lex"),
    )

    qvec = emb.filter(F.col("vec_id") == _QUERY_VEC_ID).select(
        F.col("embedding").alias("q_emb")
    )
    vec_top = (
        emb.filter(F.col("vec_id") != _QUERY_VEC_ID)
        .crossJoin(F.broadcast(qvec))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(cosine(F.col("embedding"), F.col("q_emb")), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "doc_id")
        .limit(_CAND_W)
    )
    vec_rank = vec_top.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("cos_sim").desc(), "doc_id"))
        .cast("long")
        .alias("rank_vec"),
    )

    fused = lex_rank.join(vec_rank, "doc_id", "full_outer")
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(_RRF_K) + F.col("rank_lex")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("rank_vec")), F.lit(0.0))
    return (
        fused.select(
            "doc_id", "rank_lex", "rank_vec", F.round(rrf, 6).alias("rrf_score")
        )
        .orderBy(F.col("rrf_score").desc(), "doc_id")
        .limit(_RRF_TOP)
    )


# ---------------------------------------------------------------------------
# Retrieval-quality metrics (round 12): nDCG@k / MRR / recall@k over
# the embeddings corpus with label-match relevance — the evaluation
# half a RAG / retrieval training pipeline runs after every index or
# encoder change (Järvelin & Kekäläinen 2002 for nDCG; public
# literature). B19 produces the rankings; this scores them.
#
# Scale design (100 TB): the query set is BOUNDED (Q vectors) and
# broadcast; the corpus scan computes Q similarities per row map-side
# (corpus × Q rows, partial-aggregated per query by the rank window's
# shuffle — the ONLY corpus-sized exchange). Ranks order by
# ROUND(sim, 6) with vec_id tie-break so an ulp of dot-product
# reassociation can't flip a rank (the q_similarity_topk rule).
# Per-query relevant-set sizes are one broadcast label histogram.
# ---------------------------------------------------------------------------

_RANK_N_QUERIES = 20
_RANK_K = 10

_DUCK_RANK_COS = (
    "list_dot_product(e.emb, q.q_emb)"
    " / (SQRT(list_dot_product(e.emb, e.emb))"
    " * SQRT(list_dot_product(q.q_emb, q.q_emb)))"
)

_ORACLE_RANK_METRICS = f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
q AS (
    SELECT vec_id AS qid, label AS q_label, emb AS q_emb
    FROM e WHERE vec_id < {_RANK_N_QUERIES}
),
nrel AS (
    SELECT q.qid, CAST(COUNT(*) - 1 AS BIGINT) AS n_rel
    FROM q JOIN e ON e.label = q.q_label
    GROUP BY q.qid
),
sims AS (
    SELECT q.qid,
           e.vec_id,
           CASE WHEN e.label = q.q_label THEN 1 ELSE 0 END AS rel,
           ROUND({_DUCK_RANK_COS}, 6) AS sim
    FROM e, q
    WHERE e.vec_id <> q.qid
),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id)
              AS rnk
    FROM sims
),
m AS (
    SELECT qid,
           CAST(SUM(rel) AS BIGINT) AS hits,
           MIN(CASE WHEN rel = 1 THEN rnk END) AS first_rel,
           SUM(rel / log2(rnk + 1.0)) AS dcg
    FROM ranked
    WHERE rnk <= {_RANK_K}
    GROUP BY qid
)
SELECT m.qid AS query_id,
       n.n_rel AS n_rel,
       ROUND(CAST(m.hits AS DOUBLE) / NULLIF(n.n_rel, 0), 6) AS recall_at_k,
       ROUND(COALESCE(1.0 / m.first_rel, 0), 6) AS mrr,
       ROUND(m.dcg / NULLIF((
           SELECT SUM(1.0 / log2(i + 1.0))
           FROM UNNEST(generate_series(1, LEAST({_RANK_K}, n.n_rel))) AS t(i)
       ), 0), 6) AS ndcg_at_k
FROM m JOIN nrel n ON m.qid = n.qid
ORDER BY query_id
"""


@query("q_rank_metrics", oracle=_ORACLE_RANK_METRICS)
def rank_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval evaluation: for each of the first {Q} query vectors,
    brute-force cosine rank the corpus and score the top-k list
    against label-match relevance — recall@k (hits over the query's
    full relevant-set size), MRR (reciprocal rank of the first
    relevant hit, 0 if none), and nDCG@k (binary-gain DCG over the
    ideal DCG for min(k, n_rel) relevant items). One corpus-sized
    exchange (the per-query rank window); query vectors and the label
    histogram are broadcast."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _RANK_N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_emb"),
    )
    n_rel = (
        emb.join(F.broadcast(q.select("qid", "q_label")), F.col("label") == F.col("q_label"))
        .groupBy("qid")
        .agg((F.count(F.lit(1)) - 1).alias("n_rel"))
    )
    sims = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.when(F.col("label") == F.col("q_label"), 1).otherwise(0).alias("rel"),
            F.round(cosine(F.col("embedding"), F.col("q_emb")), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("vec_id"))
    top = sims.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= _RANK_K
    )
    m = top.groupBy("qid").agg(
        F.sum("rel").alias("hits"),
        F.min(F.when(F.col("rel") == 1, F.col("rnk"))).alias("first_rel"),
        F.sum(F.col("rel") / F.log2(F.col("rnk") + 1.0)).alias("dcg"),
    )
    # ideal DCG for min(k, n_rel) binary-relevant items, as a codegen
    # fold over the bounded rank sequence. Guarded for n_rel = 0:
    # Spark's sequence(1, 0) DESCENDS ([1, 0]) where DuckDB's
    # generate_series(1, 0) is empty — the F.when keeps both sides
    # NULL on a relevance-free query.
    idcg = F.when(
        F.col("n_rel") > 0,
        F.expr(
            f"aggregate(sequence(1, int(least({_RANK_K}, n_rel))), "
            "cast(0.0 as double), "
            "(acc, i) -> acc + 1.0 / log2(cast(i as double) + 1.0))"
        ),
    )
    return (
        m.join(F.broadcast(n_rel), "qid")
        .select(
            F.col("qid").alias("query_id"),
            "n_rel",
            F.round(
                F.col("hits").cast("double") / F.nullif(F.col("n_rel"), F.lit(0)), 6
            ).alias("recall_at_k"),
            F.round(F.coalesce(1.0 / F.col("first_rel"), F.lit(0.0)), 6).alias("mrr"),
            F.round(F.col("dcg") / F.nullif(idcg, F.lit(0.0)), 6).alias("ndcg_at_k"),
        )
        .orderBy("query_id")
    )
