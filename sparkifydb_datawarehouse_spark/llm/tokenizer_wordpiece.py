"""WordPiece tokenizer (greedy longest-match-first subword
segmentation; Schuster & Nakajima 2012 / the BERT tokenizer's apply
rule — public literature), round 12. The third production tokenizer
family next to BPE (llm/bpe.py, bottom-up merges) and unigram-LM
(llm/tokenizer_unigram.py, top-down EM): a fixed vocabulary with
word-INITIAL pieces and ``##``-style CONTINUATION pieces, and a
deterministic greedy rule — at each position take the longest piece
in the position's vocabulary tier.

Architecture (the shared "model on driver, data in the plan"
discipline of the tokenizer family):
- corpus → DISTINCT-WORD histogram (explode → groupBy(word) → sum;
  vocabulary-bounded by Heaps' law), one scan of documents total.
- vocabulary = every substring of length 1..4 with corpus frequency
  ≥ 5, SPLIT BY POSITION TIER: substrings starting at position 1 form
  the word-initial vocab, substrings starting later form the
  continuation vocab (the ``##`` pieces). Single characters are kept
  unconditionally in the tier(s) they occur in, so greedy coverage is
  total — a character that only ever occurs word-initially can never
  be demanded as a continuation. One map-side indexed-transform
  explode + a hash agg over (tier, piece) keys; the collected table
  is vocab-bounded and capped exactly like the unigram seed
  (VERDICT r11 #7 rule).
- segmentation: mapInPandas over the word histogram with the two
  vocab sets in the closure; greedy longest-match (4→3→2→1, the
  1-char fallback always hits by construction).

Oracle posture: EXACT, not contract — greedy longest-match is
expressible as a DuckDB RECURSIVE CTE whose state is (word, pos,
n_pieces) and whose transition picks the longest tier-matching
substring via three ordered EXISTS probes. The registered query emits
the 20 most frequent words with their piece counts plus the corpus
total Σ n_pieces·count over ALL words (so the full segmentation is
value-checked, not just the visible rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..registry import query
from .tokenizer_unigram import _SEED_CAP, VocabCapExceeded, _word_histogram

_MAX_PIECE = 4
_MIN_FREQ = 5
_TOP_WORDS = 20


def wordpiece_vocab(words: DataFrame) -> tuple[frozenset, frozenset]:
    """(initial, continuation) piece sets from the word histogram.
    tier 0 = word-initial (substring start 1), tier 1 = continuation.
    Single chars always kept; multi-char pieces need corpus frequency
    ≥ 5 within their tier. Refuses loudly above _SEED_CAP (shared
    contract with the unigram seed — ADVICE r12 #3)."""
    subs = (
        words.select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, length(w)), s ->"
                    " transform(sequence(1, least({m}, length(w) - s + 1)),"
                    " l -> struct(IF(s = 1, 0, 1) AS tier,"
                    " substring(w, s, l) AS piece))))".format(m=_MAX_PIECE)
                )
            ).alias("tp"),
            "cnt",
        )
        .select("tp.tier", "tp.piece", "cnt")
        .groupBy("tier", "piece")
        .agg(F.sum("cnt").alias("pc"))
        .filter((F.length("piece") == 1) | (F.col("pc") >= _MIN_FREQ))
    )
    subs = subs.persist()  # 2 consumers: cap count, then one collect
    n_multi = subs.filter(F.length("piece") > 1).count()
    if n_multi > _SEED_CAP:
        # ADVICE r12 #3: refuse loudly — the DuckDB oracles replay
        # greedy segmentation under the UNCAPPED vocab, so proceeding
        # with a truncated one would be a silent oracle divergence.
        # The count runs before any collect; the driver never
        # materializes an over-cap vocab on either path.
        subs.unpersist()
        raise VocabCapExceeded(
            f"wordpiece vocab has {n_multi} multi-char pieces "
            f"(cap {_SEED_CAP}); oracle contract covers corpora whose "
            "freq>=5/len<=4 piece inventory fits the cap"
        )
    # one collect for both tiers (the unigram seed's shape): singles
    # are charset-bounded, multi-char pieces cap-bounded by the refuse
    rows = subs.collect()
    subs.unpersist()
    initial = frozenset(r["piece"] for r in rows if r["tier"] == 0)
    cont = frozenset(r["piece"] for r in rows if r["tier"] == 1)
    return initial, cont


def segment_words(
    words: DataFrame, initial: frozenset, cont: frozenset
) -> DataFrame:
    """Greedy longest-match-first WordPiece segmentation of every
    distinct word (distributed; vocab sets ride in the closure).
    Returns (w, cnt, n_pieces)."""
    import pandas as pd

    def seg(batches):
        for pdf in batches:
            ns = []
            for w in pdf["w"]:
                n_chars = len(w)
                pos = 0
                n = 0
                while pos < n_chars:
                    vocab = initial if pos == 0 else cont
                    step = 1
                    for L in range(min(_MAX_PIECE, n_chars - pos), 1, -1):
                        if w[pos : pos + L] in vocab:
                            step = L
                            break
                    pos += step
                    n += 1
                ns.append(n)
            yield pd.DataFrame(
                {"w": pdf["w"], "cnt": pdf["cnt"], "n_pieces": ns}
            )

    out_schema = StructType(
        [
            StructField("w", StringType()),
            StructField("cnt", LongType()),
            StructField("n_pieces", IntegerType()),
        ]
    )
    return words.mapInPandas(seg, out_schema)


_ORACLE_WORDPIECE = f"""
WITH RECURSIVE toks AS (
    SELECT UNNEST(list_filter(string_split_regex(LOWER(text), '\\s+'),
                              t -> t <> '')) AS w
    FROM documents
), words AS (
    SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY w
), subs AS (
    SELECT CASE WHEN s = 1 THEN 0 ELSE 1 END AS tier,
           substr(w, CAST(s AS INTEGER), CAST(l AS INTEGER)) AS piece,
           SUM(cnt) AS pc
    FROM words,
         UNNEST(generate_series(1, LENGTH(w))) AS st(s),
         UNNEST(generate_series(1, {_MAX_PIECE})) AS ln(l)
    WHERE s + l - 1 <= LENGTH(w)
    GROUP BY 1, 2
), vocab AS (
    SELECT tier, piece FROM subs
    WHERE LENGTH(piece) = 1 OR pc >= {_MIN_FREQ}
), seg(w, cnt, pos, n) AS (
    SELECT w, cnt, 1, 0 FROM words
    UNION ALL
    SELECT w, cnt, pos + CASE
        WHEN LENGTH(w) - pos >= 3 AND EXISTS (SELECT 1 FROM vocab v
             WHERE v.tier = k AND v.piece = substr(w, pos, 4)) THEN 4
        WHEN LENGTH(w) - pos >= 2 AND EXISTS (SELECT 1 FROM vocab v
             WHERE v.tier = k AND v.piece = substr(w, pos, 3)) THEN 3
        WHEN LENGTH(w) - pos >= 1 AND EXISTS (SELECT 1 FROM vocab v
             WHERE v.tier = k AND v.piece = substr(w, pos, 2)) THEN 2
        ELSE 1 END, n + 1
    FROM (SELECT w, cnt, pos, n,
                 CASE WHEN pos = 1 THEN 0 ELSE 1 END AS k
          FROM seg WHERE pos <= LENGTH(w)) s
), done AS (
    SELECT w, cnt, n FROM seg WHERE pos > LENGTH(w)
), tot AS (
    SELECT CAST(SUM(n * cnt) AS BIGINT) AS corpus_pieces FROM done
)
SELECT d.w AS word,
       d.cnt AS cnt,
       CAST(d.n AS INTEGER) AS n_pieces,
       t.corpus_pieces AS corpus_pieces
FROM done d CROSS JOIN tot t
ORDER BY d.cnt DESC, d.w
LIMIT {_TOP_WORDS}
"""


@query("q_tokenizer_wordpiece", oracle=_ORACLE_WORDPIECE)
def tokenizer_wordpiece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece greedy longest-match segmentation of the corpus under
    a two-tier (word-initial / ##-continuation) substring vocabulary:
    the 20 most frequent words with their piece counts, plus the
    corpus-total piece count over ALL words — exactly recomputed by a
    DuckDB recursive CTE, so the whole segmentation (not just the
    visible rows) is value-checked."""
    words = _word_histogram(spark, sf_dir).localCheckpoint()
    initial, cont = wordpiece_vocab(words)
    # segment once (optimization r13, guide §2.4/§5): two consumers —
    # the corpus-total aggregate and the output rows — each re-ran the
    # Python greedy matcher over every word type without this cut (two
    # MapInPandas nodes in the old plan); the segmented histogram is
    # vocabulary-bounded, so the materialization is small
    segged = segment_words(words, initial, cont).localCheckpoint(eager=False)
    total = segged.agg(
        F.sum(F.col("n_pieces").cast("long") * F.col("cnt")).alias("corpus_pieces")
    )
    return (
        segged.crossJoin(F.broadcast(total))
        .select(
            F.col("w").alias("word"),
            "cnt",
            "n_pieces",
            "corpus_pieces",
        )
        .orderBy(F.col("cnt").desc(), F.col("word"))
        .limit(_TOP_WORDS)
    )


# ---------------------------------------------------------------------------
# per-language tokenizer fertility: pieces per word under the SHARED
# two-tier vocabulary — the coverage metric multilingual tokenizer
# work reports (a language the vocab serves poorly fragments into
# more pieces). Same segmentation, grouped back through the
# per-(lang, word) histogram; excludes documents with unknown lang
# (Spark sorts NULL first, DuckDB last — and "unknown language" is
# outside the metric's domain anyway).
# ---------------------------------------------------------------------------

_ORACLE_FERTILITY = f"""
WITH RECURSIVE toks AS (
    SELECT lang,
           UNNEST(list_filter(string_split_regex(LOWER(text), '\\s+'),
                              t -> t <> '')) AS w
    FROM documents
    WHERE lang IS NOT NULL
), lang_words AS (
    SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM toks GROUP BY lang, w
), words AS (
    SELECT w, CAST(SUM(cnt) AS BIGINT) AS cnt FROM lang_words GROUP BY w
), subs AS (
    SELECT CASE WHEN s = 1 THEN 0 ELSE 1 END AS tier,
           substr(w, CAST(s AS INTEGER), CAST(l AS INTEGER)) AS piece,
           SUM(cnt) AS pc
    FROM words,
         UNNEST(generate_series(1, LENGTH(w))) AS st(s),
         UNNEST(generate_series(1, {_MAX_PIECE})) AS ln(l)
    WHERE s + l - 1 <= LENGTH(w)
    GROUP BY 1, 2
), vocab AS (
    SELECT tier, piece FROM subs
    WHERE LENGTH(piece) = 1 OR pc >= {_MIN_FREQ}
), seg(w, pos, n) AS (
    SELECT w, 1, 0 FROM words
    UNION ALL
    SELECT w, pos + CASE
        WHEN LENGTH(w) - pos >= 3 AND EXISTS (SELECT 1 FROM vocab v
             WHERE v.tier = k AND v.piece = substr(w, pos, 4)) THEN 4
        WHEN LENGTH(w) - pos >= 2 AND EXISTS (SELECT 1 FROM vocab v
             WHERE v.tier = k AND v.piece = substr(w, pos, 3)) THEN 3
        WHEN LENGTH(w) - pos >= 1 AND EXISTS (SELECT 1 FROM vocab v
             WHERE v.tier = k AND v.piece = substr(w, pos, 2)) THEN 2
        ELSE 1 END, n + 1
    FROM (SELECT w, pos, n,
                 CASE WHEN pos = 1 THEN 0 ELSE 1 END AS k
          FROM seg WHERE pos <= LENGTH(w)) s
), done AS (
    SELECT w, n FROM seg WHERE pos > LENGTH(w)
)
SELECT lw.lang AS lang,
       CAST(SUM(lw.cnt) AS BIGINT) AS n_words,
       CAST(SUM(d.n * lw.cnt) AS BIGINT) AS n_pieces,
       ROUND(CAST(SUM(d.n * lw.cnt) AS DOUBLE) / SUM(lw.cnt), 6) AS fertility,
       ROUND(CAST(SUM(LENGTH(lw.w) * lw.cnt) AS DOUBLE)
             / SUM(d.n * lw.cnt), 6) AS chars_per_piece
FROM lang_words lw JOIN done d ON lw.w = d.w
GROUP BY lw.lang
ORDER BY lang
"""


@query("q_tokenizer_fertility", oracle=_ORACLE_FERTILITY)
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language WordPiece fertility (pieces/word) and
    chars-per-piece under the shared two-tier vocabulary: the corpus
    segments ONCE over the global word-type histogram; per-language
    aggregation joins the (lang, word) counts back on the word key
    (both sides vocabulary-bounded). Exact integer masses until the
    two final divisions, ROUND(., 6) in both engines."""
    from ..tables import load_table

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull()
    )
    toks = F.filter(
        F.split(F.lower("text"), r"\s+"), lambda t: t != ""
    )
    lang_words = (
        docs.select("lang", F.explode(toks).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint()
    )
    words = lang_words.groupBy("w").agg(F.sum("cnt").alias("cnt"))
    initial, cont = wordpiece_vocab(words)
    segged = segment_words(words, initial, cont).select("w", "n_pieces")
    return (
        lang_words.join(segged, "w")
        .groupBy("lang")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.col("n_pieces").cast("long") * F.col("cnt")).alias("n_pieces"),
            F.round(
                F.sum(F.col("n_pieces").cast("long") * F.col("cnt")).cast("double")
                / F.sum("cnt"),
                6,
            ).alias("fertility"),
            F.round(
                F.sum(F.length("w").cast("long") * F.col("cnt")).cast("double")
                / F.sum(F.col("n_pieces").cast("long") * F.col("cnt")),
                6,
            ).alias("chars_per_piece"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# OOV / [UNK] rate (VERDICT r12 #7): fertility measures pieces/word
# for words the vocab CAN segment; production multilingual reports
# also need the share of word occurrences the vocab CANNOT segment at
# all. In-corpus training makes that share trivially zero (every
# character occurs in its own tier), so the metric uses the honest
# apply-time setup: the vocab trains on a 5% slice of
# the corpus (doc_id % 20 == 0), applies to all of it, and a word becomes [UNK] the
# BERT way — greedy longest-match-first fails when no piece, not
# even the single character, matches at some position.
# ---------------------------------------------------------------------------


def segment_words_strict(
    words: DataFrame, initial: frozenset, cont: frozenset
) -> DataFrame:
    """Greedy longest-match-first that FAILS to [UNK]: unlike
    ``segment_words`` (whose in-corpus vocab always holds every
    single character), the match loop runs down to length 1 and a
    miss marks the whole word unsegmentable. Returns (w, unk)."""
    import pandas as pd

    def seg(batches):
        for pdf in batches:
            unks = []
            for w in pdf["w"]:
                n_chars = len(w)
                pos = 0
                unk = 0
                while pos < n_chars:
                    vocab = initial if pos == 0 else cont
                    step = 0
                    for L in range(min(_MAX_PIECE, n_chars - pos), 0, -1):
                        if w[pos : pos + L] in vocab:
                            step = L
                            break
                    if step == 0:
                        unk = 1
                        break
                    pos += step
                unks.append(unk)
            yield pd.DataFrame({"w": pdf["w"], "unk": unks})

    out_schema = StructType(
        [StructField("w", StringType()), StructField("unk", IntegerType())]
    )
    return words.select("w").mapInPandas(seg, out_schema)


_ORACLE_OOV = f"""
WITH RECURSIVE toks AS (
    SELECT doc_id, lang,
           UNNEST(list_filter(string_split_regex(LOWER(text), '\\s+'),
                              t -> t <> '')) AS w
    FROM documents
    WHERE lang IS NOT NULL
), lang_words AS (
    SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM toks GROUP BY lang, w
), train_words AS (
    SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM toks WHERE doc_id % 20 = 0 GROUP BY w
), subs AS (
    SELECT CASE WHEN s = 1 THEN 0 ELSE 1 END AS tier,
           substr(w, CAST(s AS INTEGER), CAST(l AS INTEGER)) AS piece,
           SUM(cnt) AS pc
    FROM train_words,
         UNNEST(generate_series(1, LENGTH(w))) AS st(s),
         UNNEST(generate_series(1, {_MAX_PIECE})) AS ln(l)
    WHERE s + l - 1 <= LENGTH(w)
    GROUP BY 1, 2
), vocab AS (
    SELECT tier, piece FROM subs
    WHERE LENGTH(piece) = 1 OR pc >= {_MIN_FREQ}
), apply_words AS (
    SELECT DISTINCT w FROM lang_words
), seg(w, pos, unk) AS (
    SELECT w, 1, 0 FROM apply_words
    UNION ALL
    SELECT w, CASE
        WHEN LENGTH(w) - pos >= 3 AND EXISTS (SELECT 1 FROM vocab v
             WHERE v.tier = k AND v.piece = substr(w, pos, 4)) THEN pos + 4
        WHEN LENGTH(w) - pos >= 2 AND EXISTS (SELECT 1 FROM vocab v
             WHERE v.tier = k AND v.piece = substr(w, pos, 3)) THEN pos + 3
        WHEN LENGTH(w) - pos >= 1 AND EXISTS (SELECT 1 FROM vocab v
             WHERE v.tier = k AND v.piece = substr(w, pos, 2)) THEN pos + 2
        WHEN EXISTS (SELECT 1 FROM vocab v
             WHERE v.tier = k AND v.piece = substr(w, pos, 1)) THEN pos + 1
        ELSE LENGTH(w) + 1 END,
      CASE
        WHEN (LENGTH(w) - pos >= 3 AND EXISTS (SELECT 1 FROM vocab v
              WHERE v.tier = k AND v.piece = substr(w, pos, 4)))
          OR (LENGTH(w) - pos >= 2 AND EXISTS (SELECT 1 FROM vocab v
              WHERE v.tier = k AND v.piece = substr(w, pos, 3)))
          OR (LENGTH(w) - pos >= 1 AND EXISTS (SELECT 1 FROM vocab v
              WHERE v.tier = k AND v.piece = substr(w, pos, 2)))
          OR EXISTS (SELECT 1 FROM vocab v
              WHERE v.tier = k AND v.piece = substr(w, pos, 1))
        THEN 0 ELSE 1 END
    FROM (SELECT w, pos, unk,
                 CASE WHEN pos = 1 THEN 0 ELSE 1 END AS k
          FROM seg WHERE pos <= LENGTH(w)) s
), done AS (
    SELECT w, MAX(unk) AS unk FROM seg WHERE pos > LENGTH(w) GROUP BY w
)
SELECT lw.lang AS lang,
       CAST(SUM(lw.cnt) AS BIGINT) AS n_words,
       CAST(SUM(d.unk * lw.cnt) AS BIGINT) AS n_unk,
       ROUND(CAST(SUM(d.unk * lw.cnt) AS DOUBLE) / SUM(lw.cnt), 6) AS unk_rate,
       CAST(SUM(d.unk) AS BIGINT) AS n_unk_types
FROM lang_words lw JOIN done d ON lw.w = d.w
GROUP BY lw.lang
ORDER BY lang
"""


@query("q_tokenizer_oov", oracle=_ORACLE_OOV)
def tokenizer_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language [UNK] rate of a WordPiece vocab trained on a 5%
    slice of the corpus (doc_id % 20 == 0) and applied to all of it: word
    occurrences whose greedy longest-match segmentation fails (no
    piece, not even the single character, matches at some position —
    BERT's [UNK] condition), as a share of all word occurrences, plus
    the distinct unsegmentable word types. The DuckDB oracle replays
    the strict greedy EXACTLY via a recursive CTE, so the whole
    apply-time segmentation is value-checked. Scale shape: both the
    train histogram and the apply set collapse to word TYPES map-side
    before any segmentation; only vocab-bounded frames shuffle."""
    from ..tables import load_table

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull()
    )
    toks = F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
    lang_words = (
        docs.select("lang", F.explode(toks).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint()
    )
    train_words = (
        docs.filter(F.col("doc_id") % 20 == 0)
        .select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    initial, cont = wordpiece_vocab(train_words)
    flags = segment_words_strict(
        lang_words.select("w").distinct(), initial, cont
    )
    return (
        lang_words.join(flags, "w")
        .groupBy("lang")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.col("unk").cast("long") * F.col("cnt")).alias("n_unk"),
            F.round(
                F.sum(F.col("unk").cast("long") * F.col("cnt")).cast("double")
                / F.sum("cnt"),
                6,
            ).alias("unk_rate"),
            F.sum(F.col("unk").cast("long")).alias("n_unk_types"),
        )
        .orderBy("lang")
    )
