"""WordPiece tokenizer behavioral tests (round 12): two-tier vocab
construction, greedy longest-match preference, tier separation (a
word-initial-only piece is not available as a continuation), and the
registered query's corpus-total invariant — on a planted corpus with
hand-checkable answers."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from sparkifydb_datawarehouse_spark.llm import tokenizer_wordpiece as wp
from sparkifydb_datawarehouse_spark.llm.tokenizer_unigram import _word_histogram


@pytest.fixture(scope="module")
def corpus_dir(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("wordpiece_corpus")
    # 'abcd' frequent as a whole word -> 'abcd' is an INITIAL piece;
    # 'xabcd' puts 'abcd' at position 2 -> also a CONTINUATION piece.
    # 'zq' occurs once -> its bigram is below the frequency floor.
    rows = (
        [(i, "abcd abcd") for i in range(10)]
        + [(100 + i, "xabcd") for i in range(6)]
        + [(200, "zq")]
    )
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(str(base / "documents.parquet"))
    return str(base)


def test_two_tier_vocab(spark, corpus_dir):
    words = _word_histogram(spark, corpus_dir)
    initial, cont = wp.wordpiece_vocab(words)
    # 'abcd' qualifies in both tiers (20 word-initial, 6 continuation)
    assert "abcd" in initial and "abcd" in cont
    # 'x' only ever starts a word: single chars keep tier locality
    assert "x" in initial and "x" not in cont
    # 'zq' is below the multi-char floor in every tier
    assert "zq" not in initial and "zq" not in cont
    # continuation singles exist where chars occur mid-word
    assert "b" in cont and "d" in cont


def test_greedy_longest_match_counts(spark, corpus_dir):
    words = _word_histogram(spark, corpus_dir)
    initial, cont = wp.wordpiece_vocab(words)
    got = {
        r["w"]: r["n_pieces"]
        for r in wp.segment_words(words, initial, cont).collect()
    }
    # 'abcd' -> one initial piece
    assert got["abcd"] == 1
    # 'xabcd' -> 'x' + '##abcd' (continuation tier holds abcd)
    assert got["xabcd"] == 2
    # 'zq' -> 'z' + '##q' singles fallback
    assert got["zq"] == 2


def test_query_total_invariant(spark, corpus_dir):
    rows = wp.tokenizer_wordpiece(spark, corpus_dir).collect()
    # corpus_pieces = sum over ALL words: abcd(20x1) + xabcd(6x2) + zq(1x2)
    assert all(r["corpus_pieces"] == 20 + 12 + 2 for r in rows)
    by_word = {r["word"]: r for r in rows}
    assert by_word["abcd"]["cnt"] == 20 and by_word["abcd"]["n_pieces"] == 1
    assert by_word["xabcd"]["n_pieces"] == 2


def test_fertility_per_language(spark, tmp_path):
    # two langs sharing a global vocab: 'en' words segment into single
    # frequent pieces, 'xx' words fragment -> higher fertility
    rows = (
        [(i, "abcd abcd", "en") for i in range(10)]
        + [(100 + i, "qzqz", "xx") for i in range(3)]  # 'qzqz' freq 3 < 5
    )
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        r["lang"]: r
        for r in wp.tokenizer_fertility(spark, str(tmp_path)).collect()
    }
    # en: 20 words x 1 piece ('abcd' freq 20 >= 5, initial tier)
    assert got["en"]["n_words"] == 20 and got["en"]["n_pieces"] == 20
    assert got["en"]["fertility"] == 1.0
    # xx: 'qzqz' below floor in every tier -> 'q','##z','##q','##z' = 4
    assert got["xx"]["n_words"] == 3 and got["xx"]["n_pieces"] == 12
    assert got["xx"]["fertility"] == 4.0
    assert got["xx"]["chars_per_piece"] == 1.0


def test_oov_detects_unk_on_domain_shift(spark, tmp_path):
    """The registered corpus never produces [UNK] (its 24-char
    inventory saturates every vocab tier even in the 5% train slice),
    so the all-zero driver row only proves the two engines agree on
    zero. This planted corpus makes the miss condition BIND — a
    character absent from the train slice ('x', word-initially AND as
    a continuation) — and checks Spark and the DuckDB oracle agree on
    the nonzero answer."""
    import duckdb

    from sparkifydb_datawarehouse_spark import registry

    registry.load_all_modules()
    rows = [
        # doc_id 0 is the only train-slice doc (doc_id % 20 == 0)
        (0, "aa aa aa aa aa bb bb bb bb bb", "en"),
        # apply-only: 'xa' fails word-initially, 'ax' fails at the
        # continuation position, 'aa' segments fine
        (1, "xa ax aa", "de"),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {
        r["lang"]: r.asDict()
        for r in registry.QUERIES["q_tokenizer_oov"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got["de"]["n_words"] == 3
    assert got["de"]["n_unk"] == 2 and got["de"]["n_unk_types"] == 2
    assert abs(got["de"]["unk_rate"] - round(2 / 3, 6)) < 1e-12
    assert got["en"]["n_unk"] == 0 and got["en"]["n_unk_types"] == 0

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    duck = {
        r[0]: r for r in con.execute(registry.ORACLE["q_tokenizer_oov"]).fetchall()
    }
    assert duck["de"][1:] == (
        got["de"]["n_words"], got["de"]["n_unk"],
        got["de"]["unk_rate"], got["de"]["n_unk_types"],
    )
    assert duck["en"][2] == 0


def test_vocab_collects_once(spark, corpus_dir):
    """The persisted piece table is counted once (the cap check) and
    collected once — the unigram seed's job shape, not a second
    collect for the multi-char tier."""
    from tools.validate import jobs_of

    words = _word_histogram(spark, corpus_dir)
    wp.wordpiece_vocab(words)  # warm: the word histogram's table resolved
    (initial, cont), n_jobs = jobs_of(spark, lambda: wp.wordpiece_vocab(words))
    assert "abcd" in initial and "abcd" in cont
    assert n_jobs == 6
