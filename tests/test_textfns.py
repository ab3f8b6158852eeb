"""Text-analysis operators: shingles, lang-id, quality, token counts,
fingerprints (the training-data-pipeline function set)."""

import pytest
from pyspark.sql import functions as F

from recordlinkage_spark import textfns


def _one(spark, text, expr):
    df = spark.createDataFrame([(text,)], "text string")
    return df.select(expr.alias("out")).collect()[0]["out"]


def test_tokens_and_counts(spark):
    t = textfns.tokens(F.col("text"))
    assert _one(spark, "a b  c", F.size(t)) == 3
    assert _one(spark, "", F.size(t)) == 0
    assert _one(spark, "hello, world!", textfns.bpe_ish_token_count(F.col("text"))) == 4
    assert _one(spark, "a b  c", textfns.whitespace_token_count(F.col("text"))) == 3


def test_word_shingles(spark):
    sh = textfns.word_shingles(textfns.tokens(F.col("text")), 2)
    got = _one(spark, "a b c d", sh)
    assert sorted(got) == ["a b", "b c", "c d"]
    # short doc -> whole doc as one shingle
    got2 = _one(spark, "a b", sh)
    assert got2 == ["a b"]
    got3 = _one(spark, "solo", sh)
    assert got3 == ["solo"]


def test_lang_id(spark):
    lid = textfns.lang_id(textfns.tokens(F.col("text")))
    assert _one(spark, "the cat and the dog of the house", lid) == "en"
    assert _one(spark, "der hund und die katze ist nicht da", lid) == "de"
    assert _one(spark, "le chat est dans la maison pour les amis", lid) == "fr"
    assert _one(spark, "xyzzy qwerty plugh", lid) == "und"


def test_quality_score_range(spark):
    q = textfns.quality_score(F.col("text"), textfns.tokens(F.col("text")))
    hi = _one(spark, "the quick brown fox jumps over the lazy dog and runs "
                     "to the house of the old man with a hat in the park", q)
    lo = _one(spark, "!!! ??? ***", q)
    assert 0.0 <= lo < hi <= 1.0


def test_doc_fingerprint_normalizes(spark):
    fp = textfns.doc_fingerprint(F.col("text"))
    a = _one(spark, "Hello   World", fp)
    b = _one(spark, "hello world ", fp)
    c = _one(spark, "hello worlds", fp)
    assert a == b != c


def test_bind_once_semantics(spark):
    """bind_once(col, f) must equal f(col) row-for-row — same expression
    tree modulo the lambda binding — including null and empty inputs.
    (The binding exists purely to stop per-element re-evaluation of
    computed captured expressions; see textfns.bind_once.)"""
    df = spark.createDataFrame(
        [("a b c d e",), ("x",), ("",), (None,)], "text string"
    )
    toks = textfns.tokens(F.col("text"))

    def grams(ts):
        return F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(ts) - 2, F.lit(0))),
            lambda i: F.array_join(F.slice(ts, i + 1, 2), " "),
        )

    got = df.select(
        textfns.bind_once(toks, grams).alias("bound"),
        grams(toks).alias("captured"),
    ).collect()
    for row in got:
        assert row["bound"] == row["captured"]


def test_corpus_stats_null_text_and_empty(spark):
    """Null-text rows must not count as duplicates (countDistinct skips
    nulls, so the old n_docs-based rate overstated), and an empty input
    must yield dup rate 0.0 instead of ANSI DIVIDE_BY_ZERO (session-8
    review fix)."""
    from recordlinkage_spark.textfns import corpus_stats

    df = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, None), (4, None)],
        "doc_id int, text string",
    )
    row = corpus_stats(df, "text").collect()[0]
    assert row["n_docs"] == 4 and row["n_distinct_texts"] == 2
    assert row["exact_dup_rate"] == 0.0
    empty = spark.createDataFrame([], "doc_id int, text string")
    assert corpus_stats(empty, "text").collect()[0]["exact_dup_rate"] == 0.0
