"""Text-stats column helpers (F12/F13 + training-data additions)."""

import pytest
from pyspark.sql import functions as F

from paperslicer_spark.functions import text_stats as TS


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the cat sat on the mat"),
        (2, "camelCaseToken and snake_case_token here"),
        (3, ""),
        (4, "xyzzy grue plugh"),          # no stopwords
        (5, "café résumé naïve"),  # non-ASCII → noise
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _one(df, col, doc_id):
    return {r["doc_id"]: r["v"] for r in
            df.select("doc_id", col.alias("v")).collect()}[doc_id]


def test_word_and_char_counts(docs):
    assert _one(docs, TS.word_count(F.col("text")), 1) == 6
    assert _one(docs, TS.word_count(F.col("text")), 3) == 0
    assert _one(docs, TS.char_count(F.col("text")), 1) == 22


def test_bpe_token_count(docs):
    # camel|Case|Token|and|snake|case|token|here = 8
    assert _one(docs, TS.token_count_bpe(F.col("text")), 2) == 8
    assert _one(docs, TS.token_count_bpe(F.col("text")), 3) == 0


def test_noise_and_lang(docs):
    assert _one(docs, TS.noise_ratio(F.col("text")), 1) == 0.0
    assert _one(docs, TS.noise_ratio(F.col("text")), 5) > 0.1
    assert _one(docs, TS.lang_guess(F.col("text")), 1) == "en"
    assert _one(docs, TS.lang_guess(F.col("text")), 4) == "unk"


def test_rolling_fingerprint_locality(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog " * 4),
        (2, "the quick brown fox jumps over the lazy dogs " * 4),  # tiny edit
        (3, "completely different content with other words " * 4),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = {r["doc_id"]: r["v"] for r in df.select(
        "doc_id", TS.rolling_fingerprint(F.col("text")).alias("v")).collect()}
    # small edit → fingerprints share winnowed hashes; different doc → none
    shared_12 = set(fp[1].split("-")) & set(fp[2].split("-"))
    shared_13 = set(fp[1].split("-")) & set(fp[3].split("-"))
    assert len(shared_12) >= 1
    assert len(shared_13) == 0
    # whole-doc md5 would differ entirely on the tiny edit — locality is
    # the point of the rolling hash
    assert fp[1] != fp[2]


def test_quality_score_bounds(docs):
    scores = [r["v"] for r in docs.select(
        "doc_id", TS.quality_score(F.col("text")).alias("v")).collect()]
    assert all(0 <= s <= 100 for s in scores)


def test_rolling_fingerprint_long_doc_capped(spark):
    """The gram array is capped at a 4096-char prefix: a 1 MB outlier
    document must not materialize a 1M-element array per row (flat
    memory at scale), and two docs sharing the prefix fingerprint
    identically."""
    long_a = ("lorem ipsum dolor sit amet " * 200)[:4096] + "X" * 500_000
    long_b = ("lorem ipsum dolor sit amet " * 200)[:4096] + "Y" * 500_000
    df = spark.createDataFrame([(1, long_a), (2, long_b)],
                               "doc_id long, text string")
    rows = {r["doc_id"]: r["v"] for r in df.select(
        "doc_id", TS.rolling_fingerprint(F.col("text")).alias("v")).collect()}
    assert rows[1] == rows[2]          # prefix-identical → same fingerprint
    assert rows[1].count("-") == 3     # keep=4 hashes joined


def test_lang_guess_ngram_real_sentences(spark):
    """The n-gram language ID must classify real sentences in its four
    profile languages; junk with no signature grams is 'unk'."""
    rows = [
        ("en", "The results of the study indicate that healing is "
               "progressing and the patients responded to the treatment."),
        ("de", "Die Ergebnisse der Untersuchung zeigen, dass die Heilung "
               "und die Behandlung der Patienten erfolgreich sind."),
        ("fr", "Les résultats de l'étude montrent que la guérison est en "
               "cours et que les patients du groupe répondent au traitement."),
        ("es", "Los resultados de la investigación muestran que la "
               "curación de los pacientes responde a la intervención."),
        ("unk", "zzzz qqqq xxxx 12345 @@@@"),
    ]
    df = spark.createDataFrame(rows, "want string, text string")
    got = df.select("want",
                    TS.lang_guess_ngram(F.col("text")).alias("pred")).collect()
    for r in got:
        assert r["pred"] == r["want"], (r["want"], r["pred"])


def test_bind_let_binding_semantics(spark):
    """bind(v, f) must equal f(v) exactly — it only changes evaluation
    count, never values — including over nulls and empty arrays."""
    from pyspark.sql import functions as F

    from paperslicer_spark.functions.text_stats import bind, tokens

    df = spark.createDataFrame(
        [(1, "a b c"), (2, ""), (3, None), (4, "solo")],
        "id long, text string")
    bound = df.select(
        "id",
        bind(tokens(F.lower(F.col("text"))),
             lambda t: F.array_join(t, "|")).alias("b"),
        F.array_join(tokens(F.lower(F.col("text"))), "|").alias("d"),
    ).collect()
    for r in bound:
        assert r["b"] == r["d"]
    # null input: array(NULL) holds one null element; the lambda sees
    # NULL and null-propagates, same as the direct form
    assert {r["id"]: r["b"] for r in bound}[3] is None
