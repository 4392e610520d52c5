"""Text-analysis column helpers (training-data-pipeline surface).

All JVM-side ``pyspark.sql.functions`` compositions (no Python UDFs):
token counting, noise ratio (reference P6, ``evaluate_corpus.py:71-82``
semantics on the ASCII domain), quality scoring, language-ID heuristic,
document fingerprinting. Each has an ANSI-SQL twin used in
``__spark_entry__.oracle_sql`` so the driver can cross-check values.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# whitespace tokenization; BPE-ish subtoken split for token_count_bpe
WS = r"\s+"
_BPE_SPLIT = r"[^a-zA-Z0-9]+|(?<=[a-z])(?=[A-Z])"

EN_STOPWORDS = [
    "the", "and", "of", "to", "in", "a", "is", "was", "for", "with",
    "on", "as", "by", "at", "an", "be", "this", "that", "are", "were",
]

# reference P6 allowed set: ASCII alnum, whitespace, basic punctuation
# expressed as a character class (identical in Java regex and RE2)
NOISE_ALLOWED_CLASS = r"""[A-Za-z0-9 .,;:'"!?()\[\]{}\-_/\\%+*=<>\t\r\n]"""


def tokens(col: Column) -> Column:
    return F.split(F.trim(col), WS)


def bind(value: Column, fn) -> Column:
    """Let-binding for Spark SQL expressions: hand ``fn`` a lambda
    variable bound to ``value`` instead of the expression itself.

    Catalyst does no common-subexpression elimination inside
    higher-order-function lambdas — an outer expression referenced in
    a lambda body is RE-EVALUATED per array element, so e.g. slicing a
    computed token array inside ``F.transform`` re-runs the split for
    every window start: O(len²) per row (measured 5x on the shingle
    scan at sf0.1; the round-3 gopher run-starts form was the same
    trap). ``transform(array(value), v -> fn(v))[1]`` evaluates
    ``value`` once per ``bind`` call, so inside ``fn`` there is no
    per-element re-split.

    That is the whole guarantee. Each reference to a column built
    from a ``bind`` result is resolved again with fresh lambda
    variables, so a select that reads N fields of one bound struct
    computes the struct N times (x27's plan holds 7 copies of the
    Gopher stats struct). A two-step select (materialize the struct,
    then read its fields) is the way to share it.
    """
    return F.element_at(F.transform(F.array(value), fn), 1)


def widen_undersplit(df):
    """Repartition a batch corpus read up to the session parallelism
    when its scan has fewer splits than cores.

    Batch corpus inputs are widened by their reader
    (``__spark_entry__._corpus``, ``scripts/run_curate.py``);
    operators never widen. CPU-heavy corpus passes (tokenize/explode/HOF maps)
    inherit the scan's parallelism, so a corpus packed into one small
    file runs the whole pass on one task at ANY cluster size
    (measured: bm25's corpus pass was flat 8→32 cores until widened).
    On a scan the probe is a file-split count and the one exchange
    sits directly above it; well-split inputs skip the branch.
    Streaming inputs skip the check: ``.rdd`` is batch-only and
    micro-batch parallelism is the source's trigger setting.
    """
    sc = df.sparkSession.sparkContext
    if not df.isStreaming and \
            df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def word_count(col: Column) -> Column:
    return F.when(F.length(F.trim(col)) == 0, F.lit(0)).otherwise(
        F.size(tokens(col))
    )


def char_count(col: Column) -> Column:
    return F.length(col)


def avg_token_len(col: Column) -> Column:
    wc = word_count(col)
    return F.when(wc == 0, F.lit(0.0)).otherwise(
        F.length(F.regexp_replace(col, WS, "")) / wc
    )


def noise_ratio(col: Column) -> Column:
    """Fraction of characters outside the allowed ASCII set (P6)."""
    total = F.length(col)
    bad = F.length(F.regexp_replace(col, NOISE_ALLOWED_CLASS, ""))
    return F.when(total == 0, F.lit(0.0)).otherwise(bad / total)


def stopword_ratio(col: Column) -> Column:
    """Share of tokens that are common-English stopwords."""
    toks = tokens(F.lower(col))
    hits = F.size(F.filter(toks, lambda t: t.isin(EN_STOPWORDS)))
    wc = word_count(col)
    return F.when(wc == 0, F.lit(0.0)).otherwise(hits / wc)


def lang_guess(col: Column) -> Column:
    """Tiny n-gram-free language ID: 'en' when stopword evidence exists,
    'unk' otherwise (the corpus here is synthetic word soup)."""
    return F.when(stopword_ratio(col) > 0.03, F.lit("en")).otherwise(F.lit("unk"))


# signature character n-grams per language (padded with spaces so
# word-boundary grams match); profiles are deliberately tiny — the
# point is the JVM-side n-gram-counting pattern, swap real profiles in
LANG_NGRAMS = {
    "en": ["the ", " the", "ing ", " and", " of ", " to ", "ed ", " is "],
    "de": [" der", " und", " die", " ein", "sch", "cht", "ung ", " zu "],
    "fr": [" le ", " les", " des", " une", " que", " est", "ait ", " du "],
    "es": [" el ", " los", " una", " que", " de ", "ción", "ado ", " la "],
}


def lang_ngram_scores(col: Column) -> dict[str, Column]:
    """Per-language n-gram evidence: occurrence counts of each
    language's signature grams (via length-delta counting — pure JVM,
    no explode), normalized by text length. SQL-portable bit-for-bit
    (same expression shape in the DuckDB oracle)."""
    s = F.concat(F.lit(" "), F.lower(col), F.lit(" "))

    def score(grams):
        total = F.lit(0.0)
        for g in grams:
            total = total + (
                (F.length(s) - F.length(F.replace(s, F.lit(g), F.lit(""))))
                / len(g))
        return total / (F.length(s) + 1)

    return {k: score(v) for k, v in LANG_NGRAMS.items()}


def lang_guess_ngram(col: Column, min_score: float = 0.002) -> Column:
    """Character-n-gram language ID over the built-in profiles:
    argmax of :func:`lang_ngram_scores` (ties broken by the greater
    language code — the struct max makes that deterministic), 'unk'
    when even the best score is below ``min_score``."""
    scores = lang_ngram_scores(col)
    arr = F.array(*[
        F.struct(sc.alias("s"), F.lit(k).alias("lang"))
        for k, sc in sorted(scores.items())])
    top = F.array_max(arr)
    return F.when(top.getField("s") < min_score, F.lit("unk")).otherwise(
        top.getField("lang"))


def quality_score(col: Column) -> Column:
    """0-100 heuristic quality score: length (40) + avg token length
    band (30) + low-noise (30). Deterministic arithmetic only."""
    wc = word_count(col)
    length_pts = F.least(wc / F.lit(2.0), F.lit(40.0))
    atl = avg_token_len(col)
    token_pts = F.when((atl >= 3.0) & (atl <= 9.0), F.lit(30.0)).otherwise(F.lit(10.0))
    noise_pts = F.when(noise_ratio(col) <= 0.02, F.lit(30.0)).otherwise(F.lit(0.0))
    return F.round(length_pts + token_pts + noise_pts, 2)


def fingerprint(col: Column) -> Column:
    """Stable document fingerprint (md5 hex — portable across engines)."""
    return F.md5(col)


def md5_bigint(col: Column, salt: str = "", hex_chars: int = 15) -> Column:
    """Portable integer hash: first ``hex_chars`` hex chars of md5
    (15 → 60 bits; 7 → 28 bits for minhash's affine base hash).

    Matches DuckDB ``CAST('0x' || substr(md5(salt||x),1,N) AS BIGINT)``
    — used wherever Spark and the SQL oracle must agree exactly.
    """
    salted = F.concat(F.lit(salt), col) if salt else col
    return F.conv(F.substring(F.md5(salted), 1, hex_chars), 16, 10) \
        .cast("bigint")


def token_count_bpe(col: Column) -> Column:
    """BPE-ish subtoken count: split on non-alnum runs AND lower→upper
    camelCase boundaries (Java regex lookarounds; JVM-side)."""
    cleaned = F.trim(col)
    toks = F.split(cleaned, _BPE_SPLIT)
    nonempty = F.size(F.filter(toks, lambda t: t != ""))
    return F.when(F.length(cleaned) == 0, F.lit(0)).otherwise(nonempty)


def rolling_fingerprint(col: Column, window: int = 8, keep: int = 4,
                        max_chars: int = 4096) -> Column:
    """Winnowing-style document fingerprint: the ``keep`` smallest
    60-bit hashes over character ``window``-grams, joined as a stable
    hex-free string. Robust to small edits (unlike whole-doc md5).

    The gram array is O(len(text)) per row, so the input is capped at a
    ``max_chars`` prefix: a 100 MB outlier document would otherwise
    materialize a ~100M-element bigint array in one Tungsten row
    (executor OOM at scale). A prefix fingerprint keeps memory flat and
    is the documented semantic — near-dup detection on the head of the
    document, which is where boilerplate/title duplication lives."""
    def build(doc):
        n = F.length(doc)
        grams = F.transform(
            F.sequence(F.lit(1), n - window + 1),
            lambda i: F.conv(
                F.substring(F.md5(doc.substr(i, F.lit(window))), 1, 15),
                16, 10).cast("bigint"),
        )
        smallest = F.slice(F.array_sort(grams), 1, keep)
        return F.when(n < window, F.md5(doc)).otherwise(
            F.array_join(F.transform(smallest, lambda x: x.cast("string")),
                         "-"))
    return bind(F.substring(col, 1, max_chars), build)


def shingles(col: Column, n: int = 3) -> Column:
    """Distinct token n-gram shingles of a text column (JVM-side).
    The token array is :func:`bind`-bound so per-gram slicing is O(n),
    not a per-element re-split of the text (5x at sf0.1)."""
    def build(t):
        grams = F.transform(
            F.sequence(F.lit(0), F.size(t) - n),
            lambda i: F.array_join(F.slice(t, i + 1, n), " "),
        )
        return F.when(F.size(t) < n, F.array().cast("array<string>")) \
            .otherwise(F.array_distinct(grams))
    return bind(tokens(F.lower(col)), build)
