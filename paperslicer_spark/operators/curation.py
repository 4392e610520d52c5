"""Corpus-curation operators for training-data pipelines: rule-based
quality filtering (Gopher-style repetition/shape rules) and
deterministic hash-stratified sampling.

Both are pure JVM DataFrame plans (no Python UDFs) with exact ANSI-SQL
twins in ``__spark_entry__.oracle_sql`` (x27/x28), so the driver can
value-hash-check them against DuckDB.

Scale notes (100 TB):
- ``gopher_quality`` is a ZERO-SHUFFLE map over the base scan: every
  stat, including the top-bigram fraction, is a higher-order array
  expression on the row (the bigram stat is the max run length of the
  sorted per-doc bigram array via one ``F.aggregate`` pass — the
  (doc, bigram) groupBy alternative measured 0.43 scaling efficiency
  and was rejected; see the function docstring and CLAUDE.md
  invariant);
- ``stratified_sample`` is a stateless map-side filter (hash + compare
  against a broadcast-free CASE) — zero shuffles, trivially resumable,
  and the same rows are selected on every run and every cluster size
  (seeded md5, not ``rand()``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from paperslicer_spark.functions.text_stats import (WS, bind, md5_bigint,
                                                    tokens)


def gopher_quality(df: DataFrame, id_col: str, text_col: str,
                   min_words: int = 40, max_words: int = 100_000,
                   min_mean_word_len: float = 3.0,
                   max_mean_word_len: float = 10.0,
                   min_frac_unique: float = 0.4,
                   max_frac_top_bigram: float = 0.06,
                   carry_cols: list[str] | None = None) -> DataFrame:
    """Gopher-style document quality stats + keep flag.

    ``carry_cols`` names input columns passed through unchanged (e.g.
    the stratum for a downstream sampler in a dedup → quality → sample
    funnel) — per-row pass-through, so the operator stays stateless
    and streaming-composable.

    Per document (blank-text rows are excluded — they fail the word
    floor by definition):
    - ``word_count``: whitespace tokens;
    - ``mean_word_len``: non-whitespace chars / word_count;
    - ``frac_unique``: distinct lowercased tokens / tokens (low =
      degenerate repetition);
    - ``frac_top_bigram``: occurrences of the most frequent word
      2-gram / total 2-grams (high = boilerplate loops); 0.0 for
      single-word docs;
    - ``keep``: all rule thresholds pass (defaults follow the Gopher
      repetition-rule shape, calibrated so the synthetic corpus splits
      both ways).

    Fractions are rounded to 6dp BEFORE thresholding so the SQL oracle
    applies the identical comparison.

    Plan shape: the whole operator is a ZERO-SHUFFLE map over the base
    scan. The top-bigram count — the one stat that naively wants a
    (doc, bigram) groupBy (measured 0.43 scaling efficiency in a
    single JVM at 200k docs: an 11M-row shuffle for per-row state) —
    is instead the maximum run length of the SORTED per-doc bigram
    array, computed with one ``F.aggregate`` lambda pass. Identical
    value, no exchange, scales like a parquet scan.
    """

    def _run_step(acc, x):
        is_new = acc["prev"].isNull() | (acc["prev"] != x)
        run = F.when(is_new, F.lit(1).cast("bigint")) \
            .otherwise(acc["run"] + F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    def _bigrams(t):
        return F.when(F.size(t) < 2, F.array().cast("array<string>")) \
            .otherwise(F.transform(
                F.sequence(F.lit(0), F.size(t) - 2),
                lambda i: F.array_join(F.slice(t, i + 1, 2), " "),
            ))

    # every shape stat off ONE bind-bound token pass (the split and
    # the bigram array are each evaluated once per row — see
    # text_stats.bind: no CSE inside HOF lambdas, so the un-bound form
    # re-split the text per bigram, O(len²))
    st = bind(tokens(F.lower(F.col(text_col))), lambda t: F.struct(
        F.size(t).cast("bigint").alias("wc"),
        F.size(F.array_distinct(t)).alias("uniq"),
        bind(_bigrams(t), lambda bg: F.struct(
            F.size(bg).cast("bigint").alias("n_bg"),
            F.aggregate(
                F.array_sort(bg),
                F.struct(
                    F.lit(None).cast("string").alias("prev"),
                    F.lit(0).cast("bigint").alias("run"),
                    F.lit(0).cast("bigint").alias("best"),
                ),
                _run_step,
                lambda acc: acc["best"],
            ).alias("top_c"),
        )).alias("bg"),
    ))
    out = (
        df.where(F.trim(F.col(text_col)) != "")
        .select(
            F.col(id_col).alias("doc"),
            st["wc"].alias("word_count"),
            F.round(
                F.length(F.regexp_replace(F.col(text_col), WS, ""))
                / st["wc"], 6,
            ).alias("mean_word_len"),
            F.round(st["uniq"] / st["wc"], 6).alias("frac_unique"),
            F.when(st["bg"]["n_bg"] > 0,
                   F.round(st["bg"]["top_c"] / st["bg"]["n_bg"], 6))
            .otherwise(F.lit(0.0)).alias("frac_top_bigram"),
            *[F.col(c) for c in (carry_cols or [])],
        )
    )
    keep = (
        F.col("word_count").between(min_words, max_words)
        & F.col("mean_word_len").between(min_mean_word_len,
                                         max_mean_word_len)
        & (F.col("frac_unique") >= min_frac_unique)
        & (F.col("frac_top_bigram") <= max_frac_top_bigram)
    )
    return out.withColumn("keep", keep)


def curated_keep(df: DataFrame, id_col: str, text_col: str,
                 strata_col: str, rates: dict[str, float],
                 default_rate: float = 0.0) -> DataFrame:
    """End-to-end curation keep-list: a document survives iff it
    (1) passes the Gopher quality rules, (2) is the representative of
    its near-dup cluster (docs in no cluster are their own reps), and
    (3) falls inside its stratum's deterministic sample.

    This is the composition a training-data pipeline actually runs;
    each stage is the oracle-checked operator above (x26/x27/x28), so
    the fused plan stays one quality pass + one broadcast-size cluster
    join + a map-side sample filter.
    """
    from paperslicer_spark.operators.dedup import dup_clusters

    # the quality pass carries the input columns, so ``df`` is read
    # once here (no self-join back onto it)
    carry = [c for c in df.columns if c != id_col]
    quality = gopher_quality(df, id_col, text_col, carry_cols=carry) \
        .where("keep").select(F.col("doc").alias(id_col), *carry)
    non_reps = dup_clusters(df, id_col, text_col) \
        .where(~F.col("is_rep")).select(F.col("doc").alias(id_col))
    kept = quality.join(non_reps, id_col, "left_anti")
    return stratified_sample(kept, id_col, strata_col, rates,
                             default_rate=default_rate)


def stratified_sample(df: DataFrame, key_col: str, strata_col: str,
                      rates: dict[str, float], default_rate: float = 0.0,
                      denom: int = 10_000,
                      salt: str = "sample:") -> DataFrame:
    """Deterministic per-stratum sampling (the training-mix operator):
    keep a row iff ``md5_bigint(salt || key) % denom`` falls under the
    stratum's rate threshold. Seeded by content, not ``rand()``: the
    sample is identical across runs, retries, and cluster sizes, and a
    resumed job re-selects exactly the same rows.

    Adds a ``bucket`` column (the hash bucket the decision used) so
    downstream audits can verify the rate per stratum.
    """
    bucket = F.pmod(
        md5_bigint(F.col(key_col).cast("string"), salt=salt),
        F.lit(denom),
    )
    thresh = None
    for stratum, rate in sorted(rates.items()):
        cond = F.col(strata_col) == stratum
        lim = F.lit(int(round(rate * denom)))
        thresh = F.when(cond, lim) if thresh is None else thresh.when(cond, lim)
    default_lim = F.lit(int(round(default_rate * denom)))
    thresh = default_lim if thresh is None else thresh.otherwise(default_lim)
    return df.withColumn("bucket", bucket).where(F.col("bucket") < thresh)


def chunk_documents(df: DataFrame, id_col: str, text_col: str,
                    chunk_tokens: int = 32, overlap: int = 8,
                    max_chunks: int | None = 100_000) -> DataFrame:
    """Context-window chunking: split each document into overlapping
    windows of ``chunk_tokens`` whitespace tokens with ``overlap``
    tokens shared between consecutive chunks (stride = chunk_tokens -
    overlap) — the standard prep for fixed-context training/embedding.

    Pure JVM array work on the base scan: token array → window starts
    (``F.sequence`` step=stride) → per-start slice+join → posexplode.
    ZERO shuffles; one doc row fans out to ceil(n/stride) chunk rows
    inside its own scan partition — trivially 100 TB-parallel. Blank
    docs are excluded (oracle-identical semantics).

    ``max_chunks`` bounds the per-row blowup: the chunk array (with
    its ~chunk/stride× overlap duplication) materializes in ONE row
    buffer before the explode, so an adversarial multi-GB document
    would otherwise spike task memory — the same oversized-row
    guardrail shape as ``parse_turns_fused``'s max_turns_per_conv.
    Chunks past the cap are dropped (the doc is truncated, not
    errored — chunking an outlier's head is the usual intent).
    """
    assert 0 < overlap < chunk_tokens
    stride = chunk_tokens - overlap
    toks = tokens(F.lower(F.col(text_col)))
    if max_chunks is not None:
        # truncate the token ARRAY (not just the start sequence) so
        # the tail chunk's n_tokens and chunk_text stay consistent:
        # max_chunks*stride tokens → exactly max_chunks window starts
        toks = F.slice(toks, 1, max_chunks * stride)
    # bind: one split per row — un-bound, every window start re-ran
    # the split+slice chain (O(len²/stride), see text_stats.bind)
    chunks = bind(toks, lambda t: F.transform(
        F.sequence(F.lit(0), F.size(t) - 1, F.lit(stride)),
        lambda s: F.struct(
            F.array_join(F.slice(t, s + 1, chunk_tokens), " ")
            .alias("chunk_text"),
            F.least(F.lit(chunk_tokens), F.size(t) - s).cast("bigint")
            .alias("n_tokens"),
        ),
    ))
    return (
        df.where(F.trim(F.col(text_col)) != "")
        .select(F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "c"))
        .select(
            id_col,
            F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
            F.col("c.n_tokens").alias("n_tokens"),
            F.col("c.chunk_text").alias("chunk_text"),
        )
    )


def pack_sequences(chunks: DataFrame, doc_col: str = "doc_id",
                   idx_col: str = "chunk_idx",
                   token_col: str = "n_tokens",
                   capacity: int = 512, n_shards: int = 16) -> DataFrame:
    """Greedy contiguous sequence packing (concat-then-chop): chunks
    are laid end-to-end in (doc, chunk) order and cut into packs of
    ``capacity`` tokens — the standard fixed-context batching prep.

    A single global ordering would be one window partition = one task,
    so packing is SHARDED: each doc hashes to one of ``n_shards``
    streams (seeded md5 — deterministic across runs/cluster sizes) and
    the cumulative-offset window runs per shard. One shuffle on the
    shard key; shard width tunes task size at 10^12 rows (use
    thousands of shards there). Emits the pack assignment as the
    COMPOSITE key (shard, pack_seq) plus pack_offset per chunk — a
    single encoded bigint id would silently collide once a shard
    exceeds the multiplier (round-3 ADVICE: ~512e9 tokens/shard at
    capacity 512 with 16 shards is plausible at 10^12 rows). A chunk
    straddling a cut belongs to the pack where it starts.
    """
    from pyspark.sql import Window

    shard = F.pmod(md5_bigint(F.col(doc_col).cast("string"),
                              salt="pack:"), F.lit(n_shards))
    w = Window.partitionBy("shard").orderBy(doc_col, idx_col)
    start = (F.sum(F.col(token_col)).over(w) - F.col(token_col)) \
        .cast("bigint")
    return (
        chunks.withColumn("shard", shard)
        .withColumn("_start", start)
        .select(
            doc_col, idx_col, token_col, "shard",
            F.floor(F.col("_start") / capacity).alias("pack_seq"),
            F.pmod(F.col("_start"), F.lit(capacity)).alias("pack_offset"),
        )
    )


def distinctive_terms(df: DataFrame, id_col: str, text_col: str,
                      k: int = 3, min_len: int = 4) -> DataFrame:
    """Top-``k`` distinctive terms per document: rank a doc's terms by
    (term frequency DESC, corpus document frequency ASC, term ASC) —
    the integer-only cousin of tf-idf (identical ordering for the
    common monotone idf transforms, with zero float portability risk
    in the oracle). ``min_len`` drops short function words.

    Plan: per-doc (term, tf) pairs explode from the scan; corpus df is
    ONE partial-aggregated groupBy joined back on term (at 10^12 rows
    the df relation is vocabulary-sized — broadcast or shuffle join is
    AQE's size-based call); final top-k is a per-doc window.
    """
    from pyspark.sql import Window

    tok = (
        df.where(F.trim(F.col(text_col)) != "")
        .select(F.col(id_col).alias("doc"),
                F.explode(tokens(F.lower(F.col(text_col)))).alias("term"))
        .where(F.length("term") >= min_len)
    )
    tf = tok.groupBy("doc", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(
        F.count("*").cast("bigint").alias("df"))
    w = Window.partitionBy("doc").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc())
    return (
        tf.join(dfreq, "term")
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("doc", "rank", "term", "tf", "df")
    )


def paragraph_dedup(df: DataFrame, id_col: str, text_col: str,
                    para_sep: str = "\n{2,}",
                    join_sep: str = "\n\n") -> DataFrame:
    """Corpus-wide exact paragraph deduplication (the RefinedWeb /
    Falcon recipe): split every document on ``para_sep``, keep only the
    FIRST occurrence of each exact paragraph across the whole corpus
    (first = lowest (doc, para_idx) — deterministic at any cluster
    size), and reassemble each document from its surviving paragraphs.

    Returns one row per input document:
      ``(id, clean_text, n_paras, n_kept)`` — ``n_paras - n_kept`` is
    the boilerplate removed; ``clean_text`` may be empty when every
    paragraph first appeared elsewhere.

    Plan: posexplode paragraphs → ONE window shuffle on the paragraph
    hash (row_number in (doc, idx) order — the dedup decision) → ONE
    groupBy shuffle on doc to reassemble in-order via
    sort_array(collect_list(struct(idx, para))). Both keys are
    high-cardinality; the hash side's worst skew is the corpus's most
    repeated paragraph, whose row group is exactly what this operator
    exists to crush. At 10^12 rows the reassembly shuffle moves only
    KEPT paragraphs (duplicates die before it).
    """
    from pyspark.sql import Window

    paras = (
        df.select(F.col(id_col), F.posexplode(
            F.split(F.col(text_col), para_sep)).alias("pidx", "para"))
        .where(F.trim(F.col("para")) != "")
    )
    w = Window.partitionBy(F.md5(F.col("para"))).orderBy(id_col, "pidx")
    kept = (paras.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1))
    stats = df.select(
        F.col(id_col),
        F.size(F.filter(F.split(F.col(text_col), para_sep),
                        lambda p: F.trim(p) != "")).cast("bigint")
        .alias("n_paras"),
    )
    rebuilt = (
        kept.groupBy(id_col)
        .agg(F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.struct(F.col("pidx"), F.col("para")))),
                    lambda s: s["para"]),
                join_sep).alias("clean_text"),
             F.count("*").cast("bigint").alias("n_kept"))
    )
    return (
        stats.join(rebuilt, id_col, "left")
        .select(id_col,
                F.coalesce("clean_text", F.lit("")).alias("clean_text"),
                "n_paras",
                F.coalesce("n_kept", F.lit(0).cast("bigint"))
                .alias("n_kept"))
    )


def boilerplate_strip(df: DataFrame, id_col: str, text_col: str,
                      group_col: str | None = None,
                      min_df: float = 0.5, min_docs: int = 2,
                      line_sep: str = "\n",
                      join_sep: str = "\n") -> DataFrame:
    """Frequency-based boilerplate removal (the CCNet / web-pipeline
    recipe): a line that appears in at least ``min_df`` of a group's
    documents (and at least ``min_docs`` of them) is boilerplate —
    cookie banners, nav bars, license footers — and is stripped from
    EVERY document, including the first.  The complement of
    :func:`paragraph_dedup` (first-wins keeps one copy of repeated
    content; this removes all copies of template content).

    ``group_col`` scopes the frequency (host/source — a footer is
    boilerplate within its site, not across the web); ``None`` counts
    over the whole corpus.  Blank lines are ignored for both counting
    and rebuild.  Doc frequency counts each line once per document.

    Returns ``(id, clean_text, n_lines, n_kept)`` — one row per input
    document; ``clean_text`` may be empty when everything was
    template.

    Plan: posexplode lines → per-(group, line-hash) DISTINCT-doc count
    (two-phase partial aggregate) joined to the broadcast group-size
    relation → the boilerplate set, LEFT ANTI equi-joined back on the
    co-partitioned (group, hash) key (AQE may broadcast it when
    small; correct either way) → the x40 in-order reassembly
    ``groupBy(doc)``.  Worst skew on the hash side is the most common
    template line — exactly the row group the anti-join deletes.
    """
    g = (F.col(group_col) if group_col else F.lit("")).alias("_g")
    lines = (
        df.select(F.col(id_col), g, F.posexplode(
            F.split(F.col(text_col), line_sep)).alias("lidx", "line"))
        .where(F.trim(F.col("line")) != "")
        .withColumn("_h", F.md5(F.col("line")))
    )
    group_docs = (df.select(g, F.col(id_col)).groupBy("_g")
                  .agg(F.count("*").cast("bigint").alias("_gdocs")))
    doc_freq = (lines.select("_g", "_h", id_col).distinct()
                .groupBy("_g", "_h")
                .agg(F.count("*").cast("bigint").alias("_df")))
    boiler = (doc_freq.join(F.broadcast(group_docs), "_g")
              .where((F.col("_df") >= F.lit(min_docs))
                     & (F.col("_df") >= F.lit(min_df) * F.col("_gdocs")))
              .select("_g", "_h"))
    kept = lines.join(boiler, ["_g", "_h"], "left_anti")
    stats = df.select(
        F.col(id_col),
        F.size(F.filter(F.split(F.col(text_col), line_sep),
                        lambda ln: F.trim(ln) != "")).cast("bigint")
        .alias("n_lines"),
    )
    rebuilt = (
        kept.groupBy(id_col)
        .agg(F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.struct(F.col("lidx"), F.col("line")))),
                    lambda s: s["line"]),
                join_sep).alias("clean_text"),
             F.count("*").cast("bigint").alias("n_kept"))
    )
    return (
        stats.join(rebuilt, id_col, "left")
        .select(id_col,
                F.coalesce("clean_text", F.lit("")).alias("clean_text"),
                "n_lines",
                F.coalesce("n_kept", F.lit(0).cast("bigint"))
                .alias("n_kept"))
    )


def mixture_waterfill(sources: DataFrame, budget: int,
                      source_col: str = "source",
                      avail_col: str = "n_tokens",
                      weight_col: str = "weight") -> DataFrame:
    """Water-filling token-budget allocation across sources — the
    data-mix solver behind published blends (allocate a training
    budget proportionally to per-source quality weights, capped by
    what each source actually has; re-distribute the excess of
    saturated sources among the rest until nothing moves).

    Input: the per-source relation ``(source, n_tokens, weight)``
    (availability in tokens, non-negative weight).  Output adds
    ``alloc_tokens`` (bigint, Σ ≤ budget) and ``rate``
    (``alloc/avail`` double round(9) — what :func:`apply_mixture`
    consumes).

    Exact and deterministic: each round allocates
    ``remaining * w_i / Σ_active w`` in integer floor arithmetic,
    saturated sources are fixed at their availability, and the loop
    runs at most ``|sources|`` rounds.  Flooring leaves a < |sources|
    token remainder unallocated (never over-allocates).

    Scale: the solve is driver-side over the SOURCES-sized relation
    (the kmeans/bpe model-relation precedent — sources number in the
    dozens, not the billions); the corpus is never touched.  Weights
    summing to 0 (or an empty relation) allocate nothing.
    """
    rows = [(r[source_col], int(r[avail_col]), float(r[weight_col]))
            for r in sources.select(source_col, avail_col,
                                    weight_col).collect()]
    alloc = {s: 0 for s, _a, _w in rows}
    active = {s: (a, w) for s, a, w in rows if a > 0 and w > 0}
    remaining = int(budget)
    for _ in range(len(rows)):
        wsum = sum(w for _a, w in active.values())
        if remaining <= 0 or wsum <= 0 or not active:
            break
        share = {s: int(remaining * w / wsum)
                 for s, (_a, w) in active.items()}
        saturated = {s for s, (a, _w) in active.items()
                     if share[s] >= a}
        if not saturated:
            for s, take in share.items():
                alloc[s] += take
            remaining -= sum(share.values())
            break
        for s in saturated:
            a, _w = active.pop(s)
            take = a - alloc[s]
            alloc[s] = a
            remaining -= take
    out = [(s, a, w, alloc[s],
            round(alloc[s] / a, 9) if a else 0.0)
           for s, a, w in rows]
    return sources.sparkSession.createDataFrame(
        out, f"{source_col} string, {avail_col} bigint, "
             f"{weight_col} double, alloc_tokens bigint, rate double")


def apply_mixture(df: DataFrame, rates: DataFrame, source_col: str,
                  id_col: str, salt: str = "mix:",
                  denom: int = 10 ** 9) -> DataFrame:
    """Materialize a :func:`mixture_waterfill` plan: keep each row iff
    its seeded hash bucket falls under the source's rate threshold —
    the x28 sampler rule (``pmod(md5_bigint(salt||id), denom) <
    round(rate * denom)``), integer-exact, deterministic across runs
    and cluster sizes, no ``rand()``.  ``denom = 1e9`` matches the
    rate's 9dp rounding grid.  The rates relation is sources-sized
    and broadcast; the corpus pass is a map-side filter, zero
    shuffles.
    """
    bucket = F.pmod(
        md5_bigint(F.col(id_col).cast("string"), salt=salt),
        F.lit(denom))
    thresh = F.round(F.col("rate") * F.lit(denom)).cast("bigint")
    return (df.join(F.broadcast(rates.select(source_col, "rate")),
                    source_col)
            .where(bucket < thresh)
            .drop("rate"))


def exact_k_sample(df: DataFrame, key_col: str, strata_col: str,
                   k: int, salt: str = "samplek:") -> DataFrame:
    """Deterministic exact-``k`` per-stratum sample: rank rows within
    each stratum by the seeded md5 of their key (ties by key) and keep
    the first ``k``. The "exactly 10k docs per language" training-mix
    operator — rate-based :func:`stratified_sample` only hits counts
    in expectation; this hits them exactly, with the same
    run/retry/cluster-size determinism (content hash, not ``rand()``).

    Adds ``sample_rank`` (1-based within stratum) so downstream can
    take nested prefixes (first 1k of the 10k) without resampling.

    Scale: the ``row_number() <= k`` filter is a WindowGroupLimit in
    Spark 3.5+ — executors keep only their local top-k PER GROUP
    before the exchange (see PLANS.md x38), so the shuffle carries at
    most ``k × partitions`` rows per stratum, not the stratum. The
    final per-stratum sort of those survivors is the unavoidable
    serial term; with k in the thousands it is negligible.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(strata_col).orderBy(
        md5_bigint(F.col(key_col).cast("string"), salt=salt),
        F.col(key_col))
    return (
        df.withColumn("sample_rank",
                      F.row_number().over(w).cast("bigint"))
        .where(F.col("sample_rank") <= k)
    )


def token_budget_cut(df: DataFrame, id_col: str, token_expr,
                     budget: int, n_buckets: int = 1024,
                     salt: str = "budget:") -> DataFrame:
    """Training-set assembly: take documents in deterministic seeded-
    hash order until the GLOBAL running token total reaches ``budget``
    ("give me exactly ~10B tokens of this corpus"). Returns the kept
    rows plus ``cum_tokens`` (running total INCLUDING the row), so the
    boundary doc is the first to cross the budget and nested budgets
    are prefixes of each other — same run/retry/cluster-size
    determinism as the other hash-ordered samplers.

    A global cumulative sum is the textbook two-phase distributed
    prefix sum — a naive ``Window.orderBy(h)`` is ONE partition doing
    all the work. Here: (1) bucket rows by the TOP bits of the 60-bit
    order hash (range bucketing, so bucket order == hash order);
    (2) per-bucket token totals — a tiny ``n_buckets``-row aggregate —
    prefix-summed with one window over that tiny relation and
    broadcast back; (3) the intra-bucket running sum is a window per
    bucket, offset by its bucket's prefix. No stage touches more than
    |rows|/n_buckets rows per task; the only serial work is the
    n_buckets-row prefix.
    """
    from pyspark.sql import Window

    h = md5_bigint(F.col(id_col).cast("string"), salt=salt)
    # top 60-bit hash bits → range bucket (bucket order == hash order)
    rows = df.withColumn("_h", h).withColumn(
        "_b", F.floor(F.col("_h") / F.lit((1 << 60) // n_buckets)))
    rows = rows.withColumn("_wc", token_expr.cast("bigint"))
    per_bucket = rows.groupBy("_b").agg(F.sum("_wc").alias("_bt"))
    offsets = per_bucket.withColumn(
        "_off",
        F.coalesce(
            F.sum("_bt").over(
                Window.orderBy("_b")
                .rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).cast("bigint"),
    ).select("_b", "_off")
    wb = (Window.partitionBy("_b").orderBy("_h", id_col)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        rows.join(F.broadcast(offsets), "_b")
        .withColumn("cum_tokens",
                    (F.col("_off") + F.sum("_wc").over(wb)).cast("bigint"))
        .where(F.col("cum_tokens") <= budget)
        .drop("_h", "_b", "_wc", "_off")
    )


def temperature_mix(df: DataFrame, key_col: str, strata_col: str,
                    alpha: float = 0.5, target_rows: int = 1000,
                    denom: int = 10_000,
                    salt: str = "mix:") -> DataFrame:
    """Temperature-scaled mixture sampling (the mT5/XLM-R recipe):
    stratum ``s`` gets sampling weight ``n_s^alpha / sum(n^alpha)`` —
    ``alpha < 1`` up-weights small strata (low-resource languages,
    rare sources) relative to proportional sampling — and rows are
    kept by the same seeded-hash bucket rule as
    :func:`stratified_sample`, with the per-stratum rate derived FROM
    THE DATA as ``min(1, target_rows * w_s / n_s)``.

    Deterministic end to end: the rates come from exact counts and the
    keep decision from the content hash, so the same mix re-emerges on
    every run, retry, and cluster size. Adds ``mix_rate_bucket`` (the
    integer threshold used) for audit.

    Plan: one tiny per-stratum count aggregate → rates computed on
    that |strata|-row relation → broadcast join back → map-side hash
    filter. The corpus-sized relation is touched exactly once, no
    wide shuffle.

    A NULL stratum is a stratum like any other (the join back is
    null-safe — round-4 ADVICE: a plain equi-join silently dropped
    NULL-stratum rows even though the rate computation counted them).
    """
    counts = df.groupBy(strata_col).agg(F.count("*").alias("_n"))
    total_w = counts.agg(
        F.sum(F.pow(F.col("_n").cast("double"), F.lit(alpha)))
        .alias("_tw"))
    rates = (
        counts.crossJoin(F.broadcast(total_w))
        .withColumn(
            "_thresh",
            F.round(
                F.lit(denom) * F.least(
                    F.lit(1.0),
                    F.lit(float(target_rows))
                    * F.pow(F.col("_n").cast("double"), F.lit(alpha))
                    / F.col("_tw") / F.col("_n"),
                )
            ).cast("bigint"),
        )
        .select(F.col(strata_col).alias("_strata"), "_thresh")
    )
    bucket = F.pmod(
        md5_bigint(F.col(key_col).cast("string"), salt=salt),
        F.lit(denom))
    return (
        df.join(F.broadcast(rates),
                F.col(strata_col).eqNullSafe(F.col("_strata")))
        .withColumn("_bkt", bucket)
        .where(F.col("_bkt") < F.col("_thresh"))
        .withColumn("mix_rate_bucket", F.col("_thresh"))
        .drop("_strata", "_thresh", "_bkt")
    )


def c4_line_filter(df: DataFrame, id_col: str, text_col: str,
                   min_words: int = 3,
                   banned: tuple[str, ...] = ("lorem ipsum",
                                              "javascript"),
                   require_terminal: bool = True,
                   line_sep: str = "\n") -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2): keep a
    line iff it has ≥ ``min_words`` whitespace tokens, ends in terminal
    punctuation (``. ! ? "``), and contains no banned phrase
    (case-insensitive substring); the document is rebuilt from the
    surviving lines in order.

    Output: ``(doc, clean_text, n_lines, n_kept)``; blank-text rows
    are excluded (they have no lines).

    Scale notes (100 TB): the whole operator is a ZERO-SHUFFLE
    higher-order map on the base scan — split, per-line predicate
    inside ``F.filter`` (each predicate term reads only the lambda
    element, so the no-CSE-in-HOF trap does not apply), rejoin.
    Stateless → streams unchanged.
    """

    def _line_keep(line):
        t = F.trim(line)
        keep = F.size(F.split(t, WS)) >= F.lit(min_words)
        keep = keep & (t != "")
        if require_terminal:
            keep = keep & t.rlike('[.!?"]$')
        low = F.lower(t)
        for phrase in banned:
            keep = keep & ~low.contains(phrase.lower())
        return keep

    lines = F.split(F.col(text_col), line_sep)
    st = bind(lines, lambda ls: F.struct(
        F.size(ls).cast("bigint").alias("n_lines"),
        bind(F.filter(ls, _line_keep), lambda kept: F.struct(
            F.array_join(kept, line_sep).alias("clean_text"),
            F.size(kept).cast("bigint").alias("n_kept"),
        )).alias("k"),
    ))
    return (
        df.where(F.trim(F.col(text_col)) != "")
        .select(F.col(id_col).alias("doc"),
                st["k"]["clean_text"].alias("clean_text"),
                st["n_lines"].alias("n_lines"),
                st["k"]["n_kept"].alias("n_kept"))
    )


def _max_run(sorted_arr):
    """Longest run of equal adjacent elements in a SORTED array — the
    zero-shuffle top-n-gram occupancy primitive (one ``F.aggregate``
    pass; see gopher_quality's plan-shape note and the CLAUDE.md
    no-(doc,ngram)-groupBy invariant)."""
    def step(acc, x):
        is_new = acc["prev"].isNull() | (acc["prev"] != x)
        run = F.when(is_new, F.lit(1).cast("bigint")) \
            .otherwise(acc["run"] + F.lit(1))
        return F.struct(x.alias("prev"), run.alias("run"),
                        F.greatest(acc["best"], run).alias("best"))

    return F.aggregate(
        sorted_arr,
        F.struct(F.lit(None).cast("string").alias("prev"),
                 F.lit(0).cast("bigint").alias("run"),
                 F.lit(0).cast("bigint").alias("best")),
        step, lambda acc: acc["best"])


def repetition_stats(df: DataFrame, id_col: str, text_col: str,
                     line_sep: str = "\n") -> DataFrame:
    """The rest of the Gopher/MassiveText repetition rules (Rae et al.
    2021, Table A1) beyond gopher_quality's top-bigram: per document,

    - ``dup_line_frac``: fraction of non-blank lines that are exact
      duplicates of an earlier line (``(n - n_distinct) / n``);
    - ``dup_line_char_frac``: same, weighted by characters;
    - ``frac_top_trigram`` / ``frac_top_fourgram``: occurrences of the
      most frequent word 3-/4-gram over total 3-/4-grams.

    All fractions rounded to 6 dp; docs with no non-blank lines are
    excluded. ZERO-SHUFFLE: line stats come from array/distinct
    aggregates on the row, n-gram occupancy from the sorted-array
    max-run pass — no (doc, ngram) shuffle, scales like a scan.
    """
    def _char_sum(arr):
        return F.aggregate(
            arr, F.lit(0).cast("bigint"),
            lambda acc, x: acc + F.length(x))

    def _ngrams(t, n):
        return F.when(F.size(t) < n, F.array().cast("array<string>")) \
            .otherwise(F.transform(
                F.sequence(F.lit(0), F.size(t) - n),
                lambda i: F.array_join(F.slice(t, i + 1, n), " ")))

    def _top_frac(t, n):
        return bind(_ngrams(t, n), lambda gs: F.when(
            F.size(gs) > 0,
            F.round(_max_run(F.array_sort(gs)) / F.size(gs), 6),
        ).otherwise(F.lit(0.0)))

    lines = F.filter(F.split(F.col(text_col), line_sep),
                     lambda l: F.trim(l) != "")
    line_st = bind(lines, lambda ls: bind(
        F.array_distinct(ls), lambda ds: F.struct(
            F.size(ls).cast("bigint").alias("n_lines"),
            F.size(ds).cast("bigint").alias("n_distinct"),
            _char_sum(ls).alias("chars"),
            _char_sum(ds).alias("chars_distinct"),
        )))
    tok_st = bind(tokens(F.lower(F.col(text_col))), lambda t: F.struct(
        _top_frac(t, 3).alias("f3"), _top_frac(t, 4).alias("f4")))
    out = (
        df.select(F.col(id_col).alias("doc"),
                  line_st.alias("_l"), tok_st.alias("_t"))
        .where(F.col("_l.n_lines") > 0)
        .select(
            "doc",
            F.col("_l.n_lines").alias("n_lines"),
            F.round((F.col("_l.n_lines") - F.col("_l.n_distinct"))
                    / F.col("_l.n_lines"), 6).alias("dup_line_frac"),
            F.when(F.col("_l.chars") > 0,
                   F.round((F.col("_l.chars") - F.col("_l.chars_distinct"))
                           / F.col("_l.chars"), 6))
            .otherwise(F.lit(0.0)).alias("dup_line_char_frac"),
            F.col("_t.f3").alias("frac_top_trigram"),
            F.col("_t.f4").alias("frac_top_fourgram"),
        )
    )
    return out


def unigram_logprob(df: DataFrame, id_col: str, text_col: str,
                    vocab_size: int = 1000) -> DataFrame:
    """Per-document mean unigram log10-probability under the corpus's
    own add-one-smoothed top-K unigram LM — the cheap stand-in for a
    KenLM perplexity quality filter (CCNet / Wenzek et al. 2020):
    boilerplate and in-distribution text score high, token soup and
    OOV-heavy noise score low.

    Model: ``V`` = top ``vocab_size`` corpus tokens by (count desc,
    token asc); ``P(w) = (c_w + 1) / (N + |V| + 1)`` with ``c_w = 0``
    for OOV; per doc: ``mean_logp`` = mean log10 P over its tokens,
    plus ``oov_frac``. Rounded to 6 dp.

    Scale notes (100 TB): the count pass explodes tokens but Spark's
    hash aggregate pre-combines map-side, so the shuffle carries at
    most |partition vocab| rows; top-K is TakeOrdered (no global
    sort materialization) and the resulting ≤``vocab_size``-row model
    relation is BROADCAST to the scoring join; scoring shuffles only
    the (doc, partial-sum) aggregation. Skew-immune: token frequency
    skew lands in the map-side combiners, not one reducer.

    Plan-audit note: lazily, the token stream is scanned once for the
    vocab, once for the corpus total, and once for scoring (three
    corpus scans). Fine at contract scale; a 100 TB run should train
    the model once (persist ``vocab`` + the total — they ARE the
    model, cf. the x15 frozen-centroid pattern) and run only the
    scoring pass per corpus sweep.
    """
    toks = df.where(F.trim(F.col(text_col)) != "") \
        .select(F.col(id_col).alias("doc"),
                F.explode(tokens(F.lower(F.col(text_col))))
                .alias("w"))
    vocab = (
        toks.groupBy("w").agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), F.col("w").asc())
        .limit(vocab_size)
    )
    totals = toks.agg(
        F.count("*").alias("_n"),
        F.lit(0).alias("_z"))  # keep the relation 1-row, broadcastable
    v_count = vocab.agg(F.count("*").alias("_v"))
    scored = (
        toks.join(F.broadcast(vocab), "w", "left")
        .crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(v_count))
        .withColumn(
            "_logp",
            F.log10((F.coalesce(F.col("c"), F.lit(0)) + 1)
                    / (F.col("_n") + F.col("_v") + 1)))
        .groupBy("doc")
        .agg(F.count("*").alias("n_tokens"),
             F.round(F.avg(F.col("c").isNull().cast("double")), 6)
             .alias("oov_frac"),
             F.round(F.avg("_logp"), 6).alias("mean_logp"))
    )
    return scored


def epoch_mix(df: DataFrame, strata_col: str, token_expr,
              weights: dict[str, float], budget_tokens: int,
              max_epochs: float = 4.0,
              default_weight: float = 0.0) -> DataFrame:
    """Data-mixing epoch plan: given target mixture ``weights`` and a
    total token ``budget_tokens``, compute per-stratum repeat factors
    — ``epochs = min(max_epochs, target_tokens / n_tokens)`` — the
    "repeat small high-quality sources up to N epochs" rule
    (Muennighoff et al. 2023, data-constrained scaling). Output one
    row per stratum: ``(stratum, n_docs, n_tokens, weight,
    target_tokens, epochs, effective_tokens)``.

    Plan: one aggregate over the corpus (map-side combined) → pure
    arithmetic on the |strata|-row relation. 6dp epochs; integer
    token counts everywhere else.
    """
    total_w = sum(weights.values()) or 1.0
    w_expr = None
    for s, w in sorted(weights.items()):
        cond = F.col("stratum") == s
        w_expr = F.when(cond, F.lit(w)) if w_expr is None \
            else w_expr.when(cond, F.lit(w))
    w_expr = (F.lit(float(default_weight)) if w_expr is None
              else w_expr.otherwise(F.lit(float(default_weight))))
    agg = (
        df.groupBy(F.col(strata_col).alias("stratum"))
        .agg(F.count("*").alias("n_docs"),
             F.sum(token_expr.cast("bigint")).alias("n_tokens"))
        .withColumn("weight", F.round(w_expr / total_w, 6))
    )
    target = F.round(F.lit(budget_tokens) * F.col("weight")).cast("bigint")
    epochs = F.round(
        F.least(F.lit(float(max_epochs)),
                target / F.greatest(F.col("n_tokens"), F.lit(1))), 6)
    return (
        agg.withColumn("target_tokens", target)
        .withColumn("epochs", epochs)
        .withColumn("effective_tokens",
                    F.round(F.col("epochs") * F.col("n_tokens"))
                    .cast("bigint"))
    )


def hashed_classifier_score(df: DataFrame, id_col: str, text_col: str,
                            dim: int = 4096, threshold: float = 0.0,
                            salt: str = "w:") -> DataFrame:
    """fastText-style linear quality classifier over hashed
    bag-of-words features (the CCNet / DCLM "model-based filtering"
    stage, with the trained model replaced by a deterministic weight
    table so both engines reproduce it bit-for-bit).

    Per doc: each token hashes to one of ``dim`` feature buckets; the
    document score is the mean bucket weight, ``keep`` is a threshold
    on that mean. Weights are INTEGERS (derived ``md5(salt||bucket) %
    2001 - 1000``), so the per-doc sum is exact bigint arithmetic and
    the only float op is one final division — no cross-engine
    summation-order risk.

    Scale shape: a ZERO-SHUFFLE map — one ``F.aggregate`` pass over
    the token array computes the sum in-row.
    """
    def bucket_of(tok):
        return F.pmod(md5_bigint(tok, hex_chars=7), F.lit(dim))

    def weight_of(bucket):
        return F.pmod(md5_bigint(F.concat(F.lit(salt),
                                          bucket.cast("string")),
                                 hex_chars=7),
                      F.lit(2001)) - F.lit(1000)

    n = F.size(F.col("_toks"))
    score = F.aggregate(
        F.col("_toks"), F.lit(0).cast("bigint"),
        lambda acc, t: acc + weight_of(bucket_of(t)))
    scored = (
        df.withColumn("_toks", tokens(F.lower(F.col(text_col))))
        .select(F.col(id_col).alias("doc"),
                n.alias("n_tokens"), score.alias("score_raw"))
    )
    mean_w = F.when(F.col("n_tokens") > 0,
                    F.round(F.col("score_raw") /
                            F.col("n_tokens"), 6))
    return scored.select(
        "doc", "n_tokens", "score_raw", mean_w.alias("mean_w"),
        F.coalesce(F.col("score_raw") >
                   F.lit(float(threshold)) * F.col("n_tokens"),
                   F.lit(False)).alias("keep"))


def dsir_weights(df: DataFrame, target: DataFrame, id_col: str,
                 text_col: str, dim: int = 1024) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw doc
    by the log-likelihood ratio of a TARGET-domain hashed n-gram
    unigram model vs the RAW-corpus model — the distribution-matching
    alternative to threshold classifiers (x61).

    Features are hashed word uni+bigrams into ``dim`` buckets; both
    bucket-count models are add-one smoothed. Per doc:
    ``mean over features of [log10 P_target(b) - log10 P_raw(b)]``
    (mean, not sum, so the score is length-normalized; round-6 like
    the x53 LM — the green precedent for cross-engine log parity).

    Scale shape: two bucket-count aggregations whose shuffles are
    map-side-combined down to ≤ ``dim`` rows per partition; both
    models broadcast back to the exploded-feature scan; one final
    groupBy(doc). The target corpus is typically tiny (Wikipedia-like
    seed) — its scan cost is the floor.
    """
    def grams_of(dfin):
        t = tokens(F.lower(F.col(text_col)))
        def build(tk):
            bi = F.transform(
                F.sequence(F.lit(0), F.size(tk) - 2),
                lambda i: F.concat_ws(" ", F.slice(tk, i + 1, 2)))
            return F.when(F.size(tk) < 2, tk) \
                .otherwise(F.concat(tk, bi))
        return dfin.select(
            F.col(id_col).alias("doc"),
            F.explode(bind(t, build)).alias("gram"),
        ).select("doc", F.pmod(md5_bigint(F.col("gram"), hex_chars=7),
                               F.lit(dim)).alias("bucket"))

    raw_g = grams_of(df.where(F.trim(F.col(text_col)) != ""))
    tgt_g = grams_of(target.where(F.trim(F.col(text_col)) != ""))
    raw_cnt = raw_g.groupBy("bucket").agg(F.count("*").alias("cr"))
    tgt_cnt = tgt_g.groupBy("bucket").agg(F.count("*").alias("ct"))
    n_raw = raw_g.agg(F.count("*").alias("nr"))
    n_tgt = tgt_g.agg(F.count("*").alias("nt"))
    logdiff = (F.log10((F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1.0)) /
                       (F.col("nt") + F.lit(dim))) -
               F.log10((F.coalesce(F.col("cr"), F.lit(0)) + F.lit(1.0)) /
                       (F.col("nr") + F.lit(dim))))
    return (
        raw_g.join(F.broadcast(raw_cnt), "bucket", "left")
        .join(F.broadcast(tgt_cnt), "bucket", "left")
        .crossJoin(F.broadcast(n_raw)).crossJoin(F.broadcast(n_tgt))
        .groupBy("doc")
        .agg(F.count("*").alias("n_features"),
             F.round(F.avg(logdiff), 6).alias("log_ratio"))
    )


def weighted_sample(df: DataFrame, id_col: str, weight_expr,
                    k: int = 100, salt: str = "wsample:") -> DataFrame:
    """Weighted sampling without replacement (Efraimidis & Spirakis
    2006 priority sampling): each row gets the key ``ln(u) / w`` from
    a deterministic uniform ``u`` (seeded md5 of the id, the engine's
    standard no-``rand()`` rule) and weight ``w``; the ``k`` largest
    keys are the sample. Heavier rows win more often in exact
    proportion to their weight — the "sample documents proportional
    to their token count" operator a training-mix pipeline needs
    where uniform sampling (x28/x42) would over-represent short docs.

    Rows with ``w <= 0`` are excluded (they can never be drawn).
    Keys are rounded to 6dp before ranking (ties broken by id) so the
    SQL oracle's libm agrees bit-for-bit after rounding.

    Scale: the global top-k is ``orderBy().limit(k)`` — Spark's
    TakeOrderedAndProject keeps a k-row heap PER PARTITION and merges
    k-row partials on the driver; no global sort, no single-partition
    window over the corpus. Only the final rank assignment (a window
    over the k surviving rows) is single-partition, and k is small by
    contract.

    Returns ``(id, weight, key, rank)`` for the k sampled rows.
    """
    from pyspark.sql import Window

    two60 = float((1 << 60) + 1)
    u = (md5_bigint(F.col(id_col).cast("string"), salt=salt)
         .cast("double") + F.lit(1.0)) / F.lit(two60)
    w = weight_expr.cast("double")
    keyed = (
        df.select(F.col(id_col), w.alias("weight"))
        .where(F.col("weight") > 0)
        .withColumn("key", F.round(F.log(u) / F.col("weight"), 6))
    )
    topk = keyed.orderBy(F.col("key").desc(), F.col(id_col)).limit(k)
    rank_w = Window.orderBy(F.col("key").desc(), F.col(id_col))
    return topk.withColumn(
        "rank", F.row_number().over(rank_w).cast("bigint")).select(
        id_col, F.col("weight").cast("bigint").alias("weight"),
        "key", "rank")


def vocab_coverage(df: DataFrame, text_col: str,
                   vocab_size: int = 512) -> DataFrame:
    """Tokenizer-training step one: the top-``vocab_size`` corpus
    tokens by frequency with their cumulative corpus-coverage curve —
    the relation a vocab-size decision is made from ("512 types cover
    97.1% of tokens; 8k covers 99.6%").

    Output ``(rank, token, count, coverage, cum_coverage)`` with
    coverage fractions rounded to 6dp; rank ties break by token text.

    Scale: the token count is one explode + map-side-combined
    groupBy; the top-V cut is ``orderBy().limit(V)`` —
    TakeOrderedAndProject (per-partition V-row heaps), never a global
    sort; the cumulative window runs on the V-row result (single tiny
    partition by construction, V small by contract).
    """
    from pyspark.sql import Window

    toks = (
        df.where(F.trim(F.col(text_col)) != "")
        .select(F.explode(tokens(F.lower(F.col(text_col))))
                .alias("token"))
    )
    counts = toks.groupBy("token").agg(
        F.count("*").cast("bigint").alias("count"))
    total = counts.agg(F.sum("count").cast("double").alias("_total"))
    top = counts.orderBy(F.col("count").desc(), F.col("token")) \
        .limit(vocab_size)
    w = Window.orderBy(F.col("count").desc(), F.col("token"))
    return (
        top.crossJoin(F.broadcast(total))
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .withColumn("coverage",
                    F.round(F.col("count") / F.col("_total"), 6))
        .withColumn("cum_coverage",
                    F.round(F.sum("count").over(
                        w.rowsBetween(Window.unboundedPreceding, 0))
                        / F.col("_total"), 6))
        .select("rank", "token", "count", "coverage", "cum_coverage")
    )


def bigram_logprob(df: DataFrame, id_col: str, text_col: str
                   ) -> DataFrame:
    """Per-document mean bigram log10-probability under the corpus's
    own add-one-smoothed bigram LM — the second-order upgrade of the
    x53 unigram filter (CCNet-style): fluent text scores high, word
    salad with plausible unigrams but improbable transitions scores
    low, which the unigram model cannot see.

    Model: ``P(w2 | w1) = (c(w1 w2) + 1) / (c(w1) + D + 1)`` with
    ``c`` raw corpus counts and ``D`` the distinct-unigram count
    (the smoothing vocabulary). Per doc: ``mean_logp`` = mean log10 P
    over its consecutive in-doc bigrams, rounded 6dp. Docs with fewer
    than two tokens have no bigrams and are absent from the output.

    Scale notes (100 TB): both count passes are map-side-combined
    groupBys; scoring joins the bigram stream against the two model
    relations on their natural keys — corpus-scale model relations,
    so these are shuffle equi-joins (AQE skew handling covers hot
    function-word bigrams), and a production run persists the model
    bucketed by key once and streams scoring passes against it (the
    x53 frozen-model note applies verbatim). The bigram array is
    ``bind``-bound (no-CSE-in-HOF rule) so gram slicing is O(n).
    """
    base = df.where(F.trim(F.col(text_col)) != "") \
        .select(F.col(id_col).alias("doc"),
                F.lower(F.col(text_col)).alias("_t"))

    def grams(t):
        pairs = F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.concat(F.element_at(t, i), F.lit(" "),
                               F.element_at(t, i + 1)))
        return F.when(F.size(t) < 2,
                      F.array().cast("array<string>")).otherwise(pairs)

    bg = base.select(
        "doc", F.explode(bind(tokens(F.col("_t")), grams)).alias("g"))
    uni = base.select(F.explode(tokens(F.col("_t"))).alias("w"))
    c1 = uni.groupBy("w").agg(F.count("*").alias("c1"))
    c2 = bg.groupBy("g").agg(F.count("*").alias("c2"))
    d = uni.agg(F.countDistinct("w").alias("_d"))

    logp = F.log10((F.col("c2") + 1.0) /
                   (F.col("c1") + F.col("_d") + 1.0))
    return (
        bg.join(c2, "g")
        .withColumn("w", F.split(F.col("g"), " ").getItem(0))
        .join(c1, "w")
        .crossJoin(F.broadcast(d))
        .groupBy("doc")
        .agg(F.count("*").cast("bigint").alias("n_bigrams"),
             F.round(F.avg(logp), 6).alias("mean_logp"))
    )


def bpe_pair_counts(df: DataFrame, text_col: str,
                    top_k: int = 64) -> DataFrame:
    """The corpus-scale inner loop of BPE tokenizer training: weighted
    adjacent-symbol-pair counts over the vocabulary, at the initial
    (character) iteration — the relation whose argmax IS the first BPE
    merge. Production trainers (e.g. the HF tokenizers pipeline) run
    exactly this split: one distributed pass builds the word-frequency
    vocabulary, then the merge loop iterates on that driver-sized
    relation; this operator is the distributed pass plus the first
    pair-count, which is the only part that touches the corpus.

    Output ``(rank, pair, weight)``: the top-``top_k`` two-character
    pairs by total corpus weight (word frequency × in-word
    occurrences), ties by pair text.

    Scale: word counts and pair sums are map-side-combined groupBys
    (the pair fan-out runs over the DISTINCT-word vocabulary, not the
    corpus); the top-k cut is TakeOrderedAndProject (per-partition
    k-row heaps); the rank window sees only the k survivors.
    """
    from pyspark.sql import Window

    vocab = (
        df.where(F.trim(F.col(text_col)) != "")
        .select(F.explode(tokens(F.lower(F.col(text_col)))).alias("w"))
        .groupBy("w").agg(F.count("*").alias("c"))
        .where(F.length("w") >= 2)
    )
    # adjacent char pairs = all 2-char substrings (w is a plain column
    # attribute, so referencing it inside the HOF lambda is safe under
    # the no-CSE rule)
    pairs = vocab.select(
        F.explode(F.transform(
            F.sequence(F.lit(1), F.length("w") - 1),
            lambda i: F.col("w").substr(i, F.lit(2)))).alias("pair"),
        "c")
    agg = pairs.groupBy("pair").agg(
        F.sum("c").cast("bigint").alias("weight"))
    top = agg.orderBy(F.col("weight").desc(), "pair").limit(top_k)
    w = Window.orderBy(F.col("weight").desc(), "pair")
    return top.select(
        F.row_number().over(w).cast("bigint").alias("rank"),
        "pair", "weight")


def source_kl(df: DataFrame, source_col: str, text_col: str
              ) -> DataFrame:
    """Per-source KL divergence from the corpus-wide unigram
    distribution: ``KL(p_source || p_corpus) = Σ_w p_s(w) ·
    ln(p_s(w) / p_c(w))`` — the distribution-shift monitor a data-mix
    dashboard tracks per ingest source ("this crawl slice drifted
    0.8 nats from the blend"). Always finite: every source word is a
    corpus word, so ``p_c(w) > 0`` wherever ``p_s(w) > 0``.

    Output ``(source, n_tokens, kl)`` with ``kl`` rounded to 6dp for
    oracle parity.

    Scale: ONE corpus pass — the map-side-combined (source, word)
    count; the per-word and per-source roll-ups are WINDOWS over that
    vocab-sized relation, never broadcast-backs of its aggregates (a
    `F.broadcast(agg_of_sw)` build re-runs the corpus explode as its
    own query-stage job — the measured bm25 trap, see
    `operators/search.py`). The grand total enters as the algebraic
    ``+ ln(N)`` constant computed from the final |sources|-row
    relation, so no global window ever sees the vocab relation.
    """
    from pyspark.sql import Window

    sw = (
        df.where(F.trim(F.col(text_col)) != "")
        .select(F.col(source_col).alias("source"),
                F.explode(tokens(F.lower(F.col(text_col)))).alias("w"))
        .groupBy("source", "w").agg(F.count("*").alias("c"))
        .withColumn("cw", F.sum("c").over(Window.partitionBy("w")))
        .withColumn("nt", F.sum("c").over(Window.partitionBy("source")))
    )
    # KL = Σ p_s·ln(p_s/p_c) with p_c = cw/N; pulling the constant
    # ln(N) out (Σ p_s = 1) avoids needing N inside the vocab-sized
    # aggregation: Σ p_s·ln(c·?/(nt·cw)) + ln(N)
    p_s = F.col("c") / F.col("nt")
    part = F.sum(p_s * F.log(F.col("c")
                             / (F.col("nt") * F.col("cw"))))
    per_src = sw.groupBy("source").agg(
        F.first("nt").cast("bigint").alias("n_tokens"),
        part.alias("_part"))
    grand = F.sum("n_tokens").over(Window.partitionBy())
    return per_src.select(
        "source", "n_tokens",
        F.round(F.col("_part") + F.log(grand.cast("double")), 6)
        .alias("kl"))


def cooccurrence_counts(df: DataFrame, text_col: str, window: int = 3,
                        top_k: int = 200) -> DataFrame:
    """GloVe-style windowed term co-occurrence counts — the
    corpus-touching half of co-occurrence-factorization embedding
    training (GloVe / SVD-PPMI): for every token and every following
    token at distance ``d ≤ window``, accumulate a count and the
    distance-decayed weight GloVe uses (``1/d``), kept INTEGER via the
    LCM trick (``6/d ∈ {6, 3, 2}`` for window=3) so the output is
    exact bigint arithmetic, engine-portable like the money-cents ops.

    Output ``(w1, w2, n, w6)``: the top-``top_k`` ordered pairs by
    decayed weight (ties: n desc, then pair text), with ``w6`` =
    6 × Σ 1/d.

    Scale: the pair fan-out is a ZERO-shuffle nested-HOF flatten on
    the base scan (≤ window × n_tokens rows, no self-join on
    position); the (w1, w2) count is a map-side-combined groupBy, so
    the stop-word hot pairs ("the","of") are crushed by partial
    aggregation before the exchange; the top-k cut is
    TakeOrderedAndProject (per-partition k-row heaps, no global
    sort).  ``t`` is a materialized column attribute, so referencing
    it inside the nested lambdas is safe under the no-CSE rule.
    """
    from pyspark.sql import Window

    assert window == 3, "LCM weights are fixed for window=3"
    t = (df.where(F.trim(F.col(text_col)) != "")
         .select(tokens(F.lower(F.col(text_col))).alias("t"))
         .where(F.size("t") >= 2))
    pairs = t.select(F.explode(F.flatten(F.transform(
        F.sequence(F.lit(1), F.size("t") - 1),
        lambda i: F.transform(
            F.sequence(i + 1, F.least(i + window, F.size("t"))),
            lambda j: F.struct(
                F.col("t")[i - 1].alias("w1"),
                F.col("t")[j - 1].alias("w2"),
                # 6/d exact in double for d ∈ {1,2,3} → exact bigint
                (F.lit(6) / (j - i)).cast("bigint").alias("w")
            ))))).alias("p"))
    agg = pairs.groupBy(F.col("p.w1").alias("w1"),
                        F.col("p.w2").alias("w2")).agg(
        F.count("*").alias("n"),
        F.sum("p.w").cast("bigint").alias("w6"))
    top = agg.orderBy(F.col("w6").desc(), F.col("n").desc(),
                      "w1", "w2").limit(top_k)
    return top


def ngram_diversity(df: DataFrame, source_col: str, text_col: str,
                    n: int = 3) -> DataFrame:
    """Per-source n-gram diversity audit — the self-repetition /
    mode-collapse check run on synthetic or heavily-templated data
    before it enters a mix: a source whose distinct-trigram ratio
    collapses is stamping out near-identical text even when exact
    dedup finds nothing.

    Output per source: ``(source, n_grams, n_distinct, distinct_ratio)``
    with the ratio = one IEEE division, rounded to 6dp.

    Scale: gram fan-out is a zero-shuffle HOF flatten on the base
    scan (bind()-bound token array — the no-CSE rule); the
    (source, gram) count is map-side-combined, so hot boilerplate
    grams collapse before the exchange; the per-source rollup then
    runs over the vocabulary-sized relation, never the corpus.
    """
    grams = df.where(F.trim(F.col(text_col)) != "").select(
        F.col(source_col).alias("source"),
        F.explode(bind(
            tokens(F.lower(F.col(text_col))),
            lambda t: F.when(
                F.size(t) < n, F.array().cast("array<string>")
            ).otherwise(F.transform(
                F.sequence(F.lit(0), F.size(t) - n),
                lambda i: F.array_join(F.slice(t, i + 1, n), " "))))
        ).alias("g"))
    sg = grams.groupBy("source", "g").agg(F.count("*").alias("c"))
    return (sg.groupBy("source")
            .agg(F.sum("c").cast("bigint").alias("n_grams"),
                 F.count("*").alias("n_distinct"))
            .select("source", "n_grams", "n_distinct",
                    F.round(F.col("n_distinct") / F.col("n_grams"), 6)
                    .alias("distinct_ratio")))


def packing_stats(packs: DataFrame, token_col: str = "n_tokens",
                  capacity: int = 512) -> DataFrame:
    """Batch-prep efficiency report over :func:`pack_sequences`
    output — the numbers a training run reviews before committing a
    packing layout: concat-then-chop wastes ONLY each shard's last
    pack tail, but every chunk straddling a pack boundary is a
    document split across training sequences (attention-mask
    breakage), and that count is the real cost knob vs padded
    one-doc-per-sequence layouts.

    Per shard: ``(shard, n_chunks, n_tokens, n_packs, tail_fill,
    n_straddles)`` — all exact bigints (tail_fill = tokens in the
    final partial pack; n_straddles = chunks with
    ``pack_offset + tokens > capacity``).

    Scale: ONE map-side-combined groupBy over the packs relation
    (shards-sized output); composes onto pack_sequences' existing
    shard exchange without adding a corpus pass.
    """
    straddle = (F.col("pack_offset") + F.col(token_col)
                > F.lit(capacity)).cast("bigint")
    return (packs.groupBy("shard").agg(
        F.count("*").alias("n_chunks"),
        F.sum(token_col).cast("bigint").alias("n_tokens"),
        (F.max("pack_seq") + 1).alias("n_packs"),
        F.sum(straddle).alias("n_straddles"))
        .select("shard", "n_chunks", "n_tokens", "n_packs",
                (F.col("n_tokens")
                 - (F.col("n_packs") - 1) * capacity).alias("tail_fill"),
                "n_straddles"))
