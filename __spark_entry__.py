"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship extraction pipeline on sf0.001.
``queries()`` — one entry per implemented operator family
(SURVEY.md §2 + the training-data-pipeline operators).
``oracle_sql()`` — DuckDB-runnable ANSI-SQL twins. Extraction queries
over synthesized transcripts have no SQL twin (the TEI parse is not
SQL-expressible); their correctness gate is the pytest parity suite
against the reference extractor (tests/test_tei_parser.py,
tests/test_spark_extract.py).

Portability rules used throughout (Spark ↔ DuckDB value-hash match):
- money sums as exact integer cents, never float sums;
- ratios rounded to fixed decimals;
- ranks/sizes cast to bigint on the Spark side (DuckDB windows/counts
  return BIGINT);
- hashing via md5 (identical hex in both engines), 60-bit ints via
  hex-prefix cast.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, functions as F

from paperslicer_spark.functions.sections import (
    exact_map,
    methods_keywords,
    intro_keywords,
)
from paperslicer_spark.functions import text_stats as TS
from paperslicer_spark.operators import dedup as DD
from paperslicer_spark.operators import similarity as SIM
from paperslicer_spark.operators.assemble import assemble_documents
from paperslicer_spark.operators.extract import (
    parse_documents,
    parse_turns_fused,
    sections_long,
    media_long,
    references_long,
)
from paperslicer_spark.operators.spans import extract_turn_spans
from paperslicer_spark.operators import metrics as MX
from paperslicer_spark.sources.transcripts import transcripts_df


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the documents read of CPU-heavy per-row operators, widened above
    # the scan; filter/hash/sample queries read raw via _t (measured:
    # the exchange took x28 0.29 -> 0.52 s, sf0.1, local[4], min of 6)
    return TS.widen_undersplit(_t(spark, sf_dir, "documents"))


def _docs_as_transcripts(docs: DataFrame) -> DataFrame:
    """Wrap the driver ``documents`` table as 2-turn TEI transcripts so
    the extraction pipeline can run over driver-provided parquet."""
    header = F.format_string(
        "<teiHeader><fileDesc><titleStmt><title>Document %s</title></titleStmt>"
        "<sourceDesc><biblStruct><monogr><title>%s</title></monogr>"
        "<idno type=\"DOI\">10.7777/doc.%s</idno></biblStruct></sourceDesc>"
        "</fileDesc></teiHeader>",
        F.col("doc_id"), F.col("source"), F.col("doc_id"),
    )
    body = F.format_string(
        "<div><head>Results</head><p>%s</p></div>", F.col("text"))
    h = docs.select(
        F.format_string("doc%08d", F.col("doc_id")).alias("conv_id"),
        F.lit(0).alias("turn_idx"), F.lit("tool").alias("role"),
        header.alias("text"), F.lit("gen").alias("tool"),
        F.lit("2025-01-01 00:00:00").cast("timestamp").alias("ts"),
    )
    b = docs.select(
        F.format_string("doc%08d", F.col("doc_id")).alias("conv_id"),
        F.lit(1).alias("turn_idx"), F.lit("tool").alias("role"),
        body.alias("text"), F.lit("gen").alias("tool"),
        F.lit("2025-01-01 00:00:01").cast("timestamp").alias("ts"),
    )
    return h.unionByName(b)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction over sf0.001 documents wrapped as
    transcripts — fused no-payload-shuffle parse → long-form sections
    (row-identical to assemble → parse, pytest-enforced)."""
    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    turns = _docs_as_transcripts(docs)
    records = parse_turns_fused(turns)
    return sections_long(records).orderBy("conv_id", "section_label")


# ---------------------------------------------------------------------------
# synthetic transcripts for extraction queries (deterministic, no I/O)
# ---------------------------------------------------------------------------

_N_SYNTH = 24


def _synth_turns(spark: SparkSession) -> DataFrame:
    return transcripts_df(spark, _N_SYNTH, seed=42, skew_every=13,
                          skew_mult=4, partitions=8)


def _synth_records(spark: SparkSession) -> DataFrame:
    # fused flagship path; row-identical to parse_documents(
    # assemble_documents(...)) — tests/test_spark_extract.py parity
    return parse_turns_fused(_synth_turns(spark), partitions=8)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # ---- relational core over TPC-H-ish tables (A5/A1/K2/W4/J1...) ----
    def q01_pricing_summary(spark, sf):
        li = _t(spark, sf, "lineitem")
        return (
            li.groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum(F.round(F.col("l_quantity")).cast("bigint")).alias("sum_qty"),
                F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias("sum_base_cents"),
                F.sum(F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("bigint")).alias("sum_disc_cents"),
                F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
                F.count("*").alias("count_order"),
            )
        )
    q["q01_pricing_summary"] = q01_pricing_summary

    def q02_top_orders_per_customer(spark, sf):
        from pyspark.sql import Window
        o = _t(spark, sf, "orders")
        w = Window.partitionBy("o_custkey").orderBy(
            F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        return (
            o.withColumn("rank", F.row_number().over(w).cast("bigint"))
            .where(F.col("rank") <= 3)
            .select("o_custkey", "o_orderkey", "rank")
        )
    q["q02_top_orders_per_customer"] = q02_top_orders_per_customer

    def q03_first_wins_orders(spark, sf):
        from pyspark.sql import Window
        o = _t(spark, sf, "orders")
        w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        return (
            o.withColumn("rn", F.row_number().over(w))
            .where("rn = 1")
            .select("o_custkey", F.col("o_orderkey").alias("first_orderkey"))
        )
    q["q03_first_wins_orders"] = q03_first_wins_orders

    def q04_region_rollup(spark, sf):
        c = _t(spark, sf, "customer")
        n = _t(spark, sf, "nation")
        r = _t(spark, sf, "region")
        return (
            c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy("r_name")
            .agg(
                F.count("*").alias("n_customers"),
                F.sum(F.round(F.col("c_acctbal") * 100).cast("bigint")).alias("acctbal_cents"),
            )
        )
    q["q04_region_rollup"] = q04_region_rollup

    def q05_priority_concat(spark, sf):
        o = _t(spark, sf, "orders")
        pairs = F.collect_list(F.struct("o_orderdate", "o_orderkey", "o_orderpriority"))
        return (
            o.groupBy("o_custkey")
            .agg(
                F.array_join(
                    F.transform(F.array_sort(pairs), lambda s: s.getField("o_orderpriority")),
                    "+",
                ).alias("priority_seq")
            )
        )
    q["q05_priority_concat"] = q05_priority_concat

    def q06_exact_dup_docs(spark, sf):
        return DD.exact_dup_groups(_t(spark, sf, "documents"), "doc_id", "text")
    q["q06_exact_dup_docs"] = q06_exact_dup_docs

    def q07_text_stats(spark, sf):
        d = _t(spark, sf, "documents")
        return d.select(
            "doc_id",
            TS.word_count(F.col("text")).cast("bigint").alias("words"),
            TS.char_count(F.col("text")).cast("bigint").alias("chars"),
            F.round(TS.avg_token_len(F.col("text")), 4).alias("avg_token_len"),
            TS.fingerprint(F.col("text")).alias("fp"),
        )
    q["q07_text_stats"] = q07_text_stats

    def q08_quality(spark, sf):
        d = _t(spark, sf, "documents")
        return d.select(
            "doc_id",
            F.round(TS.noise_ratio(F.col("text")), 6).alias("noise"),
            F.round(TS.stopword_ratio(F.col("text")), 6).alias("stopword_ratio"),
            TS.quality_score(F.col("text")).alias("quality"),
            TS.lang_guess(F.col("text")).alias("lang_guess"),
        )
    q["q08_quality"] = q08_quality

    def q09_lang_rates(spark, sf):
        d = _t(spark, sf, "documents")
        return (
            d.select(TS.lang_guess(F.col("text")).alias("lang_guess"))
            .groupBy("lang_guess").agg(F.count("*").alias("n"))
        )
    q["q09_lang_rates"] = q09_lang_rates

    def q10_minhash(spark, sf):
        return DD.minhash_signatures(_corpus(spark, sf),
                                     "doc_id", "text", n=3, num_hashes=4)
    q["q10_minhash"] = q10_minhash

    def q11_jaccard_pairs(spark, sf):
        # max_doc_freq=50: the frequent-shingle skew cap (stop shingles
        # in >10% of this corpus are dropped from intersections AND set
        # sizes) — same cap expressed in the oracle SQL
        return DD.ngram_jaccard_pairs(_corpus(spark, sf),
                                      "doc_id", "text", n=3, threshold=0.2,
                                      max_doc_freq=50)
    q["q11_jaccard_pairs"] = q11_jaccard_pairs

    def q12_embedding_topk(spark, sf):
        e = _t(spark, sf, "embeddings")
        res = SIM.brute_force_topk(e, e.where("vec_id < 8"), k=5)
        return res.select("query_id", "neighbor_id",
                          F.col("rank").cast("bigint").alias("rank"))
    q["q12_embedding_topk"] = q12_embedding_topk

    def q13_lsh_buckets(spark, sf):
        e = _t(spark, sf, "embeddings")
        return (
            e.select(SIM.sign_lsh_bucket(F.col("embedding"), 8).alias("bucket"))
            .groupBy("bucket").agg(F.count("*").alias("n"))
        )
    q["q13_lsh_buckets"] = q13_lsh_buckets

    def q14_event_type_counts(spark, sf):
        return (
            _t(spark, sf, "events").groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("value_cents"))
        )
    q["q14_event_type_counts"] = q14_event_type_counts

    def q15_events_hourly(spark, sf):
        ev = _t(spark, sf, "events")
        return (
            ev.groupBy(F.date_format(F.date_trunc("hour", F.col("ts")),
                                     "yyyy-MM-dd HH:00:00").alias("hour"))
            .agg(F.count("*").alias("n"))
        )
    q["q15_events_hourly"] = q15_events_hourly

    def q16_sessionize(spark, sf):
        from pyspark.sql import Window
        ev = _t(spark, sf, "events")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
        new_s = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
        return (
            ev.withColumn("new_s", new_s)
            .groupBy("user_id")
            .agg(F.sum("new_s").cast("bigint").alias("n_sessions"),
                 F.count("*").alias("n_events"))
        )
    q["q16_sessionize"] = q16_sessionize

    def q17_unordered_parts(spark, sf):
        p = _t(spark, sf, "part")
        li = _t(spark, sf, "lineitem")
        return (
            p.join(li, p.p_partkey == li.l_partkey, "left_anti")
            .agg(F.count("*").alias("n_unordered_parts"))
        )
    q["q17_unordered_parts"] = q17_unordered_parts

    def q18_segment_top_customers(spark, sf):
        from pyspark.sql import Window
        c = _t(spark, sf, "customer")
        w = Window.partitionBy("c_mktsegment").orderBy(
            F.col("c_acctbal").desc(), F.col("c_custkey").asc())
        return (
            c.withColumn("rank", F.row_number().over(w).cast("bigint"))
            .where("rank <= 5")
            .select("c_mktsegment", "c_custkey", "rank",
                    F.round(F.col("c_acctbal") * 100).cast("bigint").alias("acctbal_cents"))
        )
    q["q18_segment_top_customers"] = q18_segment_top_customers

    def q19_canonical_headings(spark, sf):
        import pandas as pd
        from paperslicer_spark.functions.sections import canonical_headings
        df = spark.createDataFrame(
            pd.DataFrame({"head": _heading_probes()}))
        return canonical_headings(spark, df, "head").select("head", "key")
    q["q19_canonical_headings"] = q19_canonical_headings

    def q20_doc_gates(spark, sf):
        d = _t(spark, sf, "documents")
        return d.agg(
            F.count("*").alias("total_docs"),
            F.round(F.avg(F.when(F.col("n_chars") >= 30, 1.0).otherwise(0.0)), 6)
            .alias("long_rate"),
            F.round(F.avg(TS.word_count(F.col("text"))), 4).alias("avg_words"),
            F.round(F.avg(TS.noise_ratio(F.col("text"))), 6).alias("avg_noise"),
        )
    q["q20_doc_gates"] = q20_doc_gates

    def q21_source_doc_stats(spark, sf):
        d = _t(spark, sf, "documents")
        return (
            d.groupBy("source", "lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").alias("total_chars"),
                 F.min("doc_id").alias("first_doc"))
        )
    q["q21_source_doc_stats"] = q21_source_doc_stats

    # ---- extraction family (rows-only: not SQL-expressible) -----------
    def x01_extract_sections(spark, sf):
        return sections_long(_synth_records(spark)).orderBy(
            "conv_id", "section_label")
    q["x01_extract_sections"] = x01_extract_sections

    def x02_extract_media(spark, sf):
        return media_long(_synth_records(spark)).orderBy("conv_id", "kind", "pos")
    q["x02_extract_media"] = x02_extract_media

    def x03_extract_references(spark, sf):
        # authors is array<string>; the driver canonicalizer sorts rows
        # with pandas (lists are unhashable) — flatten to a scalar here
        refs = references_long(_synth_records(spark))
        return refs.withColumn(
            "authors", F.array_join(F.col("authors"), "|")
        ).orderBy("conv_id", "ref_index")
    q["x03_extract_references"] = x03_extract_references

    def x04_extract_meta(spark, sf):
        return (
            _synth_records(spark)
            .select("conv_id", "title", "journal", "doi",
                    F.size("authors").cast("bigint").alias("n_authors"),
                    F.size("keywords").cast("bigint").alias("n_keywords"))
            .orderBy("conv_id")
        )
    q["x04_extract_meta"] = x04_extract_meta

    def x05_turn_spans(spark, sf):
        return extract_turn_spans(_synth_turns(spark)).orderBy(
            "conv_id", "turn_idx", "unit_idx")
    q["x05_turn_spans"] = x05_turn_spans

    def x06_corpus_quality(spark, sf):
        out = MX.corpus_quality(_synth_records(spark))
        for c in ["title_rate", "doi_or_journal_rate", "abstract_rate",
                  "sections_ge3_rate", "sections_ge4_rate",
                  "sections_ge5_rate", "media_rate", "avg_noise_ratio"]:
            out = out.withColumn(c, F.round(c, 6))
        return out
    q["x06_corpus_quality"] = x06_corpus_quality

    def x07_validation_scores(spark, sf):
        return MX.validation_scores(_synth_records(spark)).orderBy("conv_id")
    q["x07_validation_scores"] = x07_validation_scores

    def x08_simhash(spark, sf):
        return DD.simhash(_corpus(spark, sf), "doc_id", "text")
    q["x08_simhash"] = x08_simhash

    def x09_minhash_lsh_pairs(spark, sf):
        return DD.minhash_lsh_pairs(_corpus(spark, sf),
                                    "doc_id", "text", n=3,
                                    num_hashes=12, bands=4)
    q["x09_minhash_lsh_pairs"] = x09_minhash_lsh_pairs

    def x10_head_frequencies(spark, sf):
        return MX.head_frequencies(_synth_records(spark))
    q["x10_head_frequencies"] = x10_head_frequencies

    def x11_multimodal_features(spark, sf):
        from paperslicer_spark.operators.multimodal import (
            synth_assets, extract_features)
        feats = extract_features(synth_assets(spark, 64, seed=42))
        # features is array<float> — stringify so every output column is
        # scalar for the driver's pandas-based canonicalizer
        return feats.withColumn(
            "features",
            F.array_join(
                F.transform("features",
                            lambda x: F.format_string("%.6f", x)), ","),
        ).orderBy("asset_id")
    q["x11_multimodal_features"] = x11_multimodal_features

    def x12_rolling_fingerprint(spark, sf):
        d = _t(spark, sf, "documents")
        return d.select("doc_id",
                        TS.rolling_fingerprint(F.col("text")).alias("rfp"))
    q["x12_rolling_fingerprint"] = x12_rolling_fingerprint

    def x13_token_bpe(spark, sf):
        # Java-regex lookarounds (camelCase splits) are not RE2-portable;
        # the DuckDB twin counts equivalently as nonempty-alnum-runs +
        # camel boundaries ([a-z][A-Z] matches can never overlap)
        d = _t(spark, sf, "documents")
        return d.select("doc_id",
                        TS.token_count_bpe(F.col("text")).cast("bigint")
                        .alias("bpe_tokens"))
    q["x13_token_bpe"] = x13_token_bpe

    def x14_streaming_rates(spark, sf):
        # batch-mode execution of the streaming rollup expressions
        from paperslicer_spark.streaming.stream_extract import (
            streaming_turn_rates)
        return streaming_turn_rates(_synth_turns(spark)).orderBy(
            "window_start", "role")
    q["x14_streaming_rates"] = x14_streaming_rates

    def x15_ivf_topk(spark, sf):
        # IVF ANN against the FROZEN coarse quantizer
        # (fixtures/ivf_centroids.parquet, trained once by
        # freeze_fixtures.py --ivf): assignment + probing + top-k are
        # deterministic relational ops DuckDB replays exactly — the
        # production shape too (the model is never trained inside the
        # query plan). Live training stays in similarity.ivf_topk,
        # recall-tested in tests/test_operators_misc.py.
        from paperslicer_spark.operators.similarity import ivf_topk_frozen
        e = _t(spark, sf, "embeddings")
        cents = spark.read.parquet(os.path.join(_FIX, "ivf_centroids.parquet"))
        res = ivf_topk_frozen(e, e.where("vec_id < 8"), cents,
                              k=5, n_probe=4)
        return res.select("query_id", "neighbor_id",
                          F.col("rank").cast("bigint").alias("rank"),
                          "cos")
    q["x15_ivf_topk"] = x15_ivf_topk

    def x16_sections_direct(spark, sf):
        # the parity reference (salted agg assembly → record parse) under
        # an oracle; x22 is the same rows from the fused sections path
        docs = assemble_documents(_synth_turns(spark), skew_threshold=20)
        return sections_long(parse_documents(docs)) \
            .orderBy("conv_id", "section_label")
    q["x16_sections_direct"] = x16_sections_direct

    def x17_truth_validation(spark, sf):
        # ground-truth validation join: live extracted records ⋈ frozen
        # truth maps (fixtures/truth.parquet), reference scoring weights
        from paperslicer_spark.operators.validate import validate_against_truth
        truth = spark.read.parquet(os.path.join(_FIX, "truth.parquet"))
        return validate_against_truth(_synth_records(spark), truth) \
            .orderBy("conv_id")
    q["x17_truth_validation"] = x17_truth_validation

    def x20_cosine_dup_pairs(spark, sf):
        # exact embedding near-dup pairs (the q11 analog for vectors)
        return SIM.cosine_dup_pairs(_t(spark, sf, "embeddings"),
                                    threshold=0.4)
    q["x20_cosine_dup_pairs"] = x20_cosine_dup_pairs

    def x21_cosine_dup_pairs_lsh(spark, sf):
        # scale path: sign-LSH bucket blocking (equi-join, recall < 1)
        return SIM.cosine_dup_pairs(_t(spark, sf, "embeddings"),
                                    threshold=0.4, bits=8)
    q["x21_cosine_dup_pairs_lsh"] = x21_cosine_dup_pairs_lsh

    def x22_sections_fused(spark, sf):
        # minimal-bytes sections path (assembly+parse+explode in-UDF)
        from paperslicer_spark.operators.extract import extract_sections_fused
        return extract_sections_fused(_synth_turns(spark), partitions=8) \
            .orderBy("conv_id", "section_label")
    q["x22_sections_fused"] = x22_sections_fused

    def x23_langid_ngram(spark, sf):
        # character-n-gram language ID (argmax over signature-gram
        # evidence; JVM-side length-delta counting, no explode)
        d = _t(spark, sf, "documents")
        scores = TS.lang_ngram_scores(F.col("text"))
        return d.select(
            "doc_id",
            TS.lang_guess_ngram(F.col("text")).alias("lang_pred"),
            *[F.round(scores[k], 6).alias(f"s_{k}") for k in sorted(scores)])
    q["x23_langid_ngram"] = x23_langid_ngram

    def x24_per_doc_metrics(spark, sf):
        # the reference's corpus_quality.csv per-document row shape
        return MX.per_document_metrics(_synth_records(spark)).orderBy("file")
    q["x24_per_doc_metrics"] = x24_per_doc_metrics

    def x18_mapping_suggestions(spark, sf):
        return MX.mapping_suggestions(_synth_records(spark))
    q["x18_mapping_suggestions"] = x18_mapping_suggestions

    def x25_suggestions_loop(spark, sf):
        # closed mapping-improvement loop: accepted x18 suggestions are
        # folded back into the broadcast mapping dimension and the
        # unmapped rate drops (reference README.md:614's 39%→61% flow)
        from paperslicer_spark.operators.extract import sections_long
        from paperslicer_spark.operators.metrics import (
            apply_mapping_suggestions, unmapped_rate)
        records = _synth_records(spark)
        sections = sections_long(records)
        accepted = MX.mapping_suggestions(records)
        before = unmapped_rate(sections)
        after = unmapped_rate(apply_mapping_suggestions(sections, accepted))
        return before.select(
            "n_sections",
            F.col("n_unmapped").alias("unmapped_before"),
            F.col("unmapped_rate").alias("rate_before"),
        ).crossJoin(after.select(
            F.col("n_unmapped").alias("unmapped_after"),
            F.col("unmapped_rate").alias("rate_after"),
        ))
    q["x25_suggestions_loop"] = x25_suggestions_loop

    def x19_pixel_filters(spark, sf):
        # pixel-content media filter over the fake-codec assets:
        # (kept vs dropped) content stats, deterministic corpus
        from paperslicer_spark.operators.multimodal import (
            content_stats, filter_blank_lowink, synth_assets)
        assets = synth_assets(spark, 64, seed=42)
        kept = filter_blank_lowink(assets).select("asset_id") \
            .withColumn("kept", F.lit(True))
        return (
            content_stats(assets)
            .join(kept, "asset_id", "left")
            .select("asset_id", "kind", "width", "height",
                    F.round("px_std", 4).alias("px_std"),
                    F.round("ink_fraction", 6).alias("ink_fraction"),
                    F.coalesce(F.col("kept"), F.lit(False)).alias("kept"))
            .orderBy("asset_id")
        )
    q["x19_pixel_filters"] = x19_pixel_filters

    def x26_dup_clusters(spark, sf):
        # near-dup clustering: LSH candidate pairs → connected
        # components (min-label propagation) → per-doc cluster id +
        # keep-representative flag
        return DD.dup_clusters(_corpus(spark, sf),
                               "doc_id", "text", n=3,
                               num_hashes=12, bands=4)
    q["x26_dup_clusters"] = x26_dup_clusters

    def x27_gopher_quality(spark, sf):
        from paperslicer_spark.operators.curation import gopher_quality
        return gopher_quality(_corpus(spark, sf),
                              "doc_id", "text")
    q["x27_gopher_quality"] = x27_gopher_quality

    def x28_stratified_sample(spark, sf):
        from paperslicer_spark.operators.curation import stratified_sample
        docs = _t(spark, sf, "documents")
        return stratified_sample(
            docs, "doc_id", "lang",
            rates={"en": 0.5, "de": 0.25, "fr": 0.25, "es": 0.25},
            default_rate=0.1,
        ).select("doc_id", "lang", "bucket")
    q["x28_stratified_sample"] = x28_stratified_sample

    def x29_curated_keep(spark, sf):
        # end-to-end curation: quality pass ∧ dup-cluster
        # representative ∧ stratified sample (x27 ∧ x26 ∧ x28 fused).
        # Raw read: Spark pushes the Gopher keep filter through a
        # round-robin exchange onto the scan, so _corpus's exchange
        # would only reshuffle the output rows above the anti join.
        from paperslicer_spark.operators.curation import curated_keep
        return curated_keep(
            _t(spark, sf, "documents"), "doc_id", "text", "lang",
            rates={"en": 0.5, "de": 0.25, "fr": 0.25, "es": 0.25},
            default_rate=0.1,
        ).select("doc_id", "lang", "bucket")
    q["x29_curated_keep"] = x29_curated_keep

    def _scaled_clips(spark, sf, divisor: int, cap: int) -> int:
        # sf-proportional synthetic-clip count (round-4 VERDICT item
        # #5: fixed 24/32-clip corpora were fixture-grade evidence).
        # Derived from the documents row count — the ONE scale signal
        # both engines can see (the oracle mirrors it with a scalar
        # subquery); parquet metadata makes the count ~free. Clip
        # stats are seeded per asset_id, so every corpus is a prefix
        # of the cap-sized one and a single frozen fixture serves all
        # scale factors via `asset_id < n_clips`. Empty sf = fixture
        # build → the full cap-sized corpus.
        if not sf:
            return cap
        n_docs = _t(spark, sf, "documents").count()
        return min(max(8, n_docs // divisor), cap)

    def x30_frame_sample(spark, sf):
        # video frame sampling: fake-container clips → ≤4 uniformly-
        # spaced frames each (REAL PNG payloads out) → per-frame
        # pixel stats; sf-scaled corpus, prefix-stable frozen oracle
        from paperslicer_spark.operators.multimodal import (
            frame_sample, frame_stats, synth_videos)
        vids = synth_videos(spark, _scaled_clips(spark, sf, 20, 400),
                            seed=42)
        return frame_stats(frame_sample(vids, n_samples=4))
    q["x30_frame_sample"] = x30_frame_sample

    def x31_audio_features(spark, sf):
        # audio feature extraction over fake-PCM clips: duration, RMS,
        # zero-crossing rate, peak (integer-arithmetic determinism)
        from paperslicer_spark.operators.multimodal import (
            audio_features, synth_audio)
        return audio_features(synth_audio(
            spark, _scaled_clips(spark, sf, 16, 500), seed=42))
    q["x31_audio_features"] = x31_audio_features

    def x32_simhash_pairs(spark, sf):
        # SimHash Hamming-LSH near-dup pairs (guaranteed recall at
        # Hamming <= 3 with 4 x 16-bit bands by pigeonhole)
        return DD.simhash_lsh_pairs(_corpus(spark, sf),
                                    "doc_id", "text", max_hamming=3)
    q["x32_simhash_pairs"] = x32_simhash_pairs

    def x33_chunk_documents(spark, sf):
        # context-window chunking: 32-token windows, 8-token overlap
        from paperslicer_spark.operators.curation import chunk_documents
        return chunk_documents(_corpus(spark, sf),
                               "doc_id", "text",
                               chunk_tokens=32, overlap=8)
    q["x33_chunk_documents"] = x33_chunk_documents

    def x34_html_strip(spark, sf):
        # HTML boilerplate strip (north-rule surface): deterministic
        # synthetic page wrap → regex-tier main-content extraction;
        # the oracle runs the identical RE2-safe chain in DuckDB
        from paperslicer_spark.functions.html import html_title, strip_html
        docs = _t(spark, sf, "documents")
        html = F.concat(
            F.lit("<html><head><title>Doc "),
            F.col("doc_id").cast("string"),
            F.lit("</title><style>body { color: #333 }</style></head>"
                  "<body><nav><a href='/'>home</a> | "
                  "<a href='/about'>about</a></nav>"
                  "<!-- synthetic page --><p>"),
            F.col("text"),
            F.lit("</p><script>var t = 1 &amp;&amp; 2;</script>"
                  "<footer>&copy; corp &nbsp;</footer></body></html>"))
        return docs.select(
            "doc_id",
            html_title(html).alias("title"),
            strip_html(html).alias("main_text"),
        ).withColumn("n_chars", F.length("main_text").cast("bigint"))
    q["x34_html_strip"] = x34_html_strip

    def x35_pack_sequences(spark, sf):
        # sharded greedy sequence packing over the x33 chunks
        from paperslicer_spark.operators.curation import (
            chunk_documents, pack_sequences)
        chunks = chunk_documents(_corpus(spark, sf),
                                 "doc_id", "text",
                                 chunk_tokens=32, overlap=8)
        return pack_sequences(chunks, capacity=512, n_shards=16) \
            .drop("n_tokens")
    q["x35_pack_sequences"] = x35_pack_sequences

    def x36_quantize_embeddings(spark, sf):
        # int8 scalar quantization + dequantized-cosine fidelity.
        # qvec goes out as a canonical CSV string: the driver's
        # canonicalizer pandas-sorts every column and array cells
        # raise `unhashable type: 'list'` (the x03/x11 round-1
        # precedent; x36 was the round-4 red row for exactly this).
        return SIM.quantize_embeddings(_t(spark, sf, "embeddings")) \
            .withColumn("qvec", F.array_join(F.col("qvec").cast(
                "array<string>"), ","))
    q["x36_quantize_embeddings"] = x36_quantize_embeddings

    def x37_source_token_stats(spark, sf):
        # per-source corpus shape: exact token-count percentiles +
        # mean (the mix-auditing rollup a curation run reports).
        # Sort-window rank form, NOT F.percentile: the latter buffers
        # every group value in one aggregator (round-3 VERDICT 100 TB
        # concern); exact_percentiles spills through ExternalSorter.
        docs = _t(spark, sf, "documents")
        wc = TS.word_count(F.col("text"))
        return MX.exact_percentiles(
            docs, "source", wc,
            {"p50": 0.5, "p90": 0.9, "p99": 0.99},
            extra_aggs=[F.count("*").alias("n_docs"),
                        F.round(F.avg("_v"), 6).alias("mean_tokens")],
        ).select("source", "n_docs", "p50", "p90", "p99", "mean_tokens")
    q["x37_source_token_stats"] = x37_source_token_stats

    def x38_distinctive_terms(spark, sf):
        # integer-only tf-idf cousin: top-3 terms per doc by
        # (tf desc, corpus df asc, term asc)
        from paperslicer_spark.operators.curation import distinctive_terms
        return distinctive_terms(_corpus(spark, sf),
                                 "doc_id", "text", k=3, min_len=4)
    q["x38_distinctive_terms"] = x38_distinctive_terms

    def x39_decontaminate(spark, sf):
        # train/benchmark n-gram overlap scan (GPT-3 appendix-C shape):
        # held-out set = every 20th doc; pairs sharing any distinct
        # 4-gram hash. At scale the bench side broadcast-joins.
        docs = _t(spark, sf, "documents")
        return DD.decontaminate(
            docs.where(F.col("doc_id") % 20 != 0),
            docs.where(F.col("doc_id") % 20 == 0),
            "doc_id", "text", n=4, min_shared=1)
    q["x39_decontaminate"] = x39_decontaminate

    def x40_paragraph_dedup(spark, sf):
        # corpus-wide exact paragraph dedup (RefinedWeb recipe) over
        # deterministically synthesized paragraphs (8-token windows
        # joined with blank lines — the x34 synthesize-then-operate
        # pattern; the driver corpus has no real paragraph breaks)
        from paperslicer_spark.operators.curation import paragraph_dedup
        docs = _corpus(spark, sf).where(F.trim("text") != "")
        paras = TS.bind(
            F.split(F.trim(F.col("text")), r"\s+"),
            lambda t: F.transform(
                F.sequence(F.lit(0), F.size(t) - 1, F.lit(8)),
                lambda s: F.array_join(F.slice(t, s + 1, 8), " ")))
        withp = docs.select(
            "doc_id", F.array_join(paras, "\n\n").alias("text"))
        return paragraph_dedup(withp, "doc_id", "text")
    q["x40_paragraph_dedup"] = x40_paragraph_dedup

    def x41_redact_pii(spark, sf):
        # PII scrub (emails/IPv4/phones/long digit runs) over text with
        # deterministically synthesized PII — the x34 pattern; both
        # engines run the IDENTICAL RE2-safe chain from PII_PATTERNS
        from paperslicer_spark.functions.pii import redact_pii
        docs = _t(spark, sf, "documents")
        seeded = docs.select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.lit(" contact user"), F.col("doc_id").cast("string"),
                F.lit("@example.com or +1-555-867-"),
                F.lpad(F.pmod(F.col("doc_id"), 10000).cast("string"),
                       4, "0"),
                F.lit(" from 10.0."),
                F.pmod(F.col("doc_id"), 256).cast("string"),
                F.lit(".7 acct "),
                F.lpad(F.col("doc_id").cast("string"), 11, "9"),
            ).alias("text"))
        return redact_pii(seeded, "doc_id", "text")
    q["x41_redact_pii"] = x41_redact_pii

    def x42_exact_k_sample(spark, sf):
        # exact-k deterministic per-stratum sample (k=15 per source,
        # so the cap binds at sf0.01's 25 docs/source):
        # WindowGroupLimit keeps executor-local top-k before the
        # exchange; nested-prefix sample_rank carried for audits
        from paperslicer_spark.operators.curation import exact_k_sample
        docs = _t(spark, sf, "documents")
        return exact_k_sample(docs, "doc_id", "source", k=15) \
            .select("doc_id", "source", "sample_rank")
    q["x42_exact_k_sample"] = x42_exact_k_sample

    def x43_asof_join(spark, sf):
        # grouped as-of join (the brief's canonical custom operator):
        # each click gets its user's most recent view at-or-before it.
        # Union + per-key window carry — ONE shuffle, no theta-join.
        from paperslicer_spark.operators.temporal import asof_join
        ev = _t(spark, sf, "events")
        clicks = ev.where(F.col("event_type") == "click").select(
            "event_id", "user_id", "ts", "value")
        views = ev.where(F.col("event_type") == "view").select(
            "user_id", "ts",
            F.col("event_id").alias("view_id"),
            F.col("value").alias("view_value"))
        j = asof_join(clicks, views, on="user_id", ts_col="ts")
        return j.select(
            "event_id", "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            "value",
            F.unix_micros(F.col("ts_right").cast("timestamp"))
            .alias("view_ts_us"),
            F.col("view_id_right").alias("view_id"),
            F.col("view_value_right").alias("view_value"),
        )
    q["x43_asof_join"] = x43_asof_join

    def x44_range_join(spark, sf):
        # bucketized interval join: errors within 4h AFTER a click,
        # per user — equi-join on (user, time-bucket) with the right
        # side duplicated into its two candidate buckets; never a
        # per-key cross product
        from paperslicer_spark.operators.temporal import range_join
        ev = _t(spark, sf, "events")
        clicks = ev.where(F.col("event_type") == "click").select(
            "event_id", "user_id", "ts")
        errors = ev.where(F.col("event_type") == "error").select(
            "user_id", "ts",
            F.col("event_id").alias("err_id"),
            F.col("value").alias("err_value"))
        j = range_join(clicks, errors, on="user_id", ts_col="ts",
                       lower=0.0, upper=14400.0)
        return j.select(
            "event_id", "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            F.unix_micros(F.col("ts_right").cast("timestamp"))
            .alias("err_ts_us"),
            F.col("err_id_right").alias("err_id"),
            F.col("err_value_right").alias("err_value"),
        )
    q["x44_range_join"] = x44_range_join

    def x45_sliding_rates(spark, sf):
        # sliding-window rates: 4h windows sliding by 1h (Spark's
        # native F.window slide path — each event lands in 4 windows
        # map-side, then one partial-agg groupBy). Oracle mirrors the
        # window-replication semantics with an UNNEST over the 4
        # window starts. Epoch seconds for portability.
        ev = _t(spark, sf, "events")
        w = F.window(F.col("ts").cast("timestamp"), "4 hours", "1 hour")
        return (
            ev.groupBy(w.alias("w"), F.col("event_type"))
            .agg(F.count("*").alias("n"),
                 F.sum(F.round(F.col("value") * 100).cast("bigint"))
                 .alias("sum_value_cents"))
            .select(
                F.unix_timestamp(F.col("w.start")).alias("win_start"),
                "event_type", "n", "sum_value_cents")
        )
    q["x45_sliding_rates"] = x45_sliding_rates

    def x46_token_budget_cut(spark, sf):
        # training-set assembly: docs in seeded-hash order until the
        # global running token total hits the budget — distributed
        # two-phase prefix sum (range buckets on the hash's top bits,
        # tiny per-bucket offset relation broadcast back)
        from paperslicer_spark.operators.curation import token_budget_cut
        docs = _t(spark, sf, "documents")
        return token_budget_cut(
            docs, "doc_id", TS.word_count(F.col("text")), budget=5000
        ).select("doc_id", "cum_tokens")
    q["x46_token_budget_cut"] = x46_token_budget_cut

    def x47_rollup_acctbal(spark, sf):
        # hierarchical ROLLUP(region, nation) in ONE aggregation pass
        # (grouping sets share the partial aggregates; the naive
        # union-of-groupBys scans and shuffles once per level).
        # grouping_id disambiguates subtotal rows from NULL data.
        c = _t(spark, sf, "customer")
        n = _t(spark, sf, "nation")
        r = _t(spark, sf, "region")
        return (
            c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .rollup("r_name", "n_name")
            .agg(F.count("*").alias("n_customers"),
                 F.sum(F.round(F.col("c_acctbal") * 100).cast("bigint"))
                 .alias("acctbal_cents"),
                 F.grouping_id().cast("bigint").alias("gid"))
        )
    q["x47_rollup_acctbal"] = x47_rollup_acctbal

    def x48_temperature_mix(spark, sf):
        # mT5-style alpha-temperature mixture over (source) strata:
        # data-derived per-stratum rates + seeded-hash keep rule
        from paperslicer_spark.operators.curation import temperature_mix
        docs = _t(spark, sf, "documents")
        return temperature_mix(docs, "doc_id", "source", alpha=0.5,
                               target_rows=200) \
            .select("doc_id", "source", "mix_rate_bucket")
    q["x48_temperature_mix"] = x48_temperature_mix

    def x49_clean_unicode(spark, sf):
        # ftfy-lite unicode hygiene over deterministically injected
        # mojibake/controls (the x34/x41 synthesize-then-operate
        # pattern); both engines share MOJIBAKE_FIXES + the two
        # character-class patterns verbatim
        from paperslicer_spark.functions.pii import (MOJIBAKE_FIXES,
                                                     clean_unicode)
        docs = _t(spark, sf, "documents")
        inject = (" caf" + MOJIBAKE_FIXES[0][0] + "\u00a0plus"
                  + "\u200b" + MOJIBAKE_FIXES[5][0] + "s\u0001end")
        seeded = docs.select(
            "doc_id", F.concat(F.col("text"), F.lit(inject)).alias("text"))
        return clean_unicode(seeded, "doc_id", "text")
    q["x49_clean_unicode"] = x49_clean_unicode

    def x50_event_pivot(spark, sf):
        # pivot (long -> wide): per-user event-type counts + spend.
        # Explicit pivot values keep the plan a single pass (no extra
        # distinct-values job) and the output schema static — the only
        # pivot form that is sane at 10^12 rows.
        ev = _t(spark, sf, "events")
        kinds = ["click", "view", "purchase", "signup", "error"]
        return (
            ev.groupBy("user_id")
            .pivot("event_type", kinds)
            .agg(F.count(F.lit(1)))
            .select("user_id",
                    *[F.coalesce(F.col(k), F.lit(0)).cast("bigint")
                      .alias(f"n_{k}") for k in kinds])
        )
    q["x50_event_pivot"] = x50_event_pivot

    def x51_winsorize(spark, sf):
        # winsorization: clip event values to the GLOBAL exact
        # [p05, p95] — computed by the spillable exact_percentiles
        # (x37's operator, reused with a constant group) and broadcast
        # back; one corpus pass + a 1-row join
        ev = _t(spark, sf, "events").withColumn("_g", F.lit(1))
        pct = MX.exact_percentiles(
            ev, "_g", F.col("value"), {"p05": 0.05, "p95": 0.95})
        return (
            ev.join(F.broadcast(pct), "_g")
            .select(
                "event_id", "value",
                F.round(F.least(F.greatest(F.col("value"), F.col("p05")),
                                F.col("p95")), 6).alias("clipped"),
                (F.col("value") < F.col("p05")).alias("was_low"),
                (F.col("value") > F.col("p95")).alias("was_high"),
            )
        )
    q["x51_winsorize"] = x51_winsorize

    def _synth_lines(idx_mod7_inject: bool = True):
        # deterministic multi-line text from the single-line corpus
        # (the x34/x40 synthesize-then-operate pattern): 6-token lines;
        # line (doc_id+idx)%3!=0 gets terminal '.', line
        # (doc_id+idx)%7==0 gets a banned token appended
        def line(t, s):
            idx = (s / 6).cast("bigint")
            body = F.array_join(F.slice(t, s + 1, 6), " ")
            inj = F.when((F.col("doc_id") + idx) % 7 == 0,
                         F.lit(" javascript")).otherwise(F.lit("")) \
                if idx_mod7_inject else F.lit("")
            punct = F.when((F.col("doc_id") + idx) % 3 != 0,
                           F.lit(".")).otherwise(F.lit(""))
            return F.concat(body, inj, punct)

        return TS.bind(
            F.split(F.trim(F.col("text")), r"\s+"),
            lambda t: F.transform(
                F.sequence(F.lit(0), F.size(t) - 1, F.lit(6)),
                lambda s: line(t, s)))

    def x52_c4_line_filter(spark, sf):
        # C4-style line-level cleaning (min words ∧ terminal punct ∧
        # no banned phrase) + doc rebuild, over synthesized lines
        from paperslicer_spark.operators.curation import c4_line_filter
        docs = _corpus(spark, sf).where(F.trim("text") != "")
        withl = docs.select(
            "doc_id", F.array_join(_synth_lines(), "\n").alias("text"))
        return c4_line_filter(withl, "doc_id", "text", min_words=3)
    q["x52_c4_line_filter"] = x52_c4_line_filter

    def x53_unigram_logprob(spark, sf):
        # per-doc mean unigram log10-prob + OOV rate under the
        # corpus's own add-one top-20 unigram LM (KenLM-filter
        # stand-in); count pass → broadcast model → scoring pass
        from paperslicer_spark.operators.curation import unigram_logprob
        return unigram_logprob(_corpus(spark, sf),
                               "doc_id", "text", vocab_size=20)
    q["x53_unigram_logprob"] = x53_unigram_logprob

    def x54_repetition_stats(spark, sf):
        # the remaining Gopher repetition rules: dup-line fraction
        # (count + chars) over synthesized 5-token lines, top-3/4-gram
        # occupancy over the raw tokens — all zero-shuffle
        from paperslicer_spark.operators.curation import repetition_stats
        docs = _corpus(spark, sf).where(F.trim("text") != "")
        fives = TS.bind(
            F.split(F.trim(F.col("text")), r"\s+"),
            lambda t: F.transform(
                F.sequence(F.lit(0), F.size(t) - 1, F.lit(5)),
                lambda s: F.array_join(F.slice(t, s + 1, 5), " ")))
        withl = docs.select(
            "doc_id", F.array_join(fives, "\n").alias("text"))
        return repetition_stats(withl, "doc_id", "text")
    q["x54_repetition_stats"] = x54_repetition_stats

    def x55_semdedup(spark, sf):
        # SemDeDup: frozen-quantizer clusters → within-cluster
        # cosine-0.4 groups → min-id representative per group
        from paperslicer_spark.operators.similarity import semdedup
        e = _t(spark, sf, "embeddings")
        cents = spark.read.parquet(
            os.path.join(_FIX, "ivf_centroids.parquet"))
        return semdedup(e, cents, threshold=0.4)
    q["x55_semdedup"] = x55_semdedup

    def x56_delta_dedup(spark, sf):
        # continual-pretraining ingest: a synthesized "new batch"
        # (exact re-crawls, near-dup trailers, token-reversed fresh
        # docs) classified against the existing corpus by corpus-side
        # md5 + MinHash band state
        from paperslicer_spark.operators.dedup import delta_dedup
        docs = _t(spark, sf, "documents").where(F.trim("text") != "")
        t = F.trim(F.col("text"))
        exact = docs.where(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), F.col("text"))
        near = docs.where(F.col("doc_id") % 10 == 1).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.col("text"),
                     F.lit(" appended audit trailer tokens"))
            .alias("text"))
        fresh = docs.where(F.col("doc_id") % 10 == 2).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.array_join(F.reverse(F.split(t, r"\s+")), " "),
                     F.lit(" brand new content")).alias("text"))
        new = exact.unionByName(near).unionByName(fresh)
        # only the corpus is widened: each of the new batch's three
        # filtered branches would shuffle its own copy
        corpus = _corpus(spark, sf).where(F.trim("text") != "")
        return delta_dedup(new, corpus, "doc_id", "text")
    q["x56_delta_dedup"] = x56_delta_dedup

    def x57_epoch_mix(spark, sf):
        # data-mixing epoch plan: per-lang repeat factors toward a
        # 100k-token budget at mixture weights en .6 / de .2 /
        # default .1 (normalized by the listed-weight sum), max 4
        # epochs
        from paperslicer_spark.operators.curation import epoch_mix
        docs = _t(spark, sf, "documents")
        return epoch_mix(docs, "lang", TS.word_count(F.col("text")),
                         weights={"en": 0.6, "de": 0.2},
                         budget_tokens=100_000, max_epochs=4.0,
                         default_weight=0.1)
    q["x57_epoch_mix"] = x57_epoch_mix

    def x58_rolling_agg(spark, sf):
        # per-user trailing-1h count/sum/mean via one RANGE-frame
        # window over integer epoch-µs — the time-series feature shape
        from paperslicer_spark.operators.temporal import rolling_agg
        ev = _t(spark, sf, "events").select(
            "event_id", "user_id", "ts", "value")
        return rolling_agg(ev, "user_id", "ts", "value",
                           window_seconds=3600.0) \
            .select("event_id", "user_id", "w_count", "w_sum", "w_mean")
    q["x58_rolling_agg"] = x58_rolling_agg

    def x59_cms_counts(spark, sf):
        # count-min sketch heavy-hitter estimates vs exact counts:
        # the fixed-size mergeable-state alternative to a vocab-sized
        # groupBy; est >= exact always (probe set = exact top 10
        # + one absent token)
        from paperslicer_spark.operators.sketch import (cms_estimate,
                                                        cms_sketch)
        docs = _t(spark, sf, "documents").where(F.trim("text") != "")
        toks = docs.select(
            F.explode(TS.tokens(F.lower(F.col("text")))).alias("token"))
        sketch = cms_sketch(toks, F.col("token"), depth=4, width=256)
        exact = toks.groupBy("token").agg(
            F.count("*").alias("exact"))
        probes = exact.orderBy(F.col("exact").desc(),
                               F.col("token").asc()).limit(10) \
            .unionByName(spark.createDataFrame(
                [("zz_absent_token", 0)], "token string, exact long"))
        est = cms_estimate(sketch, probes.select("token"), "token",
                           depth=4, width=256)
        return probes.join(est, "token") \
            .select("token", "exact", "est")
    q["x59_cms_counts"] = x59_cms_counts

    def x60_hll_distinct(spark, sf):
        # HyperLogLog distinct-document count: the fixed-size
        # mergeable twin of countDistinct over text fingerprints (the
        # cross-shard "unique docs so far" state) — output = full
        # 512-register relation (strong value check) + the estimate
        # and the exact count for calibration
        from paperslicer_spark.operators.sketch import (hll_estimate,
                                                        hll_sketch)
        docs = _t(spark, sf, "documents").where(F.trim("text") != "")
        items = docs.select(F.md5("text").alias("item"))
        sk = hll_sketch(items, F.col("item"), p=9)
        est = hll_estimate(sk, p=9)
        exact = items.agg(F.countDistinct("item").alias("exact"))
        return sk.crossJoin(F.broadcast(est)) \
            .crossJoin(F.broadcast(exact)) \
            .select("bucket", "r", "m", "nonzero", "est", "exact")
    q["x60_hll_distinct"] = x60_hll_distinct

    def x61_classifier_score(spark, sf):
        # fastText-style hashed linear quality classifier (the
        # model-based filtering stage) — integer weights so the score
        # sum is exact bigint arithmetic in both engines
        from paperslicer_spark.operators.curation import \
            hashed_classifier_score
        docs = _corpus(spark, sf).where(F.trim("text") != "")
        return hashed_classifier_score(docs, "doc_id", "text",
                                       dim=4096, threshold=0.0)
    q["x61_classifier_score"] = x61_classifier_score

    def x62_dsir_weights(spark, sf):
        # DSIR importance weights: log-likelihood ratio of a
        # target-domain (lang='de') hashed uni+bigram LM vs the
        # raw-corpus LM — distribution-matching data selection
        from paperslicer_spark.operators.curation import dsir_weights
        # a widened target would shuffle its own filtered copy
        target = _t(spark, sf, "documents").where(F.col("lang") == "de")
        return dsir_weights(_corpus(spark, sf), target, "doc_id", "text",
                            dim=1024)
    q["x62_dsir_weights"] = x62_dsir_weights

    def x63_hist_quantiles(spark, sf):
        # log-binned histogram quantiles: the fixed-size MERGEABLE
        # alternative to exact ranked-window percentiles (x37) —
        # per-source word-count p50/p90/p99 as power-of-two bin
        # lower bounds from a |keys|x64-row histogram relation
        from paperslicer_spark.operators.sketch import (hist_quantile,
                                                        hist_sketch)
        docs = _t(spark, sf, "documents")
        hist = hist_sketch(docs, "source",
                           TS.word_count(F.col("text")))
        # n as double: the oracle's `n` rides a DuckDB window sum()
        # out as HUGEINT and lands in pandas as float64 — the frozen
        # oracle SQL cannot change, so the Spark side matches its
        # dtype (round-5 driver red; value is a per-source doc count,
        # exact in a double through 2^53)
        return hist_quantile(hist) \
            .select(F.col("key").alias("source"),
                    F.col("n").cast("double").alias("n"),
                    "p50_lo", "p90_lo", "p99_lo")
    q["x63_hist_quantiles"] = x63_hist_quantiles

    def x64_bloom_gate(spark, sf):
        # Bloom-filter ingest gate: corpus text-fingerprint set folded
        # into a 64k-bit relation; probes = every 7th doc's
        # fingerprint (present) + 30 synthetic absences — membership
        # flags vs exact truth (no false negatives by construction)
        from paperslicer_spark.operators.sketch import (bloom_bits,
                                                        bloom_contains)
        docs = _t(spark, sf, "documents").where(F.trim("text") != "")
        items = docs.select(F.md5("text").alias("item"))
        bits = bloom_bits(items, F.col("item"), m_bits=65536, k=4)
        sample = docs.where(F.col("doc_id") % 7 == 0) \
            .select(F.md5("text").alias("item")).distinct()
        absent = spark.range(30).select(
            F.concat(F.lit("absent_"), F.col("id")).alias("item"))
        probes = sample.unionByName(absent)
        mem = bloom_contains(bits, probes, "item",
                             m_bits=65536, k=4)
        present = probes.join(
            items.distinct().withColumn("_p", F.lit(True)),
            "item", "left").select(
            "item", F.coalesce("_p", F.lit(False)).alias("present"))
        return mem.join(present, "item") \
            .select("item", "might_contain", "present")
    q["x64_bloom_gate"] = x64_bloom_gate

    def x65_substring_dedup(spark, sf):
        # exact substring-level dedup (Lee et al. 2022): every
        # duplicated 30-char window loses all but its first global
        # occurrence; docs rebuilt from the surviving char ranges
        from paperslicer_spark.operators.dedup import substring_dedup
        docs = _corpus(spark, sf).where(F.trim("text") != "")
        return substring_dedup(docs, "doc_id", "text", min_length=30)
    q["x65_substring_dedup"] = x65_substring_dedup

    def x66_kmeans_lloyd(spark, sf):
        # distributed Lloyd k-means (the coarse-quantizer TRAINER the
        # frozen x15/x55 centroids come from): seeded-hash init, two
        # broadcast-argmin + partial-agg mean iterations, final
        # assignment with 6dp cross-engine distance rounding
        from paperslicer_spark.operators.similarity import kmeans_lloyd
        emb = _t(spark, sf, "embeddings")
        return kmeans_lloyd(emb, k=8, iters=2, dim=64)
    q["x66_kmeans_lloyd"] = x66_kmeans_lloyd

    def x67_weighted_sample(spark, sf):
        # Efraimidis-Spirakis priority sample, weight = word count:
        # token-proportional corpus sampling via TakeOrderedAndProject
        # (per-partition k-row heaps, no global sort/window)
        from paperslicer_spark.operators.curation import weighted_sample
        docs = _t(spark, sf, "documents")
        return weighted_sample(docs, "doc_id",
                               TS.word_count(F.col("text")), k=100)
    q["x67_weighted_sample"] = x67_weighted_sample

    def x68_canonical_keep(spark, sf):
        # end-to-end near-dup keep list: x26's LSH+CC clusters, but
        # keeping the BEST doc per cluster (max word count, tie min
        # id) instead of the arbitrary min-id representative;
        # singletons keep themselves
        from paperslicer_spark.operators.dedup import canonical_keep
        return canonical_keep(_corpus(spark, sf),
                              "doc_id", "text", n=3,
                              num_hashes=12, bands=4)
    q["x68_canonical_keep"] = x68_canonical_keep

    def x69_bm25_search(spark, sf):
        # BM25 full-text retrieval: inverted postings with an
        # immediate broadcast query-term semi-join (corpus never
        # shuffles unmatched tokens), Lucene idf, per-query top-10
        from paperslicer_spark.operators.search import bm25_topk
        docs = _corpus(spark, sf)
        queries = spark.createDataFrame(
            _BM25_QUERIES, "query_id long, query_text string")
        return bm25_topk(docs, queries, k=10)
    q["x69_bm25_search"] = x69_bm25_search

    def x70_vocab_coverage(spark, sf):
        # tokenizer-training vocab curve: top-256 tokens by frequency
        # with cumulative corpus coverage (TakeOrdered cut, window
        # only over the 256-row result)
        from paperslicer_spark.operators.curation import vocab_coverage
        return vocab_coverage(_corpus(spark, sf), "text",
                              vocab_size=256)
    q["x70_vocab_coverage"] = x70_vocab_coverage

    def x71_bigram_logprob(spark, sf):
        # second-order LM quality filter: per-doc mean log10 P(w2|w1)
        # under the corpus's own add-one bigram model (x53's unigram
        # filter cannot see improbable transitions)
        from paperslicer_spark.operators.curation import bigram_logprob
        return bigram_logprob(_corpus(spark, sf),
                              "doc_id", "text")
    q["x71_bigram_logprob"] = x71_bigram_logprob

    def x72_ngram_novelty(spark, sf):
        # per-doc overlap profile: fraction of the doc's distinct
        # trigrams whose global first occurrence is in an earlier doc
        # (the per-document cousin of x39's cross-split collision scan)
        from paperslicer_spark.operators.dedup import ngram_novelty
        return ngram_novelty(_corpus(spark, sf),
                             "doc_id", "text", n=3)
    q["x72_ngram_novelty"] = x72_ngram_novelty

    def x73_leakage_safe_split(spark, sf):
        # near-dup-aware train/eval split: cluster members never
        # straddle the split (x26's LSH+CC clusters, seeded-md5 bucket
        # of the cluster label, singletons = own cluster)
        from paperslicer_spark.operators.dedup import leakage_safe_split
        return leakage_safe_split(_corpus(spark, sf),
                                  "doc_id", "text", eval_pct=20)
    q["x73_leakage_safe_split"] = x73_leakage_safe_split

    def x74_source_overlap(spark, sf):
        # cross-source near-dup provenance matrix: per unordered
        # source pair, how many near-dup doc pairs straddle them
        # (licensing/de-biasing audit before mixing sources)
        from paperslicer_spark.operators.dedup import source_overlap
        return source_overlap(_corpus(spark, sf),
                              "doc_id", "text", "source")
    q["x74_source_overlap"] = x74_source_overlap

    def x75_bpe_pair_counts(spark, sf):
        # tokenizer-training inner loop: top-64 weighted adjacent
        # char pairs over the distinct-word vocabulary (the argmax of
        # this relation IS the first BPE merge)
        from paperslicer_spark.operators.curation import bpe_pair_counts
        return bpe_pair_counts(_corpus(spark, sf), "text",
                               top_k=64)
    q["x75_bpe_pair_counts"] = x75_bpe_pair_counts

    def x76_fuzzy_head_pairs(spark, sf):
        # blocked fuzzy record linkage over document heads: pairs
        # within 8 Levenshtein edits on the first 64 chars, candidate-
        # blocked on the first 12 (classic title-matching ER)
        from paperslicer_spark.operators.dedup import fuzzy_pairs
        heads = _t(spark, sf, "documents").select(
            "doc_id",
            F.substring(F.trim(F.lower(F.col("text"))), 1, 64)
            .alias("head"))
        return fuzzy_pairs(heads, "doc_id", "head",
                           block_len=12, max_dist=8)
    q["x76_fuzzy_head_pairs"] = x76_fuzzy_head_pairs

    def x77_source_kl(spark, sf):
        # corpus-mix drift monitor: per-source KL divergence of the
        # unigram distribution from the corpus blend (one corpus
        # pass; roll-ups are windows over the vocab-sized relation)
        from paperslicer_spark.operators.curation import source_kl
        return source_kl(_corpus(spark, sf), "source", "text")
    q["x77_source_kl"] = x77_source_kl

    def x78_pagerank(spark, sf):
        # link-graph quality prior (Common Crawl-style centrality):
        # fixed-point integer PageRank, 3 unrolled iterations, over
        # the deterministic 3-out affine graph on doc_id — the oracle
        # regenerates the identical edge set, so graph construction
        # is checked end-to-end, not just the rank arithmetic
        from paperslicer_spark.operators.graph import (
            pagerank_fixed, synthetic_link_graph)
        docs = _t(spark, sf, "documents")
        edges = synthetic_link_graph(docs, "doc_id")
        return (pagerank_fixed(edges, iters=3)
                .select(F.col("id").alias("doc_id"), "outdeg",
                        "rank_fp"))
    q["x78_pagerank"] = x78_pagerank

    def x79_url_dedup(spark, sf):
        # crawl URL hygiene: canonicalize deterministically synthesized
        # messy URLs (mixed-case scheme/host, www., default ports,
        # shuffled+tracking query params, fragments, trailing slash)
        # and annotate each row with its canonical-URL dup-group size —
        # the oracle re-canonicalizes independently in DuckDB SQL
        from paperslicer_spark.operators.web import url_dup_groups
        docs = _t(spark, sf, "documents")
        d = F.col("doc_id")

        def _pick(cond, yes):
            return F.when(cond, F.lit(yes)).otherwise(F.lit(""))

        url = F.concat(
            F.lit("HTTP"), _pick(d % 4 == 0, "S"), F.lit("://"),
            _pick(d % 3 == 0, "WWW."), F.col("source"),
            F.lit(".Example.com"),
            F.when(d % 4 == 0, F.lit(":443")).otherwise(F.lit(":80")),
            F.lit("/Path/"), (d % 7).cast("string"),
            _pick(d % 5 == 0, "/"),
            F.lit("?utm_source=feed&id="), (d % 50).cast("string"),
            F.lit("&b=2&a=1"), _pick(d % 2 == 0, "&fbclid=XYZ"),
            F.lit("#sec"), (d % 3).cast("string"))
        seeded = docs.select("doc_id", url.alias("url"))
        return url_dup_groups(seeded, "doc_id", "url")
    q["x79_url_dedup"] = x79_url_dedup

    def x80_quality_auc(spark, sf):
        # classifier-calibration AUC: does a quality score rank the
        # kept class above the dropped one?  score = n_chars (integer,
        # full of ties -> exercises the average-rank identity), label
        # = Knuth-hash bernoulli on doc_id; auc_num2 is integer-exact
        from paperslicer_spark.operators.metrics import ranked_auc
        docs = _t(spark, sf, "documents")
        seeded = docs.select(
            "source", F.col("n_chars").alias("score"),
            ((F.col("doc_id") * 2654435761) % 97 < 41)
            .cast("int").alias("lab"))
        return ranked_auc(seeded, "source", "score", "lab")
    q["x80_quality_auc"] = x80_quality_auc

    def x81_funnel(spark, sf):
        # ordered product-analytics funnel: users reaching view ->
        # click -> purchase, each step strictly after the previous
        # step's earliest qualifying event; k chained full-partition
        # windows = ONE exchange on user_id, no self-joins
        from paperslicer_spark.operators.temporal import funnel_steps
        ev = _t(spark, sf, "events")
        return funnel_steps(ev, "user_id", "ts", "event_type",
                            ["view", "click", "purchase"])
    q["x81_funnel"] = x81_funnel

    def x82_retention(spark, sf):
        # weekly retention-cohort matrix keyed on first signup; week
        # arithmetic is exact integer days/7 (both engines truncate to
        # Monday midnight); cohort_week emitted as a yyyy-MM-dd string
        # (q15 date-canonicalization convention)
        from paperslicer_spark.operators.temporal import retention_cohorts
        ev = _t(spark, sf, "events")
        return (retention_cohorts(ev, "user_id", "ts", "event_type")
                .select(F.date_format("cohort_week", "yyyy-MM-dd")
                        .alias("cohort_week"), "week_offset", "n_users"))
    q["x82_retention"] = x82_retention

    def x83_transitions(spark, sf):
        # first-order Markov transition matrix over per-user event
        # streams; (ts, event_id) is a total order so the lead()
        # pairing is engine-exact; p = single IEEE division round(9)
        from paperslicer_spark.operators.temporal import transition_counts
        ev = _t(spark, sf, "events")
        return transition_counts(ev, "user_id", "ts", "event_type",
                                 tiebreak_cols=["event_id"])
    q["x83_transitions"] = x83_transitions

    def x84_score_deciles(spark, sf):
        # quality-threshold calibration table: per-source deciles of
        # n_chars with a doc_id tiebreak (bare ntile over a non-unique
        # order is row-order dependent); all-integer aggregates
        from paperslicer_spark.operators.metrics import score_deciles
        docs = _t(spark, sf, "documents")
        return score_deciles(docs, "source", "n_chars", "doc_id")
    q["x84_score_deciles"] = x84_score_deciles

    def x85_session_durations(spark, sf):
        # sessionize (30-min integer-µs gap, (ts,event_id) total
        # order) then exact global duration percentiles — the ranked
        # relation is n_sessions-sized, not corpus-sized; quantile
        # rule = R-7, bit-equal to DuckDB quantile_cont (x37 machinery)
        from paperslicer_spark.operators.metrics import exact_percentiles
        from paperslicer_spark.operators.temporal import session_durations
        ev = _t(spark, sf, "events")
        sess = (session_durations(ev, "user_id", "ts",
                                  tiebreak_cols=["event_id"])
                .withColumn("k", F.lit("all")))
        # extra_aggs see only the ranked (k, _v) relation — count(*)
        # is n_sessions (dur_us never NULL); per-session sums would
        # need their own aggregate
        return exact_percentiles(
            sess, "k", F.col("dur_us"),
            {"p50": 0.5, "p90": 0.9, "p99": 0.99},
            extra_aggs=[F.count("*").alias("n_sessions")])
    q["x85_session_durations"] = x85_session_durations

    def x86_indegree_hist(spark, sf):
        # power-law check on the link graph: log-binned in-degree
        # histogram — graph (x78 edge generator) composed with the
        # mergeable hist_sketch (x63 machinery); corpus never leaves
        # the JVM, output is <=64 rows
        from paperslicer_spark.operators.graph import synthetic_link_graph
        from paperslicer_spark.operators.sketch import hist_sketch
        docs = _t(spark, sf, "documents")
        edges = synthetic_link_graph(docs, "doc_id")
        indeg = (edges.groupBy("dst").agg(F.count("*").alias("indeg"))
                 .withColumn("k", F.lit("indeg")))
        return hist_sketch(indeg, "k", F.col("indeg"))
    q["x86_indegree_hist"] = x86_indegree_hist

    def x87_robust_outliers(spark, sf):
        # median/MAD length-outlier profile per source — the robust
        # (heavy-tail-immune) alternative to mean±stddev gates; two
        # spillable ranked passes (x37 machinery), flag count via a
        # broadcast of the groups-sized (med, mad) relation
        from paperslicer_spark.operators.metrics import robust_outliers
        docs = _t(spark, sf, "documents")
        return robust_outliers(docs, "source", F.col("n_chars"))
    q["x87_robust_outliers"] = x87_robust_outliers

    def x88_cooccurrence(spark, sf):
        # GloVe-style windowed co-occurrence counts (window=3, 1/d
        # decay kept integer via the LCM-6 trick); zero-shuffle HOF
        # pair fan-out, map-side-combined count, TakeOrdered top-k
        from paperslicer_spark.operators.curation import (
            cooccurrence_counts)
        docs = _corpus(spark, sf)
        return cooccurrence_counts(docs, "text", window=3, top_k=200)
    q["x88_cooccurrence"] = x88_cooccurrence

    def x89_snapshot_diff(spark, sf):
        # incremental-ingest ledger: v2 snapshot derived by a shared
        # deterministic rule (doc_id%20: 0→modified, 1→deleted,
        # 2→also cloned as an added doc at id+1e9), classified by ONE
        # co-partitioned full-outer join on (id, md5) projections,
        # rolled up per (source, change)
        from paperslicer_spark.operators.snapshot import (
            diff_summary, snapshot_diff)
        docs = _t(spark, sf, "documents")
        b = F.col("doc_id") % 20
        added = docs.where(b == 2).select(
            (F.col("doc_id") + 1000000000).alias("doc_id"),
            F.concat(F.lit("new:"), F.col("text")).alias("text"),
            "source")
        v2 = docs.where(b != 1).select(
            "doc_id",
            F.when(b == 0, F.concat(F.col("text"), F.lit(" [rev2]")))
             .otherwise(F.col("text")).alias("text"),
            "source").unionByName(added)
        diff = snapshot_diff(docs, v2, "doc_id", F.md5("text"))
        dims = docs.select("doc_id", "source").unionByName(
            added.select("doc_id", "source"))
        return diff_summary(diff, dims, "doc_id", "source")
    q["x89_snapshot_diff"] = x89_snapshot_diff

    def x90_cdf_normalize(spark, sf):
        # per-source empirical-CDF (percent-rank) score calibration
        # — makes quality scores comparable across sources before
        # mixing; one window exchange, (score, id) total order
        from paperslicer_spark.operators.metrics import cdf_normalize
        docs = _t(spark, sf, "documents")
        return cdf_normalize(docs, "source", "n_chars", "doc_id")
    q["x90_cdf_normalize"] = x90_cdf_normalize

    def x91_ngram_diversity(spark, sf):
        # per-source distinct-trigram ratio (mode-collapse audit);
        # zero-shuffle gram fan-out, map-side-combined (source, gram)
        # count, rollup over the vocabulary-sized relation
        from paperslicer_spark.operators.curation import ngram_diversity
        docs = _corpus(spark, sf)
        return ngram_diversity(docs, "source", "text", n=3)
    q["x91_ngram_diversity"] = x91_ngram_diversity

    def x92_semantic_decontaminate(spark, sf):
        # embedding-space benchmark decontamination: bench = scaled
        # copies of every 13th corpus vector (scaling is cosine-
        # invariant, so each source row is a guaranteed planted hit),
        # exact path = broadcast nested-loop against the eval-sized
        # bench, survivors-only top-1 window
        from paperslicer_spark.operators.similarity import (
            semantic_decontaminate)
        emb = _t(spark, sf, "embeddings")
        bench = emb.where(F.col("vec_id") % 13 == 0).select(
            (F.col("vec_id") + 500000).alias("vec_id"),
            F.transform("embedding", lambda x: x * F.lit(2.0))
            .alias("embedding"))
        return semantic_decontaminate(emb, bench, threshold=0.5)
    q["x92_semantic_decontaminate"] = x92_semantic_decontaminate

    def x93_key_skew(spark, sf):
        # pre-shuffle key-skew diagnostic: top-20 heaviest user_id
        # keys with corpus share + skew factor; map-side-combined
        # count, reused exchange for the 1-row stats, TakeOrdered cut
        from paperslicer_spark.operators.metrics import key_skew_profile
        ev = _t(spark, sf, "events")
        return key_skew_profile(ev, F.col("user_id"), top_k=20)
    q["x93_key_skew"] = x93_key_skew

    def x94_rate_anomaly(spark, sf):
        # trailing-24h z-score on per-type hourly event rates
        # (current bucket excluded from its own baseline); integer
        # sums in a RANGE frame → z = (n·c−s)/√(n·ss−s²), one IEEE
        # sqrt + one division over exact bigints
        from paperslicer_spark.operators.temporal import rate_anomaly
        ev = _t(spark, sf, "events")
        return rate_anomaly(ev, "event_type", "ts")
    q["x94_rate_anomaly"] = x94_rate_anomaly

    def x95_containment_pairs(spark, sf):
        # asymmetric near-dup (quote/subset) detection: n-gram
        # overlap coefficient inter/min(|A|,|B|) ≥ 0.4 under the q11
        # stop-shingle cap — same no-self-join capped plan shape
        return DD.containment_pairs(_corpus(spark, sf),
                                    "doc_id", "text", n=3,
                                    threshold=0.4, max_doc_freq=50)
    q["x95_containment_pairs"] = x95_containment_pairs

    def x96_image_dhash_pairs(spark, sf):
        # perceptual image near-dup pairs: 64-bit dHash (integer
        # block-sum comparisons) over the sf-scaled fake-codec corpus
        # + planted perturbed copies, then the x32 Hamming band
        # pigeonhole (equi-join, never all-pairs).  Oracle replays
        # the frozen signature fixture and recomputes the banded pair
        # join in SQL.
        from paperslicer_spark.operators.dedup import hamming_pairs
        from paperslicer_spark.operators.multimodal import (
            image_dhash, perturb_assets, synth_assets)
        n = _scaled_clips(spark, sf, 12, 480)
        assets = synth_assets(spark, n, seed=42)
        corpus = assets.unionByName(perturb_assets(assets, every=5))
        sigs = image_dhash(corpus).select(
            F.col("asset_id").alias("doc"),
            F.col("dhash").alias("simhash"))
        return hamming_pairs(sigs, max_hamming=3)
    q["x96_image_dhash_pairs"] = x96_image_dhash_pairs

    def x97_basket_pairs(spark, sf):
        # market-basket event-type co-occurrence with integer-exact
        # lift: baskets = distinct per-user type sets (small, closed
        # item domain), C(m,2) HOF fan-out on the basket exchange
        from paperslicer_spark.operators.metrics import basket_pairs
        ev = _t(spark, sf, "events")
        return basket_pairs(ev, "user_id", "event_type")
    q["x97_basket_pairs"] = x97_basket_pairs

    def x98_path_prefix_rollup(spark, sf):
        # crawl-frontier budget table: page counts per (host, 2-seg
        # canonical path prefix) over deterministically synthesized
        # deep URLs (root pages roll to '/'); Spark runs the full
        # canonicalize/split machinery, the oracle derives host and
        # prefix from first principles
        from paperslicer_spark.operators.web import path_prefix_rollup
        docs = _t(spark, sf, "documents")
        d = F.col("doc_id")
        url = F.when(d % 13 == 0, F.concat(
            F.lit("http://"), F.col("source"), F.lit(".Example.com/")
        )).otherwise(F.concat(
            F.lit("http://"), F.col("source"), F.lit(".Example.com/sec"),
            (d % 5).cast("string"), F.lit("/item"),
            (d % 11).cast("string"), F.lit("/page"),
            (d % 3).cast("string")))
        return path_prefix_rollup(docs.select(url.alias("url")), "url",
                                  depth=2)
    q["x98_path_prefix_rollup"] = x98_path_prefix_rollup

    def x99_purchase_attribution(spark, sf):
        # last-touch conversion attribution: every purchase claims its
        # latest at-or-before view/click via the proven asof carry
        # (x43 machinery; right payload (event_type, event_id) is the
        # deterministic tie rule), rolled up per touch type with
        # integer-µs delay sums; unattributed purchases → 'none'
        from paperslicer_spark.operators.temporal import asof_join
        ev = _t(spark, sf, "events")
        purchases = ev.where(F.col("event_type") == "purchase").select(
            "user_id", "ts", "event_id")
        touches = ev.where(F.col("event_type").isin("view", "click")) \
            .select("user_id", "ts", "event_type", "event_id")
        att = asof_join(purchases, touches, on="user_id", ts_col="ts",
                        right_cols=["event_type", "event_id"])
        delay = (F.unix_micros(F.col("ts").cast("timestamp"))
                 - F.unix_micros(F.col("ts_right").cast("timestamp")))
        return (att.select(
                    F.coalesce(F.col("event_type_right"),
                               F.lit("none")).alias("touch"),
                    delay.alias("delay_us"))
                .groupBy("touch")
                .agg(F.count("*").alias("n_purchases"),
                     F.sum("delay_us").alias("sum_delay_us"),
                     F.max("delay_us").alias("max_delay_us")))
    q["x99_purchase_attribution"] = x99_purchase_attribution

    def x100_packing_stats(spark, sf):
        # batch-prep efficiency report over the x33→x35 packing
        # chain: per-shard pack counts, tail fill and the straddle
        # (document-split-across-sequences) count — one
        # map-side-combined rollup on the existing shard exchange
        from paperslicer_spark.operators.curation import (
            chunk_documents, pack_sequences, packing_stats)
        chunks = chunk_documents(_corpus(spark, sf),
                                 "doc_id", "text",
                                 chunk_tokens=32, overlap=8)
        packs = pack_sequences(chunks, capacity=512, n_shards=16)
        return packing_stats(packs, capacity=512)
    q["x100_packing_stats"] = x100_packing_stats

    def x101_rank_fusion(spark, sf):
        # reciprocal-rank fusion of three incommensurable quality
        # signals (length, a seeded classifier stand-in, a prior)
        # into one keep-ordering; deterministic (score desc, id)
        # ranks, fixed-order 1/(k+r) sum, round(9)
        from paperslicer_spark.operators.metrics import rank_fusion
        docs = _t(spark, sf, "documents")
        d = F.col("doc_id")
        cands = docs.select(
            "doc_id", F.col("n_chars").alias("s_len"),
            ((d * 2654435761) % 1000).alias("s_cls"),
            (d % 97).alias("s_pr"))
        return rank_fusion(cands, "doc_id", ["s_len", "s_cls", "s_pr"])
    q["x101_rank_fusion"] = x101_rank_fusion

    # The driver's correctness sweep caps at 50 queries and walks the
    # dict in insertion order, so entries past #50 never get a driver-
    # recorded green row.  Rotation policy (round-4 VERDICT item #3):
    # cycle the LEAST-recently-driver-verified queries to the front
    # each round, so every operator stays within ~one round of an
    # official green row.  _LAST_GREEN records the last round whose
    # CORRECTNESS_r{N}.json shows a green row per query; queries absent
    # from the map (new this round, or red last round) sort first.
    # Everything still runs in pytest + scripts/check_oracles.py
    # regardless of order.
    _LAST_GREEN = {}
    _LAST_GREEN.update({k: 3 for k in [  # r03 window (rotated out in r4)
        "x08_simhash", "x09_minhash_lsh_pairs", "x10_head_frequencies",
        "x11_multimodal_features", "x12_rolling_fingerprint",
        "x13_token_bpe", "x14_streaming_rates", "x15_ivf_topk",
        "x16_sections_direct", "x17_truth_validation",
        "x18_mapping_suggestions", "x19_pixel_filters",
        "x20_cosine_dup_pairs", "x21_cosine_dup_pairs_lsh",
        "x22_sections_fused", "x23_langid_ngram", "x24_per_doc_metrics",
        "x25_suggestions_loop", "x26_dup_clusters",
        "x27_gopher_quality", "x28_stratified_sample",
        "x29_curated_keep"]})
    _LAST_GREEN.update({k: 4 for k in [  # r04 window greens
        "q01_pricing_summary", "q02_top_orders_per_customer",
        "q03_first_wins_orders", "q04_region_rollup",
        "q05_priority_concat", "q06_exact_dup_docs", "q07_text_stats",
        "q08_quality", "q09_lang_rates", "q10_minhash",
        "q11_jaccard_pairs", "q12_embedding_topk", "q13_lsh_buckets",
        "q14_event_type_counts", "q15_events_hourly", "q16_sessionize",
        "q17_unordered_parts", "q18_segment_top_customers",
        "q19_canonical_headings", "q20_doc_gates",
        "q21_source_doc_stats", "x01_extract_sections",
        "x02_extract_media", "x03_extract_references",
        "x04_extract_meta", "x05_turn_spans", "x06_corpus_quality",
        "x07_validation_scores", "x30_frame_sample",
        "x31_audio_features", "x32_simhash_pairs",
        "x33_chunk_documents", "x34_html_strip", "x35_pack_sequences",
        "x37_source_token_stats", "x38_distinctive_terms",
        "x39_decontaminate", "x40_paragraph_dedup", "x41_redact_pii",
        "x42_exact_k_sample", "x43_asof_join", "x44_range_join",
        "x45_sliding_rates", "x46_token_budget_cut",
        "x47_rollup_acctbal", "x48_temperature_mix",
        "x49_clean_unicode", "x50_event_pivot", "x51_winsorize"]})
    # x36 was driver-RED in r04 (canonicalizer array artifact, fixed
    # this round) → absent from the map → front of the window.
    q = dict(sorted(q.items(),
                    key=lambda kv: _LAST_GREEN.get(kv[0], 0)))
    return q


# ---------------------------------------------------------------------------
# oracle SQL
# ---------------------------------------------------------------------------

_WORDS_EXPR = (
    "CASE WHEN trim(text) = '' THEN 0 "
    "ELSE len(string_split_regex(trim(text), '\\s+')) END"
)

# x69's fixed query workload (shared Spark ↔ oracle so the relations
# cannot drift); terms drawn from the synthetic documents vocabulary
_BM25_QUERIES = [
    (1, "spark shuffle join"),
    (2, "window agg order"),
    (3, "fast scan table"),
    (4, "batch data column value"),
    (5, "slow query part"),
    (6, "nonexistent zzzterm"),
]
# frozen extraction-record fixtures (paperslicer_spark/fixtures.py):
# extraction is not SQL-expressible, so record-analytics oracles
# (x06/x07/x10/x17) run over these parity-gated parquet tables
_FIX = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
_NOISE_CLASS = "[A-Za-z0-9 .,;:''\"!?()\\[\\]{}\\-_/\\\\%+*=<>\t\r\n]"
_STOP_LIST = ", ".join(f"'{w}'" for w in TS.EN_STOPWORDS)


def _noise_expr(col: str = "text") -> str:
    return (
        f"CASE WHEN length({col}) = 0 THEN 0.0 ELSE "
        f"CAST(length(regexp_replace({col}, '{_NOISE_CLASS}', '', 'g')) AS DOUBLE)"
        f" / length({col}) END"
    )


def _stopword_expr(col: str = "text") -> str:
    return (
        f"CASE WHEN trim({col}) = '' THEN 0.0 ELSE "
        f"CAST(len(list_filter(string_split_regex(trim(lower({col})), '\\s+'),"
        f" x -> x IN ({_STOP_LIST}))) AS DOUBLE) / ({_WORDS_EXPR.replace('text', col)}) END"
    )


_GRAMS_CTE = (
    "toks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t "
    "FROM documents WHERE trim(text) <> ''), "
    "grams AS (SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle "
    "FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i) WHERE len(t) >= 3), "
    "sh AS (SELECT DISTINCT doc_id AS doc, shingle FROM grams)"
)


# minhash twin of dedup.minhash_signatures: one 28-bit md5 base hash
# + the SAME affine (a_j, b_j) family mod 2^31-1 (constants imported
# from the operator so the two definitions cannot drift)
_MH_PARAMS = DD.minhash_affine_params(12)


def _mh_expr(j: int) -> str:
    a, b = _MH_PARAMS[j]
    return (
        f"min(({a} * CAST('0x' || substr(md5(shingle), 1, 7) AS BIGINT)"
        f" + {b}) % {DD.MINHASH_PRIME}) AS mh{j}"
    )


def _sql_escape(s: str) -> str:
    return s.replace("'", "''")


def _heading_probes() -> list[str]:
    heads = sorted(exact_map().keys())
    probes = []
    for h in heads[:120]:
        probes.extend([h, h.title(), f"3.1. {h}", f"| {h.upper()}"])
    probes += [
        "Bayesian framework statistics", "Key results overview",
        "Novel Protocol", "Aims of the present work",
        "General discussion of findings", "Concluding remarks",
        "results & discussion", "IV. Results", "", "   ",
    ]
    return probes


def _canonical_sql() -> str:
    sanitize = (
        "trim(regexp_replace(regexp_replace(regexp_replace(lower(trim(head)),"
        " '^[|>•\\-–—\\s]+', ''),"
        " '(?i)^(?:[ivxlcdm]+\\.|\\d+(?:\\.\\d+)*\\.?)[\\s\\-:]*', ''),"
        " '\\s+', ' ', 'g'))"
    )
    whens = "\n".join(
        f"WHEN n = '{_sql_escape(k)}' THEN '{_sql_escape(v)}'"
        for k, v in sorted(exact_map().items())
    )
    methods = " OR ".join(f"contains(n, '{_sql_escape(k)}')" for k in methods_keywords())
    intro = " OR ".join(f"contains(n, '{_sql_escape(k)}')" for k in intro_keywords())
    values = ",\n".join(f"('{_sql_escape(p)}')" for p in _heading_probes())
    return f"""
WITH probes(head) AS (VALUES {values}),
 norm AS (SELECT head, {sanitize} AS n FROM probes)
SELECT head,
  CASE WHEN n = '' THEN ''
  {whens}
  WHEN contains(n, 'results') AND contains(n, 'discussion') THEN 'results_and_discussion'
  WHEN {methods} THEN 'materials_and_methods'
  WHEN {intro} THEN 'introduction'
  WHEN contains(n, 'conclusion') OR contains(n, 'clinical significance') THEN 'conclusions'
  WHEN contains(n, 'result') THEN 'results'
  WHEN contains(n, 'discussion') OR contains(n, 'limitation') THEN 'discussion'
  ELSE replace(n, ' ', '_') END AS key
FROM norm
"""


_CANON7 = ", ".join(f"'{k}'" for k in [
    "abstract", "introduction", "materials_and_methods", "results",
    "discussion", "conclusions", "results_and_discussion"])
_CANON5 = ", ".join(f"'{k}'" for k in [
    "introduction", "materials_and_methods", "results",
    "discussion", "conclusions"])


def _rec_cte() -> str:
    """Shared per-document rollup CTEs over the frozen record fixtures."""
    return f"""
m AS (SELECT * FROM '{_FIX}/rec_meta.parquet'),
s AS (SELECT conv_id,
       count(*) AS n_secs,
       sum(length(clean_text)) AS sum_len,
       sum(length(regexp_replace(clean_text, '{_NOISE_CLASS}', '', 'g'))) AS sum_bad,
       count(*) FILTER (WHERE section_label IN ({_CANON7})) AS n_canonical,
       count(*) FILTER (WHERE section_label IN ({_CANON5})
                        AND length(clean_text) > 0) AS n_canon5,
       max(CASE WHEN section_label = 'abstract' THEN clean_text END) AS abs_text
     FROM '{_FIX}/rec_sections.parquet' WHERE is_canonical GROUP BY conv_id),
md AS (SELECT conv_id,
        count(*) FILTER (WHERE kind = 'figure') AS n_figures,
        count(*) FILTER (WHERE kind = 'table') AS n_tables
      FROM '{_FIX}/rec_media.parquet' GROUP BY conv_id),
rf AS (SELECT conv_id, count(*) AS n_references
      FROM '{_FIX}/rec_refs.parquet' GROUP BY conv_id),
rec AS (SELECT m.conv_id, m.title, m.doi, m.journal,
        coalesce(s.abs_text, '') AS abs_text,
        coalesce(length(s.abs_text), 0) AS abs_len,
        coalesce(s.n_canonical, 0) AS n_canonical,
        coalesce(s.n_canon5, 0) AS n_canon5,
        coalesce(s.sum_len, 0) AS sum_len, coalesce(s.sum_bad, 0) AS sum_bad,
        coalesce(s.n_secs, 0) AS n_secs,
        coalesce(md.n_figures, 0) AS n_figures,
        coalesce(md.n_tables, 0) AS n_tables,
        coalesce(rf.n_references, 0) AS n_references
      FROM m LEFT JOIN s USING (conv_id) LEFT JOIN md USING (conv_id)
      LEFT JOIN rf USING (conv_id))"""


def _fuzzy_sql(ne: str, na: str, raw_e: str, raw_a: str) -> str:
    """Positional char-match ratio (F12) over pre-normalized columns
    ``ne``/``na``, with the reference's RAW empty pre-check."""
    matches = (
        f"len(list_filter(range(1, least(length({ne}), length({na})) + 1), "
        f"i -> substr({ne}, CAST(i AS INT), 1) = substr({na}, CAST(i AS INT), 1)))"
    )
    return (
        f"CASE WHEN {raw_e} = '' OR {raw_a} = '' THEN "
        f"  CASE WHEN {raw_e} = {raw_a} THEN 1.0 ELSE 0.0 END "
        f"WHEN greatest(length({ne}), length({na})) = 0 THEN 1.0 "
        f"ELSE CAST({matches} AS DOUBLE) / greatest(length({ne}), length({na})) END"
    )


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}
    o["q01_pricing_summary"] = """
SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
  round(avg(l_quantity), 4) AS avg_qty,
  count(*) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""
    o["q02_top_orders_per_customer"] = """
SELECT o_custkey, o_orderkey, rank FROM (
  SELECT o_custkey, o_orderkey,
    row_number() OVER (PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
  FROM orders) WHERE rank <= 3
"""
    o["q03_first_wins_orders"] = """
SELECT o_custkey, o_orderkey AS first_orderkey FROM (
  SELECT o_custkey, o_orderkey,
    row_number() OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders) WHERE rn = 1
"""
    o["q04_region_rollup"] = """
SELECT r_name, count(*) AS n_customers,
  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS acctbal_cents
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""
    o["q05_priority_concat"] = """
SELECT o_custkey,
  string_agg(o_orderpriority, '+' ORDER BY o_orderdate, o_orderkey) AS priority_seq
FROM orders GROUP BY o_custkey
"""
    o["q06_exact_dup_docs"] = """
SELECT md5(text) AS fp, count(*) AS n_docs, min(doc_id) AS first_id
FROM documents GROUP BY md5(text) HAVING count(*) > 1
"""
    o["q07_text_stats"] = f"""
SELECT doc_id,
  CAST({_WORDS_EXPR} AS BIGINT) AS words,
  CAST(length(text) AS BIGINT) AS chars,
  round(CASE WHEN {_WORDS_EXPR} = 0 THEN 0.0
        ELSE CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
             / ({_WORDS_EXPR}) END, 4) AS avg_token_len,
  md5(text) AS fp
FROM documents
"""
    o["q08_quality"] = f"""
SELECT doc_id,
  round({_noise_expr()}, 6) AS noise,
  round({_stopword_expr()}, 6) AS stopword_ratio,
  round(least(({_WORDS_EXPR}) / 2.0, 40.0)
    + CASE WHEN (CASE WHEN {_WORDS_EXPR} = 0 THEN 0.0
            ELSE CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
                 / ({_WORDS_EXPR}) END) BETWEEN 3.0 AND 9.0
           THEN 30.0 ELSE 10.0 END
    + CASE WHEN {_noise_expr()} <= 0.02 THEN 30.0 ELSE 0.0 END, 2) AS quality,
  CASE WHEN {_stopword_expr()} > 0.03 THEN 'en' ELSE 'unk' END AS lang_guess
FROM documents
"""
    o["q09_lang_rates"] = f"""
SELECT CASE WHEN {_stopword_expr()} > 0.03 THEN 'en' ELSE 'unk' END AS lang_guess,
  count(*) AS n
FROM documents GROUP BY 1
"""
    o["q10_minhash"] = f"""
WITH {_GRAMS_CTE}
SELECT doc, {", ".join(_mh_expr(j) for j in range(4))}
FROM sh GROUP BY doc
"""
    o["q11_jaccard_pairs"] = f"""
WITH {_GRAMS_CTE},
 shh AS (SELECT doc, CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT)
                AS shingle FROM sh),
 shf AS (SELECT doc, shingle FROM shh
         QUALIFY count(*) OVER (PARTITION BY shingle) <= 50),
 sz AS (SELECT doc, count(*) AS sz FROM shf GROUP BY doc),
 inter AS (
   SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS inter
   FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc < b.doc
   GROUP BY a.doc, b.doc)
SELECT doc_a, doc_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
  round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter
JOIN sz sa ON sa.doc = doc_a
JOIN sz sb ON sb.doc = doc_b
WHERE round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) >= 0.2
"""
    o["q12_embedding_topk"] = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
 s AS (SELECT q.query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.qv, c.embedding), 6) AS cos
       FROM q, embeddings c WHERE c.vec_id <> q.query_id)
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM s) WHERE rank <= 5
"""
    o["q13_lsh_buckets"] = """
SELECT array_to_string(list_transform(embedding[1:8],
         x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket,
  count(*) AS n
FROM embeddings GROUP BY 1
"""
    o["q14_event_type_counts"] = """
SELECT event_type, count(*) AS n,
  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events GROUP BY event_type
"""
    o["q15_events_hourly"] = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
  count(*) AS n
FROM events GROUP BY 1
"""
    o["q16_sessionize"] = """
SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions, count(*) AS n_events FROM (
  SELECT user_id,
    CASE WHEN lag(ts) OVER w IS NULL
         OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
GROUP BY user_id
"""
    o["q17_unordered_parts"] = """
SELECT count(*) AS n_unordered_parts FROM part
WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
"""
    o["q18_segment_top_customers"] = """
SELECT c_mktsegment, c_custkey, rank,
  CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents
FROM (
  SELECT c_mktsegment, c_custkey, c_acctbal,
    row_number() OVER (PARTITION BY c_mktsegment
                       ORDER BY c_acctbal DESC, c_custkey ASC) AS rank
  FROM customer) WHERE rank <= 5
"""
    o["q19_canonical_headings"] = _canonical_sql()
    o["q20_doc_gates"] = f"""
SELECT count(*) AS total_docs,
  round(avg(CASE WHEN n_chars >= 30 THEN 1.0 ELSE 0.0 END), 6) AS long_rate,
  round(avg({_WORDS_EXPR}), 4) AS avg_words,
  round(avg({_noise_expr()}), 6) AS avg_noise
FROM documents
"""
    o["q21_source_doc_stats"] = """
SELECT source, lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
  min(doc_id) AS first_doc
FROM documents GROUP BY source, lang
"""

    # ---- extraction-view oracles: deterministic-reproduction checks -
    # The TEI parse itself is not SQL-expressible; these oracles verify
    # the LIVE pipeline reproduces the frozen parity-gated copy of its
    # own output (fixtures/, regenerated by scripts/freeze_fixtures.py,
    # gated by tests/test_fixture_freeze.py + the byte-parity suite) —
    # a regression tripwire rather than an independent recomputation.
    o["x01_extract_sections"] = f"""
SELECT conv_id, section_label, clean_text, is_canonical
FROM '{_FIX}/rec_sections.parquet'
"""
    # x16 (agg-assembly reference) and x22 (fused sections path) are
    # row-identical to x01 by construction — same reproduction oracle
    o["x16_sections_direct"] = o["x01_extract_sections"]
    o["x22_sections_fused"] = o["x01_extract_sections"]
    o["x05_turn_spans"] = f"""
SELECT conv_id, turn_idx, unit_idx, kind, section_label,
  char_start, char_end, clean_text
FROM '{_FIX}/rec_spans.parquet'
"""
    o["x02_extract_media"] = f"""
SELECT conv_id, kind, pos, label, caption,
  CAST(NULL AS VARCHAR) AS path, source, coords
FROM '{_FIX}/rec_media.parquet'
"""
    o["x03_extract_references"] = f"""
SELECT conv_id, ref_index, text, ref_id, title, doi, year, authors
FROM '{_FIX}/rec_refs.parquet'
"""
    o["x04_extract_meta"] = f"""
SELECT conv_id, title, journal, doi,
  CAST(n_authors AS BIGINT) AS n_authors,
  CAST(n_keywords AS BIGINT) AS n_keywords
FROM '{_FIX}/rec_meta.parquet'
"""

    # ---- record-analytics oracles over the frozen fixtures ----------
    o["x06_corpus_quality"] = f"""
WITH {_rec_cte()},
 per AS (SELECT conv_id,
   (title IS NOT NULL) AS has_title,
   (doi IS NOT NULL OR journal IS NOT NULL) AS has_doi_or_journal,
   (abs_len >= 30) AS abstract_present,
   n_canonical, n_figures, n_tables, n_references,
   (n_figures + n_tables > 0) AS has_media,
   CASE WHEN sum_len + n_secs - 1 <= 0 THEN 0.0
        ELSE CAST(sum_bad AS DOUBLE) / (sum_len + n_secs - 1) END AS noise,
   lower(doi) AS doi_lc
  FROM rec),
 dup AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS dup_doi_docs FROM (
   SELECT count(*) AS c FROM per WHERE doi_lc IS NOT NULL
   GROUP BY doi_lc HAVING count(*) > 1)),
 agg AS (SELECT count(*) AS total_docs,
   avg(CASE WHEN has_title THEN 1.0 ELSE 0.0 END) AS title_rate,
   avg(CASE WHEN has_doi_or_journal THEN 1.0 ELSE 0.0 END) AS doi_or_journal_rate,
   avg(CASE WHEN abstract_present THEN 1.0 ELSE 0.0 END) AS abstract_rate,
   avg(CASE WHEN n_canonical >= 3 THEN 1.0 ELSE 0.0 END) AS sections_ge3_rate,
   avg(CASE WHEN n_canonical >= 4 THEN 1.0 ELSE 0.0 END) AS sections_ge4_rate,
   avg(CASE WHEN n_canonical >= 5 THEN 1.0 ELSE 0.0 END) AS sections_ge5_rate,
   avg(CASE WHEN has_media THEN 1.0 ELSE 0.0 END) AS media_rate,
   CAST(sum(n_figures) AS BIGINT) AS total_figures,
   CAST(sum(n_tables) AS BIGINT) AS total_tables,
   CAST(sum(n_references) AS BIGINT) AS total_references,
   avg(noise) AS avg_noise_ratio
  FROM per)
SELECT total_docs, round(title_rate, 6) AS title_rate,
  round(doi_or_journal_rate, 6) AS doi_or_journal_rate,
  round(abstract_rate, 6) AS abstract_rate,
  round(sections_ge3_rate, 6) AS sections_ge3_rate,
  round(sections_ge4_rate, 6) AS sections_ge4_rate,
  round(sections_ge5_rate, 6) AS sections_ge5_rate,
  round(media_rate, 6) AS media_rate,
  total_figures, total_tables, total_references,
  round(avg_noise_ratio, 6) AS avg_noise_ratio,
  dup_doi_docs,
  (title_rate >= 0.99) AS gate_title,
  (doi_or_journal_rate >= 0.95) AS gate_doi_journal,
  (abstract_rate >= 1.0) AS gate_abstract,
  (sections_ge3_rate >= 0.85) AS gate_sections,
  (avg_noise_ratio <= 0.02) AS gate_noise,
  (dup_doi_docs <= total_docs * 0.01) AS gate_dup_doi
FROM agg, dup
"""

    o["x07_validation_scores"] = f"""
WITH {_rec_cte()}
SELECT conv_id,
  round((CASE WHEN title IS NOT NULL THEN 10.0 ELSE 0.0 END)
   + (CASE WHEN doi IS NOT NULL THEN 10.0 ELSE 0.0 END)
   + (CASE WHEN journal IS NOT NULL THEN 10.0 ELSE 0.0 END)
   + (CASE WHEN abs_len >= 30 THEN 20.0 ELSE 0.0 END)
   + least(n_canonical * 6.0, 30.0)
   + least(n_figures * 5.0, 10.0)
   + least(n_tables * 5.0, 10.0), 2) AS score
FROM rec
"""

    # x08: full INDEPENDENT SQL recomputation of 64-bit SimHash —
    # per-token md5-prefix hash, per-bit majority vote (strict, matching
    # acc = Σ(bit*2-1) > 0), signed-long storage offset
    bit_sums = ",\n   ".join(
        f"sum(CAST((hv >> {p}) & 1 AS BIGINT)) AS b{p}" for p in range(64))
    bit_assemble = "\n   + ".join(
        f"(CASE WHEN 2*b{p} > n THEN CAST('{1 << p}' AS HUGEINT) "
        f"ELSE CAST(0 AS HUGEINT) END)" for p in range(64))
    o["x08_simhash"] = f"""
WITH toks AS (
  SELECT doc_id AS doc,
    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
  FROM documents WHERE trim(text) <> ''),
 h AS (SELECT doc, CAST('0x' || substr(md5(tok), 1, 16) AS UBIGINT) AS hv
       FROM toks),
 cnt AS (SELECT doc, count(*) AS n,
   {bit_sums}
  FROM h GROUP BY doc)
SELECT doc, CAST(({bit_assemble})
  - CAST('9223372036854775808' AS HUGEINT) AS BIGINT) AS simhash
FROM cnt
UNION ALL
SELECT doc_id AS doc, 0 AS simhash FROM documents
WHERE trim(text) = '' OR text IS NULL
"""

    # x13: lookarounds are not RE2-portable, but the count decomposes:
    # every split-token is either a maximal alnum run or a camelCase
    # fragment; total = nonempty runs + [a-z][A-Z] boundaries (which
    # cannot overlap — a shared char would need to be both cases)
    o["x13_token_bpe"] = """
SELECT doc_id, CAST(
  CASE WHEN length(trim(text)) = 0 THEN 0 ELSE
    len(list_filter(string_split_regex(trim(text), '[^a-zA-Z0-9]+'),
                    x -> x <> ''))
    + len(regexp_extract_all(trim(text), '[a-z][A-Z]'))
  END AS BIGINT) AS bpe_tokens
FROM documents
"""

    o["x12_rolling_fingerprint"] = """
SELECT doc_id,
  CASE WHEN length(d) < 8 THEN md5(d)
  ELSE array_to_string(list_transform(
    list_sort(list_transform(range(1, length(d) - 8 + 2),
      i -> CAST('0x' || substr(md5(substr(d, CAST(i AS INT), 8)), 1, 15)
           AS BIGINT)))[1:4],
    x -> CAST(x AS VARCHAR)), '-') END AS rfp
FROM (SELECT doc_id, substr(text, 1, 4096) AS d FROM documents)
"""

    o["x11_multimodal_features"] = f"""
SELECT asset_id, conv_id, kind, width, height, features
FROM '{_FIX}/asset_features.parquet'
"""
    o["x19_pixel_filters"] = f"""
SELECT asset_id, kind, width, height, px_std, ink_fraction, kept
FROM '{_FIX}/asset_stats.parquet'
"""
    # x30/x31: the frozen fixtures hold the CAP-sized corpus (400
    # video / 500 audio clips); per-asset stats are seeded by asset_id
    # alone, so the sf-scaled corpus is always a prefix and the oracle
    # selects it with the same documents-count rule the query uses
    o["x30_frame_sample"] = f"""
SELECT asset_id, frame_idx, width, height, px_mean, px_std
FROM '{_FIX}/frame_stats.parquet'
WHERE asset_id < least(greatest(8,
  (SELECT count(*) FROM documents) // 20), 400)
"""
    o["x31_audio_features"] = f"""
SELECT asset_id, sample_rate, n_samples, duration_s, rms, zcr, peak
FROM '{_FIX}/audio_stats.parquet'
WHERE asset_id < least(greatest(8,
  (SELECT count(*) FROM documents) // 16), 500)
"""

    # x32: SimHash Hamming-LSH pairs — x08's simhash pipeline, then
    # 16-bit chunk banding over the UNSIGNED hugeint image + exact
    # bit_count(xor) verification (two's-complement, probed vs JVM)
    sh_bands = "\nUNION ALL\n".join(
        f"SELECT doc, simhash, {b} AS band, "
        f"CAST((u // CAST('{1 << (16 * b)}' AS HUGEINT)) % 65536 AS BIGINT)"
        " AS bkey FROM uns"
        for b in range(4))
    o["x32_simhash_pairs"] = f"""
WITH toks AS (
  SELECT doc_id AS doc,
    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
  FROM documents WHERE trim(text) <> ''),
 h AS (SELECT doc, CAST('0x' || substr(md5(tok), 1, 16) AS UBIGINT) AS hv
       FROM toks),
 cnt AS (SELECT doc, count(*) AS n,
   {bit_sums}
  FROM h GROUP BY doc),
 sig AS (
  SELECT doc, CAST(({bit_assemble})
    - CAST('9223372036854775808' AS HUGEINT) AS BIGINT) AS simhash
  FROM cnt
  UNION ALL
  SELECT doc_id AS doc, 0 AS simhash FROM documents
  WHERE trim(text) = '' OR text IS NULL),
 uns AS (
  SELECT doc, simhash,
    CAST(simhash AS HUGEINT) + CASE WHEN simhash < 0
      THEN CAST('18446744073709551616' AS HUGEINT)
      ELSE CAST(0 AS HUGEINT) END AS u
  FROM sig WHERE simhash <> 0),
 banded AS ({sh_bands})
SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b,
  bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM banded a
JOIN banded b ON a.band = b.band AND a.bkey = b.bkey AND a.doc < b.doc
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""

    # x33: context-window chunking (stride 24 = 32 - 8 overlap).
    # The [1:2400000] slice mirrors chunk_documents' max_chunks=100000
    # token-array guardrail (100000 * stride 24) — without it a
    # >2.4M-token document would hash-diverge (round-3 ADVICE)
    o["x33_chunk_documents"] = """
WITH toks AS (
  SELECT doc_id,
    (string_split_regex(trim(lower(text)), '\\s+'))[1:2400000] AS t
  FROM documents WHERE trim(text) <> '')
SELECT doc_id, CAST(s / 24 AS BIGINT) AS chunk_idx,
  CAST(least(32, len(t) - s) AS BIGINT) AS n_tokens,
  array_to_string(t[s + 1 : s + 32], ' ') AS chunk_text
FROM toks, UNNEST(range(0, len(t), 24)) AS u(s)
"""

    # x34: identical RE2 regexp chain over the identically synthesized
    # page (DuckDB's regex engine is RE2 — the Spark chain uses only
    # the shared subset: inline (?is), non-greedy, no backreferences)
    strip_chain = (
        "regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g')")
    for tag in ("style", "head", "nav", "footer", "aside"):
        strip_chain = (f"regexp_replace({strip_chain}, "
                       f"'(?is)<{tag}[^>]*>.*?</{tag}>', ' ', 'g')")
    strip_chain = (f"regexp_replace({strip_chain}, "
                   "'(?s)<!--.*?-->', ' ', 'g')")
    strip_chain = (f"regexp_replace({strip_chain}, "
                   "'(?s)<[^>]+>', ' ', 'g')")
    for ent, rep in (("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
                     ("&quot;", '"'), ("&#39;", "''"), ("&nbsp;", " ")):
        strip_chain = f"replace({strip_chain}, '{ent}', '{rep}')"
    strip_chain = (f"trim(regexp_replace({strip_chain}, "
                   "'\\s+', ' ', 'g'))")
    o["x34_html_strip"] = f"""
WITH h AS (
  SELECT doc_id,
    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
    || '</title><style>body {{ color: #333 }}</style></head>'
    || '<body><nav><a href=''/''>home</a> | '
    || '<a href=''/about''>about</a></nav>'
    || '<!-- synthetic page --><p>' || text
    || '</p><script>var t = 1 &amp;&amp; 2;</script>'
    || '<footer>&copy; corp &nbsp;</footer></body></html>' AS html
  FROM documents),
 s AS (
  SELECT doc_id,
    trim(regexp_replace(regexp_extract(html,
      '(?is)<title[^>]*>(.*?)</title>', 1), '\\s+', ' ', 'g')) AS title,
    {strip_chain} AS main_text
  FROM h)
SELECT doc_id, title, main_text, CAST(length(main_text) AS BIGINT) AS n_chars
FROM s
"""

    # x35: sharded contiguous packing over the x33 chunks — same
    # md5 shard hash, same per-shard cumulative-offset window; the
    # [1:2400000] slice mirrors max_chunks (see x33)
    o["x35_pack_sequences"] = """
WITH toks AS (
  SELECT doc_id,
    (string_split_regex(trim(lower(text)), '\\s+'))[1:2400000] AS t
  FROM documents WHERE trim(text) <> ''),
 chunks AS (
  SELECT doc_id, CAST(s / 24 AS BIGINT) AS chunk_idx,
    CAST(least(32, len(t) - s) AS BIGINT) AS n_tokens
  FROM toks, UNNEST(range(0, len(t), 24)) AS u(s)),
 sharded AS (
  SELECT *, CAST('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)),
    1, 15) AS BIGINT) % 16 AS shard
  FROM chunks),
 offs AS (
  SELECT doc_id, chunk_idx, shard,
    CAST(sum(n_tokens) OVER (PARTITION BY shard
      ORDER BY doc_id, chunk_idx) - n_tokens AS BIGINT) AS st
  FROM sharded)
SELECT doc_id, chunk_idx, shard,
  CAST(floor(st / 512) AS BIGINT) AS pack_seq,
  st % 512 AS pack_offset
FROM offs
"""

    # x36: identical IEEE-double quantize/dequantize expressions; the
    # 6dp-rounded cosine convention is the q12/x20 precedent
    o["x36_quantize_embeddings"] = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
 s AS (
  SELECT vec_id, e,
    list_max(list_transform(e, x -> abs(x))) AS scale
  FROM v),
 q AS (
  SELECT vec_id, e, scale,
    CASE WHEN scale = 0
      THEN list_transform(e, x -> CAST(0 AS INT))
      ELSE list_transform(e, x -> CAST(round(x * 127.0 / scale) AS INT))
    END AS qvec
  FROM s)
SELECT vec_id, round(scale, 6) AS scale,
  array_to_string(qvec, ',') AS qvec,
  CASE WHEN scale = 0 THEN 0.0 ELSE
    round(list_cosine_similarity(e,
      list_transform(qvec, y -> CAST(y AS DOUBLE) * scale / 127.0)), 6)
  END AS cos_fidelity
FROM q
"""

    # x37: exact percentiles — Spark `percentile` and DuckDB
    # `quantile_cont` both linearly interpolate over the sorted values
    o["x37_source_token_stats"] = f"""
SELECT source, count(*) AS n_docs,
  round(quantile_cont({_WORDS_EXPR}, 0.5), 6) AS p50,
  round(quantile_cont({_WORDS_EXPR}, 0.9), 6) AS p90,
  round(quantile_cont({_WORDS_EXPR}, 0.99), 6) AS p99,
  round(avg({_WORDS_EXPR}), 6) AS mean_tokens
FROM documents GROUP BY source
"""

    # x38: integer-only distinctive terms (tf desc, corpus df asc)
    o["x38_distinctive_terms"] = """
WITH tok AS (
  SELECT doc_id AS doc,
    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
  FROM documents WHERE trim(text) <> ''),
 tokf AS (SELECT doc, term FROM tok WHERE length(term) >= 4),
 tf AS (SELECT doc, term, count(*) AS tf FROM tokf GROUP BY 1, 2),
 dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
SELECT doc, rank, term, tf, df FROM (
  SELECT doc, term, tf, df,
    CAST(row_number() OVER (PARTITION BY doc
      ORDER BY tf DESC, df ASC, term ASC) AS BIGINT) AS rank
  FROM tf JOIN dfreq USING (term))
WHERE rank <= 3
"""

    # x39: identical 60-bit-hashed distinct 4-grams on both sides;
    # bench = every 20th doc, any shared gram hash
    o["x39_decontaminate"] = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents WHERE trim(text) <> ''),
 grams AS (
  SELECT DISTINCT doc_id,
    CAST('0x' || substr(md5(array_to_string(t[i:i+3], ' ')), 1, 15)
         AS BIGINT) AS g
  FROM toks, UNNEST(range(1, len(t) - 2)) AS u(i) WHERE len(t) >= 4)
SELECT t.doc_id AS train_doc, b.doc_id AS bench_doc,
  count(*) AS n_shared
FROM grams t JOIN grams b ON t.g = b.g
WHERE t.doc_id % 20 <> 0 AND b.doc_id % 20 = 0
GROUP BY 1, 2 HAVING count(*) >= 1
"""

    # x40: same synthesized 8-token paragraphs; corpus-wide first-wins
    # by (doc, pidx) order, docs reassembled from survivors
    o["x40_paragraph_dedup"] = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
  FROM documents WHERE trim(text) <> ''),
 paras AS (
  SELECT doc_id, CAST(s / 8 AS BIGINT) AS pidx,
    array_to_string(t[s + 1 : s + 8], ' ') AS para
  FROM toks, UNNEST(range(0, len(t), 8)) AS u(s)),
 kept AS (
  SELECT doc_id, pidx, para,
    row_number() OVER (PARTITION BY md5(para)
                       ORDER BY doc_id, pidx) AS rn
  FROM paras),
 stats AS (SELECT doc_id, count(*) AS n_paras FROM paras GROUP BY 1),
 reb AS (
  SELECT doc_id, string_agg(para, e'\\n\\n' ORDER BY pidx) AS clean_text,
    count(*) AS n_kept
  FROM kept WHERE rn = 1 GROUP BY doc_id)
SELECT s.doc_id, coalesce(r.clean_text, '') AS clean_text,
  s.n_paras, coalesce(r.n_kept, 0) AS n_kept
FROM stats s LEFT JOIN reb r ON s.doc_id = r.doc_id
"""

    # x41: the SQL chain is GENERATED from pii.PII_PATTERNS so the two
    # engines cannot drift (same order, same RE2-safe patterns; DuckDB
    # needs the 'g' flag Spark applies implicitly)
    from paperslicer_spark.functions.pii import PII_PATTERNS as _PII

    _pii_synth = (
        "text || ' contact user' || CAST(doc_id AS VARCHAR) || "
        "'@example.com or +1-555-867-' || "
        "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || "
        "' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || "
        "'.7 acct ' || lpad(CAST(doc_id AS VARCHAR), 11, '9')")
    _pii_ctes = [f"s0 AS (SELECT doc_id, {_pii_synth} AS t FROM documents)"]
    for _i, (_kind, _pat0, _rep0) in enumerate(_PII, start=1):
        # single-quote-escape the spliced literals (round-4 ADVICE):
        # a future pattern/replacement with an apostrophe must not
        # silently corrupt the generated SQL
        _pat = _pat0.replace("'", "''")
        _rep = _rep0.replace("'", "''")
        _carry = "".join(f", n_{k}" for k, _, _ in _PII[:_i - 1])
        _pii_ctes.append(
            f"s{_i} AS (SELECT doc_id, "
            f"CAST(len(regexp_extract_all(t, '{_pat}')) AS BIGINT) "
            f"AS n_{_kind}, "
            f"regexp_replace(t, '{_pat}', '{_rep}', 'g') AS t"
            f"{_carry} FROM s{_i - 1})")
    _pii_total = " + ".join(f"n_{k}" for k, _, _ in _PII)
    o["x41_redact_pii"] = (
        "WITH " + ",\n ".join(_pii_ctes)
        + f"\nSELECT doc_id, t AS clean_text, "
        + ", ".join(f"n_{k}" for k, _, _ in _PII)
        + f", {_pii_total} AS n_redacted FROM s{len(_PII)}"
    )

    # x42: identical seeded-md5 rank (salt 'samplek:', 60-bit prefix)
    # x43: DuckDB has native ASOF JOIN with identical at-or-before
    # semantics; epoch-microsecond ints avoid timestamp formatting
    o["x43_asof_join"] = """
WITH clicks AS (
  SELECT event_id, user_id, ts, value FROM events
  WHERE event_type = 'click'),
 views AS (
  SELECT user_id, ts, event_id AS view_id, value AS view_value
  FROM events WHERE event_type = 'view')
SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us, c.value,
  epoch_us(v.ts) AS view_ts_us, v.view_id, v.view_value
FROM clicks c ASOF LEFT JOIN views v
  ON c.user_id = v.user_id AND v.ts <= c.ts
"""

    # x44: the oracle is the NAIVE inequality join — DuckDB handles
    # the small sf fine; epoch differences computed in microseconds
    o["x44_range_join"] = """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
 errors AS (
  SELECT user_id, ts, event_id AS err_id, value AS err_value
  FROM events WHERE event_type = 'error')
SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
  epoch_us(e.ts) AS err_ts_us, e.err_id, e.err_value
FROM clicks c JOIN errors e
  ON c.user_id = e.user_id
 AND epoch_us(e.ts) - epoch_us(c.ts) BETWEEN 0 AND 14400000000
"""

    # x45: Spark's sliding window = each event replicated into the
    # windowDuration/slide = 4 hour-aligned windows covering it
    o["x45_sliding_rates"] = """
WITH e AS (
  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h,
         event_type, value
  FROM events),
 x AS (
  SELECT h - 3600 * i AS win_start, event_type, value
  FROM e, UNNEST(range(0, 4)) AS u(i))
SELECT win_start, event_type, count(*) AS n,
  CAST(sum(round(value * 100)) AS BIGINT) AS sum_value_cents
FROM x GROUP BY 1, 2
"""

    # x46: one global window cumsum in SQL (the oracle corpus is
    # small); same 60-bit salted hash order, boundary doc included
    # only if it does not cross the budget
    o["x46_token_budget_cut"] = f"""
SELECT doc_id, cum_tokens FROM (
  SELECT doc_id,
    CAST(sum(wc) OVER (ORDER BY h, doc_id) AS BIGINT) AS cum_tokens
  FROM (
    SELECT doc_id, {_WORDS_EXPR} AS wc,
      CAST('0x' || substr(md5('budget:' || CAST(doc_id AS VARCHAR)),
           1, 15) AS BIGINT) AS h
    FROM documents))
WHERE cum_tokens <= 5000
"""

    # x47: identical ROLLUP levels; DuckDB GROUPING() bits compose to
    # Spark's grouping_id (r_name bit 1... actually bit order: Spark
    # grouping_id = grouping(r_name)*2 + grouping(n_name))
    o["x47_rollup_acctbal"] = """
SELECT r_name, n_name, count(*) AS n_customers,
  CAST(sum(round(c_acctbal * 100)) AS BIGINT) AS acctbal_cents,
  CAST(grouping(r_name) * 2 + grouping(n_name) AS BIGINT) AS gid
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""

    # x48: identical rate derivation (pow/least/round in IEEE double)
    # and the same salted-hash bucket rule
    o["x48_temperature_mix"] = """
WITH counts AS (
  SELECT source, count(*) AS n FROM documents GROUP BY source),
 tw AS (SELECT sum(pow(CAST(n AS DOUBLE), 0.5)) AS t FROM counts),
 rates AS (
  SELECT source,
    CAST(round(10000 * least(1.0,
      200.0 * pow(CAST(n AS DOUBLE), 0.5) / t / n)) AS BIGINT)
      AS mix_rate_bucket
  FROM counts, tw)
SELECT d.doc_id, d.source, r.mix_rate_bucket
FROM documents d JOIN rates r ON d.source = r.source
WHERE CAST('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)),
      1, 15) AS BIGINT) % 10000 < r.mix_rate_bucket
"""

    # x49: generated from the SAME constants as clean_unicode — the
    # literal digraph fixes, drop-class and space-class patterns
    from paperslicer_spark.functions.pii import (CLEAN_DROP_PATTERN,
                                                 CLEAN_SPACE_PATTERN,
                                                 MOJIBAKE_FIXES as _MJ)

    def _sqlstr(txt: str) -> str:
        # DuckDB literal with every non-printable spliced as chr(n)
        # (control chars inside a quoted literal break the parser)
        parts, buf = [], ""
        for ch in txt:
            if 32 <= ord(ch) < 127 or 0xA1 <= ord(ch) <= 0x2FFF \
                    and ch.isprintable():
                buf += ch * 2 if ch == "'" else ch
            else:
                if buf:
                    parts.append(f"'{buf}'")
                    buf = ""
                parts.append(f"chr({ord(ch)})")
        if buf:
            parts.append(f"'{buf}'")
        return " || ".join(parts) if parts else "''"

    _u_inj_py = (" caf" + _MJ[0][0] + "\u00a0plus\u200b" + _MJ[5][0]
                 + "s\u0001end")
    _u_ctes = [f"c0 AS (SELECT doc_id, text || {_sqlstr(_u_inj_py)} "
               "AS t FROM documents)"]
    for _i, (_bad, _good) in enumerate(_MJ, start=1):
        _carry = "".join(f", m{_j}" for _j in range(1, _i))
        _u_ctes.append(
            f"c{_i} AS (SELECT doc_id, "
            f"replace(t, {_sqlstr(_bad)}, {_sqlstr(_good)}) AS t, "
            f"CAST(length(t) - length(replace(t, {_sqlstr(_bad)}, '')) "
            f"AS DOUBLE) / {len(_bad)} AS m{_i}{_carry} "
            f"FROM c{_i - 1})")
    _u_moji = " + ".join(f"m{_j}" for _j in range(1, len(_MJ) + 1))
    o["x49_clean_unicode"] = (
        "WITH " + ",\n ".join(_u_ctes) + f"""
SELECT doc_id,
  regexp_replace(regexp_replace(t, '{CLEAN_DROP_PATTERN}', '', 'g'),
                 '{CLEAN_SPACE_PATTERN}', ' ', 'g') AS clean_text,
  CAST(round({_u_moji}
    + (length(t) - length(regexp_replace(t, '{CLEAN_DROP_PATTERN}',
                                         '', 'g')))
    + len(regexp_extract_all(t, '{CLEAN_SPACE_PATTERN}'))) AS BIGINT)
    AS n_fixed
FROM c{len(_MJ)}
""")

    # x50: pivot as conditional aggregation (identical semantics)
    o["x50_event_pivot"] = """
SELECT user_id,
  count(*) FILTER (event_type = 'click') AS n_click,
  count(*) FILTER (event_type = 'view') AS n_view,
  count(*) FILTER (event_type = 'purchase') AS n_purchase,
  count(*) FILTER (event_type = 'signup') AS n_signup,
  count(*) FILTER (event_type = 'error') AS n_error
FROM events GROUP BY user_id
"""

    # x51: same R-7 interpolation (quantile_cont), same 6dp clip
    o["x51_winsorize"] = """
WITH p AS (
  SELECT quantile_cont(value, 0.05) AS p05,
         quantile_cont(value, 0.95) AS p95
  FROM events)
SELECT event_id, value,
  round(least(greatest(value, p05), p95), 6) AS clipped,
  value < p05 AS was_low, value > p95 AS was_high
FROM events, p
"""

    # x52: identical synthesized 6-token lines (punct/banned injection
    # keyed on (doc_id + line_idx)), identical per-line C4 predicate
    o["x52_c4_line_filter"] = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
  FROM documents WHERE trim(text) <> ''),
 lines AS (
  SELECT doc_id, s // 6 AS idx,
    array_to_string(t[s + 1 : s + 6], ' ')
    || CASE WHEN (doc_id + s // 6) % 7 = 0 THEN ' javascript'
            ELSE '' END
    || CASE WHEN (doc_id + s // 6) % 3 <> 0 THEN '.' ELSE '' END
    AS line
  FROM toks, UNNEST(range(0, len(t), 6)) AS u(s)),
 kept AS (
  SELECT doc_id, idx, line FROM lines
  WHERE len(string_split_regex(trim(line), '\\s+')) >= 3
    AND trim(line) <> ''
    AND regexp_matches(trim(line), '[.!?"]$')
    AND NOT contains(lower(trim(line)), 'lorem ipsum')
    AND NOT contains(lower(trim(line)), 'javascript')),
 stats AS (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY 1),
 reb AS (
  SELECT doc_id, string_agg(line, e'\\n' ORDER BY idx) AS clean_text,
    count(*) AS n_kept
  FROM kept GROUP BY doc_id)
SELECT s.doc_id AS doc, coalesce(r.clean_text, '') AS clean_text,
  s.n_lines, coalesce(r.n_kept, 0) AS n_kept
FROM stats s LEFT JOIN reb r ON s.doc_id = r.doc_id
"""

    # x53: same top-20 vocab (count desc, token asc), same add-one
    # smoothing arithmetic in IEEE doubles
    o["x53_unigram_logprob"] = """
WITH toks AS (
  SELECT doc_id AS doc,
    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
  FROM documents WHERE trim(text) <> ''),
 cnt AS (SELECT w, count(*) AS c FROM toks GROUP BY 1),
 vocab AS (SELECT w, c FROM cnt ORDER BY c DESC, w ASC LIMIT 20),
 tot AS (SELECT count(*) AS n FROM toks),
 vc AS (SELECT count(*) AS v FROM vocab),
 sc AS (SELECT t.doc, vb.c AS c FROM toks t
        LEFT JOIN vocab vb ON t.w = vb.w)
SELECT doc, count(*) AS n_tokens,
  round(avg(CASE WHEN c IS NULL THEN 1.0 ELSE 0.0 END), 6) AS oov_frac,
  round(avg(log10((coalesce(c, 0) + 1.0) / (n + v + 1))), 6)
    AS mean_logp
FROM sc, tot, vc GROUP BY doc
"""

    # x54: synthesized 5-token lines for the dup-line stats; top-3/4-
    # gram occupancy via the UNNEST+GROUP twin of the max-run pass
    o["x54_repetition_stats"] = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t,
    string_split_regex(trim(lower(text)), '\\s+') AS tl
  FROM documents WHERE trim(text) <> ''),
 lines AS (
  SELECT doc_id, array_to_string(t[s + 1 : s + 5], ' ') AS line
  FROM toks, UNNEST(range(0, len(t), 5)) AS u(s)),
 lstat AS (
  SELECT doc_id, count(*) AS n_lines,
    count(DISTINCT line) AS n_distinct,
    sum(len(line)) AS chars
  FROM lines GROUP BY 1),
 dchars AS (
  SELECT doc_id, sum(len(line)) AS chars_distinct
  FROM (SELECT DISTINCT doc_id, line FROM lines) GROUP BY 1),
 g3 AS (SELECT doc_id, tl[i] || ' ' || tl[i+1] || ' ' || tl[i+2] AS g
        FROM toks, UNNEST(range(1, len(tl) - 1)) AS u(i)
        WHERE len(tl) >= 3),
 g4 AS (SELECT doc_id,
          tl[i] || ' ' || tl[i+1] || ' ' || tl[i+2] || ' ' || tl[i+3] AS g
        FROM toks, UNNEST(range(1, len(tl) - 2)) AS u(i)
        WHERE len(tl) >= 4),
 t3 AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n FROM
        (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2)
        GROUP BY 1),
 t4 AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n FROM
        (SELECT doc_id, g, count(*) AS c FROM g4 GROUP BY 1, 2)
        GROUP BY 1)
SELECT l.doc_id AS doc, l.n_lines,
  round(CAST(l.n_lines - l.n_distinct AS DOUBLE) / l.n_lines, 6)
    AS dup_line_frac,
  CASE WHEN l.chars > 0 THEN
    round(CAST(l.chars - d.chars_distinct AS DOUBLE) / l.chars, 6)
  ELSE 0.0 END AS dup_line_char_frac,
  coalesce(round(CAST(t3.top_c AS DOUBLE) / t3.n, 6), 0.0)
    AS frac_top_trigram,
  coalesce(round(CAST(t4.top_c AS DOUBLE) / t4.n, 6), 0.0)
    AS frac_top_fourgram
FROM lstat l
JOIN dchars d ON l.doc_id = d.doc_id
LEFT JOIN t3 ON l.doc_id = t3.doc_id
LEFT JOIN t4 ON l.doc_id = t4.doc_id
"""

    # x55: SemDeDup — x15's frozen-centroid assignment, within-cluster
    # cosine pairs at 6dp, x29's recursive reach CTE for the groups
    o["x55_semdedup"] = f"""
WITH RECURSIVE
 cent AS (SELECT list_id, center FROM '{_FIX}/ivf_centroids.parquet'),
 v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
 dists AS (
   SELECT v.vec_id, c.list_id,
     round(list_distance(v.e, CAST(c.center AS DOUBLE[])), 6) AS dist
   FROM v CROSS JOIN cent c),
 assign AS (
   SELECT vec_id, list_id FROM (
     SELECT vec_id, list_id,
       row_number() OVER (PARTITION BY vec_id
                          ORDER BY dist, list_id) AS rn
     FROM dists) WHERE rn = 1),
 pairs AS (
   SELECT a1.vec_id AS id_a, a2.vec_id AS id_b
   FROM assign a1
   JOIN assign a2 ON a1.list_id = a2.list_id AND a1.vec_id < a2.vec_id
   JOIN v v1 ON v1.vec_id = a1.vec_id
   JOIN v v2 ON v2.vec_id = a2.vec_id
   WHERE round(list_cosine_similarity(v1.e, v2.e), 6) >= 0.4),
 edges AS (SELECT id_a AS s, id_b AS d FROM pairs
           UNION SELECT id_b, id_a FROM pairs),
 reach AS (
   SELECT s AS node, d AS other FROM edges
   UNION
   SELECT r.node, e.d FROM reach r JOIN edges e ON e.s = r.other),
 lab AS (
   SELECT node, least(node, min(other)) AS rep FROM reach GROUP BY node)
SELECT a.vec_id, a.list_id,
  coalesce(l.rep, a.vec_id) AS rep_id,
  coalesce(l.rep, a.vec_id) = a.vec_id AS is_rep
FROM assign a LEFT JOIN lab l ON a.vec_id = l.node
"""

    # x56: full independent recomputation — same synthesized new
    # batch, corpus md5 set for the exact flag, x09's minhash/band
    # machinery on BOTH relations for the near flag
    _x56_bands = ", ".join(
        "(" + " || '_' || ".join(
            f"CAST(mh{b * 3 + r} AS VARCHAR)" for r in range(3))
        + f") AS bk{b}" for b in range(4))
    _x56_unp = " UNION ALL ".join(
        f"SELECT doc, {b} AS band, bk{b} AS bkey FROM nsig2"
        for b in range(4))
    _x56_unc = " UNION ALL ".join(
        f"SELECT doc, {b} AS band, bk{b} AS bkey FROM csig2"
        for b in range(4))
    o["x56_delta_dedup"] = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE trim(text) <> ''),
 newdocs AS (
  SELECT doc_id + 100000 AS doc_id, text FROM corpus WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 100000, text || ' appended audit trailer tokens'
  FROM corpus WHERE doc_id % 10 = 1
  UNION ALL
  SELECT doc_id + 100000,
    array_to_string(list_reverse(string_split_regex(trim(text), '\\s+')),
                    ' ') || ' brand new content'
  FROM corpus WHERE doc_id % 10 = 2),
 ch AS (SELECT DISTINCT md5(text) AS h FROM corpus),
 ntoks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+')
           AS t FROM newdocs WHERE trim(text) <> ''),
 ngrams AS (SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2]
            AS shingle
            FROM ntoks, UNNEST(range(1, len(t) - 1)) AS u(i)
            WHERE len(t) >= 3),
 nsh AS (SELECT DISTINCT doc_id AS doc, shingle FROM ngrams),
 ctoks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+')
           AS t FROM corpus),
 cgrams AS (SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2]
            AS shingle
            FROM ctoks, UNNEST(range(1, len(t) - 1)) AS u(i)
            WHERE len(t) >= 3),
 csh AS (SELECT DISTINCT doc_id AS doc, shingle FROM cgrams),
 nsig AS (SELECT doc, {", ".join(_mh_expr(j) for j in range(12))}
          FROM nsh GROUP BY doc),
 csig AS (SELECT doc, {", ".join(_mh_expr(j) for j in range(12))}
          FROM csh GROUP BY doc),
 nsig2 AS (SELECT doc, {_x56_bands} FROM nsig),
 csig2 AS (SELECT doc, {_x56_bands} FROM csig),
 nbands AS ({_x56_unp}),
 cbands AS (SELECT DISTINCT band, bkey FROM ({_x56_unc})),
 nearids AS (
   SELECT DISTINCT n.doc FROM nbands n
   JOIN cbands c ON n.band = c.band AND n.bkey = c.bkey)
SELECT nd.doc_id,
  md5(nd.text) IN (SELECT h FROM ch) AS exact_dup,
  nd.doc_id IN (SELECT doc FROM nearids) AS near_dup,
  NOT (md5(nd.text) IN (SELECT h FROM ch))
    AND NOT (nd.doc_id IN (SELECT doc FROM nearids)) AS keep
FROM newdocs nd
"""

    # x57: pure arithmetic on the per-stratum aggregate; the weight
    # CASE mirrors epoch_mix's sorted-dict construction
    o["x57_epoch_mix"] = f"""
WITH agg AS (
  SELECT lang AS stratum, count(*) AS n_docs,
    CAST(sum({_WORDS_EXPR}) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1),
 w AS (
  SELECT *, round(CASE stratum WHEN 'de' THEN 0.2 WHEN 'en' THEN 0.6
                  ELSE 0.1 END / 0.8, 6) AS weight
  FROM agg),
 t AS (
  SELECT *, CAST(round(100000 * weight) AS BIGINT) AS target_tokens
  FROM w),
 e AS (
  SELECT *, round(least(4.0, CAST(target_tokens AS DOUBLE)
                             / greatest(n_tokens, 1)), 6) AS epochs
  FROM t)
SELECT stratum, n_docs, n_tokens, weight, target_tokens, epochs,
  CAST(round(epochs * n_tokens) AS BIGINT) AS effective_tokens
FROM e
"""

    # x58: RANGE-frame trailing window — peers at equal ts are
    # included by both engines' RANGE semantics; integer-µs ordering
    o["x58_rolling_agg"] = """
SELECT event_id, user_id,
  count(*) OVER w AS w_count,
  round(sum(value) OVER w, 6) AS w_sum,
  round(avg(value) OVER w, 6) AS w_mean
FROM (SELECT event_id, user_id, value, epoch_us(ts) AS tus FROM events)
WINDOW w AS (PARTITION BY user_id ORDER BY tus
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""

    # x59: count-min sketch — same 28-bit md5 base + affine family
    # (constants from minhash_affine_params, the cannot-drift pattern)
    _cms_p = DD.minhash_affine_params(4)

    def _cms_bkt(j: int) -> str:
        a, b = _cms_p[j]
        return f"((({a} * h + {b}) % {DD.MINHASH_PRIME}) % 256)"

    _cms_sk_union = " UNION ALL ".join(
        f"SELECT {j} AS j, {_cms_bkt(j)} AS bucket FROM hashes"
        for j in range(4))
    _cms_pb_union = " UNION ALL ".join(
        f"SELECT token, {j} AS j, {_cms_bkt(j)} AS bucket FROM phash"
        for j in range(4))
    o["x59_cms_counts"] = f"""
WITH toks AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
  FROM documents WHERE trim(text) <> ''),
 hashes AS (
  SELECT CAST('0x' || substr(md5(token), 1, 7) AS BIGINT) AS h
  FROM toks),
 sk AS (
  SELECT j, bucket, count(*) AS c
  FROM ({_cms_sk_union}) GROUP BY 1, 2),
 exact AS (SELECT token, count(*) AS exact FROM toks GROUP BY 1),
 probes AS (
  SELECT token, exact FROM exact
  ORDER BY exact DESC, token ASC LIMIT 10),
 probes2 AS (
  SELECT token, exact FROM probes
  UNION ALL SELECT 'zz_absent_token', 0),
 phash AS (
  SELECT token,
    CAST('0x' || substr(md5(token), 1, 7) AS BIGINT) AS h
  FROM probes2),
 est AS (
  SELECT p.token, min(coalesce(sk.c, 0)) AS est
  FROM ({_cms_pb_union}) p
  LEFT JOIN sk ON p.j = sk.j AND p.bucket = sk.bucket
  GROUP BY 1)
SELECT p.token, p.exact, e.est
FROM probes2 p JOIN est e ON p.token = e.token
"""

    # x60: HyperLogLog — the 512-register relation reproduced exactly
    # from the same 28-bit md5 base hash; the estimate arithmetic is
    # mirrored term-for-term with the shared hll_alpha literal spliced
    # into both engines (register sum is exact in double, so the
    # estimate is bit-deterministic)
    from paperslicer_spark.operators.sketch import hll_alpha as _hll_a
    _a512 = repr(_hll_a(512))
    o["x60_hll_distinct"] = f"""
WITH toks AS (
  SELECT md5(text) AS token
  FROM documents WHERE trim(text) <> ''),
 h AS (
  SELECT CAST('0x' || substr(md5(token), 1, 7) AS BIGINT) AS h
  FROM toks),
 regs AS (
  SELECT CAST(h % 512 AS INT) AS bucket,
    CAST(max(CASE WHEN h // 512 = 0 THEN 20
             ELSE 20 - length(bin(h // 512)) END) AS INT) AS r
  FROM h GROUP BY 1),
 s AS (SELECT count(*) AS nonzero,
              sum(power(2.0, -r)) AS sp FROM regs),
 ex AS (SELECT count(DISTINCT token) AS exact FROM toks),
 est AS (
  SELECT 512 AS m, nonzero,
    round(CASE WHEN (CAST({_a512} AS DOUBLE) * 512.0 * 512.0 / (sp + (512 - nonzero)))
                 <= 1280.0 AND (512 - nonzero) > 0
          THEN 512.0 * ln(512.0 / (512 - nonzero))
          ELSE CAST({_a512} AS DOUBLE) * 512.0 * 512.0 / (sp + (512 - nonzero)) END,
          4) AS est
  FROM s)
SELECT regs.bucket, regs.r, est.m, est.nonzero, est.est, ex.exact
FROM regs, est, ex
"""

    # x61: hashed linear classifier — integer weights derived from
    # md5('w:'||bucket), exact bigint sum (HUGEINT cast per the
    # CLAUDE.md rule), single final division
    o["x61_classifier_score"] = """
WITH toks AS (
  SELECT doc_id AS doc,
    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t
  FROM documents WHERE trim(text) <> ''),
 w AS (
  SELECT doc,
    (CAST('0x' || substr(md5('w:' || CAST(
        CAST('0x' || substr(md5(t), 1, 7) AS BIGINT) % 4096
      AS VARCHAR)), 1, 7) AS BIGINT) % 2001) - 1000 AS w
  FROM toks)
SELECT doc, count(*) AS n_tokens,
  CAST(sum(w) AS BIGINT) AS score_raw,
  round(CAST(sum(w) AS BIGINT) / CAST(count(*) AS DOUBLE), 6)
    AS mean_w,
  (CAST(sum(w) AS BIGINT) > 0.0 * count(*)) AS keep
FROM w GROUP BY doc
"""

    # x62: DSIR — hashed uni+bigram features, add-one models over
    # 1024 buckets, mean log10 ratio (round-6, the x53 precedent)
    _dsir_grams = """
  SELECT doc, unnest(CASE WHEN len(tk) < 2 THEN tk
    ELSE tk || list_transform(range(1, len(tk)),
                              i -> tk[i] || ' ' || tk[i+1]) END)
    AS gram
  FROM (SELECT doc_id AS doc,
          string_split_regex(trim(lower(text)), '\\s+') AS tk
        FROM documents WHERE trim(text) <> '' {pred})
"""
    o["x62_dsir_weights"] = f"""
WITH rawg AS (
  SELECT doc,
    CAST('0x' || substr(md5(gram), 1, 7) AS BIGINT) % 1024 AS bucket
  FROM ({_dsir_grams.format(pred="")})),
 tgtg AS (
  SELECT doc,
    CAST('0x' || substr(md5(gram), 1, 7) AS BIGINT) % 1024 AS bucket
  FROM ({_dsir_grams.format(pred="AND lang = 'de'")})),
 rc AS (SELECT bucket, count(*) AS cr FROM rawg GROUP BY 1),
 tc AS (SELECT bucket, count(*) AS ct FROM tgtg GROUP BY 1),
 nr AS (SELECT count(*) AS nr FROM rawg),
 nt AS (SELECT count(*) AS nt FROM tgtg)
SELECT doc, count(*) AS n_features,
  round(avg(log10((coalesce(ct, 0) + 1.0) / (nt + 1024)) -
            log10((coalesce(cr, 0) + 1.0) / (nr + 1024))), 6)
    AS log_ratio
FROM rawg
LEFT JOIN rc USING (bucket)
LEFT JOIN tc USING (bucket), nr, nt
GROUP BY doc
"""

    # x65: substring dedup — same 5-step recipe in SQL: gram hashes,
    # rank-per-hash firsts, span islands (two-step window: flag then
    # cumulative sum), ordered piece concat
    o["x65_substring_dedup"] = """
WITH docs AS (
  SELECT doc_id, text FROM documents WHERE trim(text) <> ''),
 grams AS (
  SELECT doc_id, CAST(p AS BIGINT) AS pos,
    md5(substr(text, CAST(p + 1 AS INT), 30)) AS h
  FROM docs, UNNEST(range(0, len(text) - 29)) AS u(p)
  WHERE len(text) >= 30),
 ranked AS (
  SELECT doc_id, pos, h,
    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
    count(*) OVER (PARTITION BY h) AS cnt
  FROM grams),
 dup AS (
  SELECT doc_id, pos AS s, pos + 30 AS e
  FROM ranked WHERE cnt > 1 AND rn > 1),
 flag AS (
  SELECT doc_id, s, e,
    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id
      ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      -1) THEN 1 ELSE 0 END AS is_new
  FROM dup),
 isl AS (
  SELECT doc_id, s, e,
    sum(is_new) OVER (PARTITION BY doc_id ORDER BY s
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flag),
 merged AS (
  SELECT doc_id, min(s) AS s, max(e) AS e
  FROM isl GROUP BY doc_id, island),
 pieces AS (
  SELECT doc_id, s, e,
    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS pe
  FROM merged),
 agged AS (
  SELECT p.doc_id, count(*) AS n_spans,
    CAST(sum(e - s) AS BIGINT) AS chars_removed,
    max(e) AS last_e,
    string_agg(substr(d.text, CAST(pe + 1 AS INT),
                      CAST(s - pe AS INT)), '' ORDER BY s) AS kept
  FROM pieces p JOIN docs d USING (doc_id) GROUP BY p.doc_id)
SELECT d.doc_id AS doc,
  CASE WHEN a.doc_id IS NULL THEN d.text
       ELSE coalesce(a.kept, '') ||
            substr(d.text, CAST(a.last_e + 1 AS INT)) END AS text_clean,
  coalesce(a.n_spans, 0) AS n_spans,
  coalesce(a.chars_removed, 0) AS chars_removed
FROM docs d LEFT JOIN agged a USING (doc_id)
"""

    # x66: unrolled 2-iteration Lloyd k-means — seeded (md5, id) init,
    # 6dp-rounded distances with list_id tiebreak, 6dp-rounded per-dim
    # means between iterations (identical cross-engine centroids)
    def _km_iter(cent_cte: str, i: int) -> str:
        return f"""
 s{i} AS (
  SELECT vec_id, list_id,
    round(list_distance(v, center), 6) AS d
  FROM v CROSS JOIN {cent_cte}),
 a{i} AS (
  SELECT vec_id, list_id, d FROM (
    SELECT s{i}.*, row_number() OVER (PARTITION BY vec_id
      ORDER BY d, list_id) AS r FROM s{i}) WHERE r = 1),
 m{i} AS (
  SELECT a{i}.list_id, p AS ord,
    round(avg(v.v[CAST(p + 1 AS INT)]), 6) AS m
  FROM a{i} JOIN v USING (vec_id), UNNEST(range(0, 64)) AS u(p)
  GROUP BY 1, 2),
 c{i} AS (
  SELECT list_id, list(m ORDER BY ord) AS center
  FROM m{i} GROUP BY 1)"""

    o["x66_kmeans_lloyd"] = f"""
WITH v AS (
  SELECT vec_id,
    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
 seeds AS (
  SELECT vec_id, v, row_number() OVER (
    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
  FROM v),
 c0 AS (
  SELECT CAST(rn AS INT) AS list_id,
    list_transform(v, x -> round(x, 6)) AS center
  FROM seeds WHERE rn <= 8),{_km_iter("c0", 1)},{_km_iter("c1", 2)},
 sF AS (
  SELECT vec_id, list_id,
    round(list_distance(v, center), 6) AS d
  FROM v CROSS JOIN c2)
SELECT vec_id, list_id, d AS dist FROM (
  SELECT sF.*, row_number() OVER (PARTITION BY vec_id
    ORDER BY d, list_id) AS r FROM sF) WHERE r = 1
"""

    # x67: Efraimidis-Spirakis priority sample — u from the 60-bit
    # md5 prefix, key = ln(u)/w rounded 6dp; the (CAST(h AS DOUBLE)
    # + 1) form mirrors Spark's cast-then-add exactly (a bigint
    # h+1-then-cast can differ by 1 ulp near 2^60)
    o["x67_weighted_sample"] = f"""
WITH b AS (
  SELECT doc_id, CAST({_WORDS_EXPR} AS DOUBLE) AS w,
    CAST('0x' || substr(md5('wsample:' || CAST(doc_id AS VARCHAR)),
         1, 15) AS BIGINT) AS h
  FROM documents),
 keyed AS (
  SELECT doc_id, CAST(w AS BIGINT) AS weight,
    round(ln((CAST(h AS DOUBLE) + 1) / 1152921504606846977.0) / w, 6)
      AS key
  FROM b WHERE w > 0),
 ranked AS (
  SELECT doc_id, weight, key, CAST(row_number() OVER (
    ORDER BY key DESC, doc_id) AS BIGINT) AS rank
  FROM keyed)
SELECT doc_id, weight, key, rank FROM ranked WHERE rank <= 100
"""

    # x63: log-binned histogram quantiles — bin = bit_length(words)
    # via length(bin(v)) in both engines; quantile = lower bound of
    # the first bin whose cumulative count reaches ceil(q*n)
    o["x63_hist_quantiles"] = f"""
WITH vals AS (
  SELECT source, CAST({_WORDS_EXPR} AS BIGINT) AS v FROM documents),
 hist AS (
  SELECT source,
    CAST(CASE WHEN v <= 0 THEN 0 ELSE length(bin(v)) END AS INT)
      AS bin,
    count(*) AS c
  FROM vals GROUP BY 1, 2),
 cums AS (
  SELECT source, bin, c,
    sum(c) OVER (PARTITION BY source ORDER BY bin
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS cum,
    sum(c) OVER (PARTITION BY source) AS n
  FROM hist),
 picks AS (
  SELECT source, max(n) AS n,
    min(CASE WHEN cum >= ceil(0.5 * n) THEN bin END) AS b50,
    min(CASE WHEN cum >= ceil(0.9 * n) THEN bin END) AS b90,
    min(CASE WHEN cum >= ceil(0.99 * n) THEN bin END) AS b99
  FROM cums GROUP BY 1)
SELECT source, n,
  CASE WHEN b50 <= 0 THEN 0 ELSE CAST(1 AS BIGINT) << (b50 - 1) END
    AS p50_lo,
  CASE WHEN b90 <= 0 THEN 0 ELSE CAST(1 AS BIGINT) << (b90 - 1) END
    AS p90_lo,
  CASE WHEN b99 <= 0 THEN 0 ELSE CAST(1 AS BIGINT) << (b99 - 1) END
    AS p99_lo
FROM picks
"""

    # x64: Bloom filter — set bits + probe membership under the same
    # affine family as x59 (k=4, m=65536)
    _bl_p = DD.minhash_affine_params(4)

    def _bl_bit(j: int) -> str:
        a, b = _bl_p[j]
        return f"((({a} * h + {b}) % {DD.MINHASH_PRIME}) % 65536)"

    _bl_bits_union = " UNION ALL ".join(
        f"SELECT {_bl_bit(j)} AS bit FROM ih" for j in range(4))
    _bl_pb_union = " UNION ALL ".join(
        f"SELECT item, {_bl_bit(j)} AS bit FROM ph" for j in range(4))
    o["x64_bloom_gate"] = f"""
WITH items AS (
  SELECT md5(text) AS item FROM documents WHERE trim(text) <> ''),
 ih AS (SELECT CAST('0x' || substr(md5(item), 1, 7) AS BIGINT) AS h
        FROM items),
 bits AS (SELECT DISTINCT bit FROM ({_bl_bits_union})),
 sample AS (SELECT DISTINCT md5(text) AS item FROM documents
            WHERE trim(text) <> '' AND doc_id % 7 = 0),
 probes AS (SELECT item FROM sample
            UNION ALL
            SELECT 'absent_' || CAST(i AS VARCHAR)
            FROM range(30) t(i)),
 ph AS (SELECT item,
          CAST('0x' || substr(md5(item), 1, 7) AS BIGINT) AS h
        FROM probes),
 pb AS ({_bl_pb_union}),
 mem AS (
  SELECT p.item,
    (sum(CASE WHEN b.bit IS NOT NULL THEN 1 ELSE 0 END) = 4)
      AS might_contain
  FROM pb p LEFT JOIN bits b ON p.bit = b.bit GROUP BY 1),
 pres AS (
  SELECT pr.item,
    (max(CASE WHEN it.item IS NOT NULL THEN 1 ELSE 0 END) = 1)
      AS present
  FROM probes pr LEFT JOIN (SELECT DISTINCT item FROM items) it
    ON pr.item = it.item GROUP BY 1)
SELECT m.item, m.might_contain, p.present
FROM mem m JOIN pres p ON m.item = p.item
"""

    o["x42_exact_k_sample"] = """
SELECT doc_id, source, sample_rank FROM (
  SELECT doc_id, source,
    CAST(row_number() OVER (PARTITION BY source
      ORDER BY CAST('0x' || substr(md5('samplek:' ||
        CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT), doc_id)
      AS BIGINT) AS sample_rank
  FROM documents)
WHERE sample_rank <= 15
"""

    o["x20_cosine_dup_pairs"] = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) >= 0.4
"""
    _bucket8 = ("array_to_string(list_transform(embedding[1:8], "
                "x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '')")
    o["x21_cosine_dup_pairs_lsh"] = f"""
WITH e AS (SELECT vec_id, embedding, {_bucket8} AS bucket FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cos
FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) >= 0.4
"""

    # x15: full replay of the frozen-quantizer IVF path — nearest-list
    # assignment (Euclidean, 6dp-rounded, list_id tiebreak), n_probe=4
    # probing, cosine top-5 — from fixtures/ivf_centroids.parquet.
    o["x15_ivf_topk"] = f"""
WITH cent AS (SELECT list_id, center FROM '{_FIX}/ivf_centroids.parquet'),
 dists AS (
   SELECT e.vec_id, c.list_id,
     round(list_distance(CAST(e.embedding AS DOUBLE[]),
                         CAST(c.center AS DOUBLE[])), 6) AS dist
   FROM embeddings e CROSS JOIN cent c),
 assign AS (
   SELECT vec_id, list_id FROM (
     SELECT vec_id, list_id,
       row_number() OVER (PARTITION BY vec_id
                          ORDER BY dist, list_id) AS rn
     FROM dists) WHERE rn = 1),
 probes AS (
   SELECT vec_id AS query_id, list_id FROM (
     SELECT vec_id, list_id,
       row_number() OVER (PARTITION BY vec_id
                          ORDER BY dist, list_id) AS rn
     FROM dists WHERE vec_id < 8) WHERE rn <= 4),
 scored AS (
   SELECT p.query_id, a.vec_id AS neighbor_id,
     round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                  CAST(n.embedding AS DOUBLE[])), 6) AS cos
   FROM probes p
   JOIN assign a ON a.list_id = p.list_id AND a.vec_id <> p.query_id
   JOIN embeddings q ON q.vec_id = p.query_id
   JOIN embeddings n ON n.vec_id = a.vec_id)
SELECT query_id, neighbor_id, rank, cos FROM (
  SELECT query_id, neighbor_id,
    CAST(row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank,
    cos
  FROM scored) WHERE rank <= 5
"""

    # x09: full INDEPENDENT SQL recomputation of MinHash-LSH banding
    # (12 md5-based minhashes, 4 bands × 3 rows, band-key equi-join)
    bands_union = "\nUNION ALL\n".join(
        f"SELECT doc, {b} AS band, "
        + " || '_' || ".join(
            f"CAST(mh{b * 3 + r} AS VARCHAR)" for r in range(3))
        + " AS bkey FROM sig"
        for b in range(4))
    o["x09_minhash_lsh_pairs"] = f"""
WITH {_GRAMS_CTE},
 sig AS (SELECT doc, {", ".join(_mh_expr(j) for j in range(12))}
         FROM sh GROUP BY doc),
 banded AS ({bands_union})
SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
FROM banded a
JOIN banded b ON a.band = b.band AND a.bkey = b.bkey AND a.doc < b.doc
"""

    flag_cols = ", ".join(
        f"bool_or(section_label = '{k}') AS {k}"
        for k in ("introduction", "materials_and_methods", "results",
                  "discussion", "conclusions"))
    flag_sel = ", ".join(
        f"coalesce(fl.{k}, false) AS {k}"
        for k in ("introduction", "materials_and_methods", "results",
                  "discussion", "conclusions"))
    o["x24_per_doc_metrics"] = f"""
WITH {_rec_cte()},
 oth AS (SELECT conv_id, count(*) AS n_other
         FROM '{_FIX}/rec_sections.parquet'
         WHERE NOT is_canonical GROUP BY conv_id),
 fl AS (SELECT conv_id, {flag_cols}
        FROM '{_FIX}/rec_sections.parquet'
        WHERE is_canonical GROUP BY conv_id)
SELECT rec.conv_id AS file, coalesce(title, '') AS title,
  coalesce(doi, '') AS doi, coalesce(journal, '') AS journal,
  abs_len AS abstract_len, (abs_len >= 30) AS abstract_present,
  n_secs AS sections_count, coalesce(oth.n_other, 0) AS other_sections_count,
  {flag_sel},
  n_figures AS figures_count, n_tables AS tables_count,
  printf('%.4f', CASE WHEN sum_len + n_secs - 1 <= 0 THEN 0.0
    ELSE CAST(sum_bad AS DOUBLE) / (sum_len + n_secs - 1) END) AS noise_ratio
FROM rec LEFT JOIN oth USING (conv_id) LEFT JOIN fl USING (conv_id)
"""

    o["x10_head_frequencies"] = f"""
SELECT section_label AS head, count(*) AS count
FROM '{_FIX}/rec_sections.parquet' WHERE NOT is_canonical GROUP BY 1
"""

    # x14: INDEPENDENT SQL recomputation of the tumbling-window rollup
    # over the frozen synthetic turns (deterministic generator output)
    o["x14_streaming_rates"] = f"""
SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS window_start,
  time_bucket(INTERVAL 5 MINUTE, ts) + INTERVAL 5 MINUTE AS window_end,
  role, count(*) AS n_turns,
  CAST(sum(length(text)) AS BIGINT) AS n_chars
FROM '{_FIX}/turns.parquet'
GROUP BY 1, 2, 3
"""

    # x23: n-gram language-ID twin — identical expression shape, so the
    # doubles (and the argmax equality tests) agree bit-for-bit
    def _lang_score_sql(grams):
        s = "(' ' || lower(text) || ' ')"
        terms = " + ".join(
            f"(length({s}) - length(replace({s}, '{g}', ''))) / {len(g)}"
            for g in grams)
        return f"(({terms}) / (length({s}) + 1))"

    from paperslicer_spark.functions.text_stats import LANG_NGRAMS
    score_cols = ",\n  ".join(
        f"{_lang_score_sql(v)} AS s_{k}" for k, v in sorted(LANG_NGRAMS.items()))
    best = "greatest(s_de, s_en, s_es, s_fr)"
    o["x23_langid_ngram"] = f"""
WITH sc AS (SELECT doc_id,
  {score_cols}
FROM documents)
SELECT doc_id,
  CASE WHEN {best} < 0.002 THEN 'unk'
       WHEN s_fr = {best} THEN 'fr'
       WHEN s_es = {best} THEN 'es'
       WHEN s_en = {best} THEN 'en'
       ELSE 'de' END AS lang_pred,
  round(s_de, 6) AS s_de, round(s_en, 6) AS s_en,
  round(s_es, 6) AS s_es, round(s_fr, 6) AS s_fr
FROM sc
"""

    sanitize_head = (
        "trim(regexp_replace(regexp_replace(regexp_replace(lower(trim(head)),"
        " '^[|>•\\-–—\\s]+', ''),"
        " '(?i)^(?:[ivxlcdm]+\\.|\\d+(?:\\.\\d+)*\\.?)[\\s\\-:]*', ''),"
        " '\\s+', ' ', 'g'))"
    )
    sugg_whens = "\n".join(
        "WHEN (" + " OR ".join(f"contains(n, '{k}')" for k in kws)
        + f") THEN '{key}'"
        for key, kws in [
            ("materials_and_methods",
             ("analysis", "analyses", "examination", "examinations",
              "assessment", "selection", "extraction", "imaging",
              "radiographic", "protocol")),
            ("introduction",
             ("objective", "objectives", "aim", "purpose", "background")),
            ("discussion", ("limitation", "strength")),
            ("conclusions", ("conclusion", "clinical significance")),
        ])
    o["x18_mapping_suggestions"] = f"""
WITH heads AS (
  SELECT section_label AS head, count(*) AS count
  FROM '{_FIX}/rec_sections.parquet' WHERE NOT is_canonical GROUP BY 1),
 norm AS (SELECT head, count, {sanitize_head} AS n FROM heads)
SELECT head,
  CASE {sugg_whens} END AS suggestion, count
FROM norm
WHERE n <> '' AND (CASE {sugg_whens} END) IS NOT NULL
"""

    # x25: the closed suggestion loop — accepted x18 suggestions folded
    # back into the mapping; rate_after < rate_before is the
    # reference's README improvement flow as a checkable query.
    o["x25_suggestions_loop"] = f"""
WITH sec AS (SELECT section_label, is_canonical
             FROM '{_FIX}/rec_sections.parquet'),
 heads AS (
  SELECT section_label AS head, count(*) AS count
  FROM sec WHERE NOT is_canonical GROUP BY 1),
 norm AS (SELECT head, count, {sanitize_head} AS n FROM heads),
 sugg AS (SELECT head FROM norm
          WHERE n <> '' AND (CASE {sugg_whens} END) IS NOT NULL)
SELECT count(*) AS n_sections,
  count(*) FILTER (WHERE NOT is_canonical) AS unmapped_before,
  round(count(*) FILTER (WHERE NOT is_canonical) * 1.0 / count(*), 6)
    AS rate_before,
  count(*) FILTER (WHERE NOT is_canonical
                   AND section_label NOT IN (SELECT head FROM sugg))
    AS unmapped_after,
  round(count(*) FILTER (WHERE NOT is_canonical
                         AND section_label NOT IN (SELECT head FROM sugg))
        * 1.0 / count(*), 6) AS rate_after
FROM sec
"""

    fz_f = _fuzzy_sql("n_exp_f", "n_act_f",
                      "coalesce(abs_first50, '')", "act_f50")
    fz_l = _fuzzy_sql("n_exp_l", "n_act_l",
                      "coalesce(abs_last50, '')", "act_l50")
    o["x17_truth_validation"] = f"""
WITH {_rec_cte()},
 t AS (SELECT * FROM '{_FIX}/truth.parquet'),
 j AS (SELECT rec.*, t.exp_title, t.exp_doi, t.exp_journal, t.abs_present,
         t.abs_first50, t.abs_last50, t.abs_word_count, t.exp_sections,
         t.exp_figures, t.exp_tables
       FROM rec JOIN t USING (conv_id)),
 sl AS (SELECT *,
    substr(abs_text, 1, 50) AS act_f50,
    CASE WHEN length(abs_text) <= 50 THEN abs_text
         ELSE substr(abs_text, length(abs_text) - 49, 50) END AS act_l50
  FROM j),
 nm AS (SELECT *,
    trim(regexp_replace(coalesce(abs_first50, ''), '\\s+', ' ', 'g')) AS n_exp_f,
    trim(regexp_replace(act_f50, '\\s+', ' ', 'g')) AS n_act_f,
    trim(regexp_replace(coalesce(abs_last50, ''), '\\s+', ' ', 'g')) AS n_exp_l,
    trim(regexp_replace(act_l50, '\\s+', ' ', 'g')) AS n_act_l
  FROM sl),
 sc AS (SELECT conv_id,
    (CASE WHEN title IS NOT NULL AND title <> '' THEN 1.0 ELSE 0.0 END
     + CASE WHEN title IS NOT NULL AND title <> ''
            AND exp_title IS NOT NULL AND exp_title <> ''
            AND (contains(lower(title), lower(exp_title))
                 OR contains(lower(exp_title), lower(title)))
            THEN 1.0 ELSE 0.0 END
     + CASE WHEN doi IS NOT NULL AND doi <> '' THEN 1.0 ELSE 0.0 END
     + CASE WHEN doi IS NOT NULL AND doi <> ''
            AND exp_doi IS NOT NULL AND exp_doi <> '' AND doi = exp_doi
            THEN 1.0 ELSE 0.0 END
     + CASE WHEN journal IS NOT NULL AND journal <> '' THEN 1.0 ELSE 0.0 END
     + CASE WHEN journal IS NOT NULL AND journal <> ''
            AND exp_journal IS NOT NULL AND exp_journal <> ''
            AND (contains(lower(journal), lower(exp_journal))
                 OR contains(lower(exp_journal), lower(journal)))
            THEN 1.0 ELSE 0.0 END) / 6.0 * 30.0 AS metadata_score,
    CASE WHEN NOT coalesce(abs_present, false) THEN 20.0 ELSE
      ((CASE WHEN abs_text <> '' THEN 1.0 ELSE 0.0 END)
       + (CASE WHEN abs_text <> '' AND coalesce(abs_first50, '') <> ''
               THEN {fz_f} ELSE 0.0 END)
       + (CASE WHEN abs_text <> '' AND coalesce(abs_last50, '') <> ''
               THEN {fz_l} ELSE 0.0 END)
       + (1.0 - least(CASE WHEN abs_text <> '' AND coalesce(abs_word_count, 0) > 0
            THEN abs((CASE WHEN trim(abs_text) = '' THEN 0
                      ELSE len(string_split_regex(trim(abs_text), '\\s+')) END)
                     - abs_word_count) * 1.0 / abs_word_count
            ELSE 0.0 END, 1.0))) / 4.0 * 20.0 END AS abstract_score,
    CASE WHEN len(exp_sections) > 0
         THEN least(n_canon5 * 1.0 / len(exp_sections), 1.0) * 30.0
         ELSE 15.0 END AS sections_score,
    CASE WHEN coalesce(exp_figures, 0) > 0
         THEN greatest(0.0, 1.0 - abs(n_figures - exp_figures) * 1.0
                       / exp_figures) * 10.0
         ELSE 10.0 END AS figures_score,
    CASE WHEN coalesce(exp_tables, 0) > 0
         THEN greatest(0.0, 1.0 - abs(n_tables - exp_tables) * 1.0
                       / exp_tables) * 10.0
         ELSE 10.0 END AS tables_score
  FROM nm)
SELECT conv_id, round(metadata_score, 4) AS metadata_score,
  round(abstract_score, 4) AS abstract_score,
  round(sections_score, 4) AS sections_score,
  round(figures_score, 4) AS figures_score,
  round(tables_score, 4) AS tables_score,
  round(metadata_score + abstract_score + sections_score + figures_score
        + tables_score, 4) AS overall_score
FROM sc
"""

    # x26: LSH pairs (same CTEs as x09) → transitive closure via a
    # recursive CTE → component label = minimum reachable doc id
    o["x26_dup_clusters"] = f"""
WITH RECURSIVE {_GRAMS_CTE},
 sig AS (SELECT doc, {", ".join(_mh_expr(j) for j in range(12))}
         FROM sh GROUP BY doc),
 banded AS ({bands_union}),
 pairs AS (
   SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
   FROM banded a
   JOIN banded b ON a.band = b.band AND a.bkey = b.bkey AND a.doc < b.doc),
 edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
           UNION SELECT doc_b, doc_a FROM pairs),
 reach AS (
   SELECT s AS node, d AS other FROM edges
   UNION
   SELECT r.node, e.d FROM reach r JOIN edges e ON e.s = r.other)
SELECT node AS doc, least(node, min(other)) AS cluster,
  least(node, min(other)) = node AS is_rep
FROM reach GROUP BY node
"""

    # x68: x26's recursive-CC cluster CTE + keep-best-by-quality
    # (max word count, tie min doc id); singletons (no edge) keep
    # themselves via the left join + coalesce
    o["x68_canonical_keep"] = f"""
WITH RECURSIVE {_GRAMS_CTE},
 sig AS (SELECT doc, {", ".join(_mh_expr(j) for j in range(12))}
         FROM sh GROUP BY doc),
 banded AS ({bands_union}),
 pairs AS (
   SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
   FROM banded a
   JOIN banded b ON a.band = b.band AND a.bkey = b.bkey
     AND a.doc < b.doc),
 edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
           UNION SELECT doc_b, doc_a FROM pairs),
 reach AS (
   SELECT s AS node, d AS other FROM edges
   UNION
   SELECT r.node, e.d FROM reach r JOIN edges e ON e.s = r.other),
 cc AS (
   SELECT node AS doc, least(node, min(other)) AS cluster
   FROM reach GROUP BY node),
 base AS (
   SELECT doc_id AS doc, CAST({_WORDS_EXPR} AS BIGINT) AS quality
   FROM documents),
 labeled AS (
   SELECT b.doc, coalesce(cc.cluster, b.doc) AS cluster, b.quality
   FROM base b LEFT JOIN cc ON cc.doc = b.doc)
SELECT doc, cluster, quality,
  row_number() OVER (PARTITION BY cluster
    ORDER BY quality DESC, doc) = 1 AS keep
FROM labeled
"""

    # x69: independent BM25 recomputation — BM25 constants are
    # interpolated via Python repr so both engines parse the SAME
    # double (1.2 + 1.0 is a round-to-nearest coin flip if each
    # engine folds it separately)
    _qvals = ", ".join(f"({i}, '{t}')" for i, t in _BM25_QUERIES)
    _k1, _b = 1.2, 0.75
    o["x69_bm25_search"] = f"""
WITH queries(query_id, query_text) AS (VALUES {_qvals}),
 base AS (
  SELECT doc_id AS doc, trim(lower(text)) AS t,
    CAST({_WORDS_EXPR} AS DOUBLE) AS dl
  FROM documents WHERE trim(text) <> ''),
 stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl
  FROM base),
 qterms AS (
  SELECT query_id AS qid,
    unnest(list_distinct(
      string_split_regex(trim(lower(query_text)), '\\s+'))) AS term
  FROM queries),
 terms AS (SELECT DISTINCT term FROM qterms),
 exploded AS (
  SELECT doc, dl, unnest(string_split_regex(t, '\\s+')) AS term
  FROM base),
 matched AS (SELECT e.* FROM exploded e JOIN terms USING (term)),
 cand AS (
  SELECT doc, term, CAST(count(*) AS DOUBLE) AS tf, max(dl) AS dl
  FROM matched GROUP BY 1, 2),
 dfreq AS (
  SELECT term, CAST(count(*) AS DOUBLE) AS df FROM cand GROUP BY 1),
 scored AS (
  SELECT q.qid, c.doc,
    round(sum(
      ln(1 + (s.n_docs - f.df + 0.5) / (f.df + 0.5))
      * c.tf * {_k1 + 1.0!r}
      / (c.tf + {_k1!r} * ({1.0 - _b!r} + {_b!r} * c.dl / s.avgdl))
    ), 6) AS score
  FROM cand c JOIN dfreq f USING (term) JOIN qterms q USING (term),
       stats s
  GROUP BY 1, 2)
SELECT qid AS query_id, doc, score, rank FROM (
  SELECT qid, doc, score, CAST(row_number() OVER (
    PARTITION BY qid ORDER BY score DESC, doc) AS BIGINT) AS rank
  FROM scored) WHERE rank <= 10
"""

    # x70: vocab coverage curve — top-256 by (count desc, token),
    # cumulative sum over the ranked relation
    o["x70_vocab_coverage"] = """
WITH toks AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
  FROM documents WHERE trim(text) <> ''),
 counts AS (
  SELECT token, CAST(count(*) AS BIGINT) AS count FROM toks
  GROUP BY 1),
 tot AS (SELECT CAST(sum(count) AS DOUBLE) AS total FROM counts),
 ranked AS (
  SELECT token, count, CAST(row_number() OVER (
    ORDER BY count DESC, token) AS BIGINT) AS rank
  FROM counts)
SELECT rank, token, count,
  round(count / total, 6) AS coverage,
  round(sum(count) OVER (ORDER BY rank
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / total, 6)
    AS cum_coverage
FROM ranked, tot WHERE rank <= 256
"""

    # x71: add-one bigram LM — same raw-count model in SQL; bigram
    # stream via the range-unnest pair construction
    o["x71_bigram_logprob"] = """
WITH docs AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents WHERE trim(text) <> ''),
 uni AS (SELECT unnest(t) AS w FROM docs),
 c1 AS (SELECT w, count(*) AS c1 FROM uni GROUP BY 1),
 dd AS (SELECT count(DISTINCT w) AS d FROM uni),
 bg AS (
  SELECT doc_id, t[i] || ' ' || t[i + 1] AS g
  FROM docs, UNNEST(range(1, len(t))) AS u(i) WHERE len(t) >= 2),
 c2 AS (SELECT g, count(*) AS c2 FROM bg GROUP BY 1)
SELECT b.doc_id AS doc, CAST(count(*) AS BIGINT) AS n_bigrams,
  round(avg(log10((c2.c2 + 1) / CAST(c1.c1 + dd.d + 1 AS DOUBLE))), 6)
    AS mean_logp
FROM bg b JOIN c2 USING (g)
JOIN c1 ON split_part(b.g, ' ', 1) = c1.w, dd
GROUP BY 1
"""

    # x27: Gopher-style quality rules (shape stats JVM-side in Spark;
    # here the identical arithmetic over unnested tokens/bigrams)
    o["x27_gopher_quality"] = """
WITH toks AS (
   SELECT doc_id AS doc, string_split_regex(trim(lower(text)), '\\s+') AS t,
     length(regexp_replace(text, '\\s+', '', 'g')) AS nchars
   FROM documents WHERE trim(text) <> ''),
 base AS (
   SELECT doc, CAST(len(t) AS BIGINT) AS word_count,
     round(CAST(nchars AS DOUBLE) / len(t), 6) AS mean_word_len,
     round(CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6) AS frac_unique
   FROM toks),
 bi AS (SELECT doc, t[i] || ' ' || t[i+1] AS bg
        FROM toks, UNNEST(range(1, len(t))) AS u(i) WHERE len(t) >= 2),
 cnt AS (SELECT doc, bg, count(*) AS c FROM bi GROUP BY 1, 2),
 top AS (SELECT doc, max(c) AS top_c, sum(c) AS n_bg FROM cnt GROUP BY 1),
 j AS (
   SELECT base.doc, word_count, mean_word_len, frac_unique,
     coalesce(round(CAST(top_c AS DOUBLE) / n_bg, 6), 0.0) AS frac_top_bigram
   FROM base LEFT JOIN top ON base.doc = top.doc)
SELECT doc, word_count, mean_word_len, frac_unique, frac_top_bigram,
  (word_count BETWEEN 40 AND 100000
   AND mean_word_len BETWEEN 3.0 AND 10.0
   AND frac_unique >= 0.4
   AND frac_top_bigram <= 0.06) AS keep
FROM j
"""

    # x28: seeded hash-stratified sampling — identical md5 bucket
    # arithmetic as the Spark side (portable 60-bit hex-prefix hash)
    o["x28_stratified_sample"] = """
WITH b AS (
   SELECT doc_id, lang,
     CAST('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 15)
          AS BIGINT) % 10000 AS bucket
   FROM documents)
SELECT doc_id, lang, bucket FROM b
WHERE bucket < CASE lang
  WHEN 'en' THEN 5000 WHEN 'de' THEN 2500
  WHEN 'fr' THEN 2500 WHEN 'es' THEN 2500 ELSE 1000 END
"""

    # x29: the fused curation pipeline — x27's quality pass, x26's
    # cluster-representative anti-join, x28's sample filter
    o["x29_curated_keep"] = f"""
WITH RECURSIVE {_GRAMS_CTE},
 sig AS (SELECT doc, {", ".join(_mh_expr(j) for j in range(12))}
         FROM sh GROUP BY doc),
 banded AS ({bands_union}),
 pairs AS (
   SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
   FROM banded a
   JOIN banded b ON a.band = b.band AND a.bkey = b.bkey AND a.doc < b.doc),
 edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
           UNION SELECT doc_b, doc_a FROM pairs),
 reach AS (
   SELECT s AS node, d AS other FROM edges
   UNION
   SELECT r.node, e.d FROM reach r JOIN edges e ON e.s = r.other),
 nonrep AS (
   SELECT node AS doc_id FROM (
     SELECT node, least(node, min(other)) AS cluster
     FROM reach GROUP BY node) WHERE cluster <> node),
 qtoks AS (
   SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t,
     length(regexp_replace(text, '\\s+', '', 'g')) AS nchars
   FROM documents WHERE trim(text) <> ''),
 qbase AS (
   SELECT doc_id, len(t) AS wc,
     round(CAST(nchars AS DOUBLE) / len(t), 6) AS mwl,
     round(CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6) AS fu
   FROM qtoks),
 qbi AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS bg
         FROM qtoks, UNNEST(range(1, len(t))) AS u(i) WHERE len(t) >= 2),
 qcnt AS (SELECT doc_id, bg, count(*) AS c FROM qbi GROUP BY 1, 2),
 qtop AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n_bg
          FROM qcnt GROUP BY 1),
 qual AS (
   SELECT qbase.doc_id
   FROM qbase LEFT JOIN qtop ON qbase.doc_id = qtop.doc_id
   WHERE wc BETWEEN 40 AND 100000 AND mwl BETWEEN 3.0 AND 10.0
     AND fu >= 0.4
     AND coalesce(round(CAST(top_c AS DOUBLE) / n_bg, 6), 0.0) <= 0.06)
SELECT d.doc_id, d.lang,
  CAST('0x' || substr(md5('sample:' || CAST(d.doc_id AS VARCHAR)), 1, 15)
       AS BIGINT) % 10000 AS bucket
FROM documents d
JOIN qual ON qual.doc_id = d.doc_id
LEFT JOIN nonrep ON nonrep.doc_id = d.doc_id
WHERE nonrep.doc_id IS NULL
  AND CAST('0x' || substr(md5('sample:' || CAST(d.doc_id AS VARCHAR)), 1, 15)
       AS BIGINT) % 10000
    < CASE d.lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2500
      WHEN 'fr' THEN 2500 WHEN 'es' THEN 2500 ELSE 1000 END
"""

    # x72: trigram novelty — same hashed-shingle relation as x39/x09
    # (_GRAMS_CTE lowercases + distincts per doc), first occurrence =
    # min doc over the corpus, seen_frac = share of grams pre-seen
    o["x72_ngram_novelty"] = f"""
WITH {_GRAMS_CTE},
 gr AS (SELECT doc, CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT)
          AS g FROM sh),
 firsts AS (SELECT g, min(doc) AS f FROM gr GROUP BY 1)
SELECT gr.doc, CAST(count(*) AS BIGINT) AS n_grams,
  round(avg(CASE WHEN firsts.f < gr.doc THEN 1.0 ELSE 0.0 END), 6)
    AS seen_frac
FROM gr JOIN firsts ON firsts.g = gr.g
GROUP BY 1
"""

    # x73: leakage-safe split — x68's recursive-CC scaffold; the side
    # is a seeded-md5 bucket of the CLUSTER label (min member id), so
    # near-dup cluster members can never straddle the split
    o["x73_leakage_safe_split"] = f"""
WITH RECURSIVE {_GRAMS_CTE},
 sig AS (SELECT doc, {", ".join(_mh_expr(j) for j in range(12))}
         FROM sh GROUP BY doc),
 banded AS ({bands_union}),
 pairs AS (
   SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
   FROM banded a
   JOIN banded b ON a.band = b.band AND a.bkey = b.bkey
     AND a.doc < b.doc),
 edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
           UNION SELECT doc_b, doc_a FROM pairs),
 reach AS (
   SELECT s AS node, d AS other FROM edges
   UNION
   SELECT r.node, e.d FROM reach r JOIN edges e ON e.s = r.other),
 cc AS (
   SELECT node AS doc, least(node, min(other)) AS cluster
   FROM reach GROUP BY node),
 labeled AS (
   SELECT d.doc_id AS doc, coalesce(cc.cluster, d.doc_id) AS cluster
   FROM documents d LEFT JOIN cc ON cc.doc = d.doc_id)
SELECT doc, cluster,
  CASE WHEN CAST('0x' || substr(md5('split' || CAST(cluster AS VARCHAR)),
                 1, 15) AS BIGINT) % 100 < 20
       THEN 'eval' ELSE 'train' END AS split
FROM labeled
"""

    # x74: cross-source provenance matrix — x68's recursive-CC
    # scaffold, then a cluster self-join (cluster-size-bounded) rolled
    # up per unordered source pair
    o["x74_source_overlap"] = f"""
WITH RECURSIVE {_GRAMS_CTE},
 sig AS (SELECT doc, {", ".join(_mh_expr(j) for j in range(12))}
         FROM sh GROUP BY doc),
 banded AS ({bands_union}),
 pairs AS (
   SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
   FROM banded a
   JOIN banded b ON a.band = b.band AND a.bkey = b.bkey
     AND a.doc < b.doc),
 edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
           UNION SELECT doc_b, doc_a FROM pairs),
 reach AS (
   SELECT s AS node, d AS other FROM edges
   UNION
   SELECT r.node, e.d FROM reach r JOIN edges e ON e.s = r.other),
 cc AS (
   SELECT node AS doc, least(node, min(other)) AS cluster
   FROM reach GROUP BY node),
 labeled AS (
   SELECT cc.doc, cc.cluster, d.source
   FROM cc JOIN documents d ON d.doc_id = cc.doc)
SELECT least(a.source, b.source) AS source_a,
  greatest(a.source, b.source) AS source_b,
  CAST(count(*) AS BIGINT) AS n_pairs,
  CAST(count(DISTINCT a.cluster) AS BIGINT) AS n_clusters
FROM labeled a JOIN labeled b ON a.cluster = b.cluster
  AND a.doc < b.doc
GROUP BY 1, 2
"""

    # x75: BPE pair counts — weighted 2-char substrings over the
    # distinct-word vocabulary, top-64 by weight (ties by pair text)
    o["x75_bpe_pair_counts"] = """
WITH toks AS (
  SELECT string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents WHERE trim(text) <> ''),
 words AS (SELECT unnest(t) AS w FROM toks),
 vocab AS (SELECT w, count(*) AS c FROM words
           GROUP BY 1 HAVING length(w) >= 2),
 pairs AS (
  SELECT substr(w, i, 2) AS pair, c
  FROM vocab, UNNEST(range(1, length(w))) AS u(i)),
 agg AS (SELECT pair, CAST(sum(c) AS BIGINT) AS weight
         FROM pairs GROUP BY 1),
 top AS (SELECT pair, weight FROM agg
         ORDER BY weight DESC, pair LIMIT 64)
SELECT CAST(row_number() OVER (ORDER BY weight DESC, pair) AS BIGINT)
    AS rank, pair, weight
FROM top
"""

    # x76: blocked fuzzy linkage — DuckDB's levenshtein matches
    # Spark's edit-for-edit, so values replay exactly
    o["x76_fuzzy_head_pairs"] = """
WITH heads AS (
  SELECT doc_id, substr(trim(lower(text)), 1, 64) AS k
  FROM documents WHERE trim(lower(text)) <> ''),
 blocked AS (SELECT doc_id, k, substr(k, 1, 12) AS blk FROM heads)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  CAST(levenshtein(a.k, b.k) AS BIGINT) AS dist
FROM blocked a
JOIN blocked b ON a.blk = b.blk AND a.doc_id < b.doc_id
WHERE levenshtein(a.k, b.k) <= 8
"""

    # x77: per-source unigram KL vs the corpus blend (direct formula;
    # both engines land within the 6dp round despite different
    # summation orders — the x71 mean-log precedent)
    o["x77_source_kl"] = """
WITH toks AS (
  SELECT source,
    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
  FROM documents WHERE trim(text) <> ''),
 sw AS (SELECT source, w, count(*) AS c FROM toks GROUP BY 1, 2),
 cw AS (SELECT w, CAST(sum(c) AS DOUBLE) AS cw FROM sw GROUP BY 1),
 nt AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens
        FROM sw GROUP BY 1),
 g AS (SELECT CAST(sum(c) AS DOUBLE) AS g FROM sw)
SELECT s.source, nt.n_tokens,
  round(sum((s.c / CAST(nt.n_tokens AS DOUBLE))
            * ln((s.c / CAST(nt.n_tokens AS DOUBLE))
                 / (cw.cw / g.g))), 6) AS kl
FROM sw s
JOIN cw ON cw.w = s.w
JOIN nt ON nt.source = s.source
CROSS JOIN g
GROUP BY 1, 2
"""

    # x78: edge set AND fixed-point rank arithmetic regenerated from
    # the same parquet — constants mirror graph.LINK_PARAMS / SCALE;
    # integer // everywhere keeps it bit-exact vs Spark's `div`.
    # CAST(sum AS BIGINT): DuckDB sums BIGINT into HUGEINT.
    o["x78_pagerank"] = """
WITH nn AS (SELECT count(*) AS n FROM documents),
 nodes AS (SELECT doc_id AS id FROM documents),
 edges AS (
   SELECT DISTINCT src, dst FROM (
     SELECT id AS src, (id*31 + 7) % nn.n AS dst FROM nodes, nn
     UNION ALL SELECT id, (id*17 + 3) % nn.n FROM nodes, nn
     UNION ALL SELECT id, (id*5 + 11) % nn.n FROM nodes, nn)),
 outd AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
 base AS (SELECT n0.id, coalesce(o.outdeg, 0) AS outdeg, nn.n
          FROM nodes n0 LEFT JOIN outd o ON o.src = n0.id
          CROSS JOIN nn),
 r0 AS (SELECT id, CAST(1000000000000 // n AS BIGINT) AS rank_fp
        FROM base),
 s1 AS (SELECT e.dst, CAST(sum(r.rank_fp // b.outdeg) AS BIGINT) AS s
        FROM edges e JOIN r0 r ON r.id = e.src
        JOIN base b ON b.id = e.src AND b.outdeg > 0 GROUP BY 1),
 r1 AS (SELECT b.id,
          CAST(15000000000000 // (100 * b.n)
               + (85 * coalesce(s1.s, 0)) // 100 AS BIGINT) AS rank_fp
        FROM base b LEFT JOIN s1 ON s1.dst = b.id),
 s2 AS (SELECT e.dst, CAST(sum(r.rank_fp // b.outdeg) AS BIGINT) AS s
        FROM edges e JOIN r1 r ON r.id = e.src
        JOIN base b ON b.id = e.src AND b.outdeg > 0 GROUP BY 1),
 r2 AS (SELECT b.id,
          CAST(15000000000000 // (100 * b.n)
               + (85 * coalesce(s2.s, 0)) // 100 AS BIGINT) AS rank_fp
        FROM base b LEFT JOIN s2 ON s2.dst = b.id),
 s3 AS (SELECT e.dst, CAST(sum(r.rank_fp // b.outdeg) AS BIGINT) AS s
        FROM edges e JOIN r2 r ON r.id = e.src
        JOIN base b ON b.id = e.src AND b.outdeg > 0 GROUP BY 1),
 r3 AS (SELECT b.id,
          CAST(15000000000000 // (100 * b.n)
               + (85 * coalesce(s3.s, 0)) // 100 AS BIGINT) AS rank_fp
        FROM base b LEFT JOIN s3 ON s3.dst = b.id)
SELECT b.id AS doc_id, CAST(b.outdeg AS BIGINT) AS outdeg, r3.rank_fp
FROM base b JOIN r3 ON r3.id = b.id
"""

    # x79: the oracle re-canonicalizes INDEPENDENTLY (DuckDB regexp +
    # list functions); the tracking-param list is GENERATED from
    # web.TRACKING_PARAMS so the engines cannot drift (x41 principle).
    from paperslicer_spark.operators.web import TRACKING_PARAMS
    _trk = ", ".join("'" + p.replace("'", "''") + "'"
                     for p in TRACKING_PARAMS)
    _ure = r"^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#:]+)(?::(\d+))?([^?#]*)(?:\?([^#]*))?(?:#.*)?$"
    o["x79_url_dedup"] = f"""
WITH u AS (
  SELECT doc_id,
    'HTTP' || CASE WHEN doc_id % 4 = 0 THEN 'S' ELSE '' END || '://'
    || CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END || source
    || '.Example.com'
    || CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE ':80' END
    || '/Path/' || CAST(doc_id % 7 AS VARCHAR)
    || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END
    || '?utm_source=feed&id=' || CAST(doc_id % 50 AS VARCHAR)
    || '&b=2&a=1'
    || CASE WHEN doc_id % 2 = 0 THEN '&fbclid=XYZ' ELSE '' END
    || '#sec' || CAST(doc_id % 3 AS VARCHAR) AS url
  FROM documents),
 parts AS (
  SELECT doc_id,
    lower(regexp_extract(url, '{_ure}', 1)) AS scheme,
    lower(regexp_extract(url, '{_ure}', 2)) AS host0,
    regexp_extract(url, '{_ure}', 3) AS port,
    regexp_extract(url, '{_ure}', 4) AS path0,
    regexp_extract(url, '{_ure}', 5) AS query
  FROM u),
 c AS (
  SELECT doc_id,
    CASE WHEN host0 LIKE 'www.%' THEN substring(host0, 5)
         ELSE host0 END AS host,
    scheme,
    CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
              OR (scheme = 'https' AND port = '443') THEN ''
         ELSE ':' || port END AS port_part,
    CASE WHEN path0 = '' THEN '/'
         WHEN length(path0) > 1 AND path0 LIKE '%/'
           THEN substring(path0, 1, length(path0) - 1)
         ELSE path0 END AS path,
    array_to_string(list_sort(list_filter(string_split(query, '&'),
      p -> p <> '' AND NOT list_contains([{_trk}],
                                         string_split(p, '=')[1]))),
      '&') AS qcanon
  FROM parts),
 canon AS (
  SELECT doc_id, host,
    scheme || '://' || host || port_part || path
    || CASE WHEN qcanon = '' THEN '' ELSE '?' || qcanon END AS url_canon
  FROM c)
SELECT doc_id, host, url_canon,
  CAST(count(*) OVER (PARTITION BY url_canon) AS BIGINT) AS n_dups
FROM canon
"""

    # x80: rank-sum AUC with average ranks for ties; auc_num2 stays
    # integer end-to-end (CAST: DuckDB sums into HUGEINT), the single
    # final division + round(9) is mirrored exactly.
    o["x80_quality_auc"] = """
WITH b AS (
  SELECT source, CAST(n_chars AS DOUBLE) AS s,
         CASE WHEN (doc_id * 2654435761) % 97 < 41 THEN 1 ELSE 0 END
           AS lab
  FROM documents),
 r AS (
  SELECT source, lab,
         2 * rank() OVER (PARTITION BY source ORDER BY s)
         + count(*) OVER (PARTITION BY source, s) - 1 AS r2
  FROM b),
 a AS (
  SELECT source, CAST(sum(lab) AS BIGINT) AS n_pos,
         CAST(sum(1 - lab) AS BIGINT) AS n_neg,
         CAST(sum(CASE WHEN lab = 1 THEN r2 END)
              - sum(lab) * (sum(lab) + 1) AS BIGINT) AS auc_num2
  FROM r GROUP BY 1)
SELECT source, n_pos, n_neg, auc_num2,
       CASE WHEN n_pos > 0 AND n_neg > 0
            THEN round(auc_num2 / (2.0 * n_pos * n_neg), 9)
       END AS auc
FROM a
"""

    # x81: same chained-window construction (t_k defined from t_{k-1}
    # via CTE stacking); strict '>' tie rule mirrored exactly.
    o["x81_funnel"] = """
WITH w1 AS (
  SELECT user_id, ts, event_type,
    min(CASE WHEN event_type = 'view' THEN ts END)
      OVER (PARTITION BY user_id) AS t0
  FROM events),
 w2 AS (
  SELECT *, min(CASE WHEN event_type = 'click' AND ts > t0 THEN ts END)
      OVER (PARTITION BY user_id) AS t1
  FROM w1),
 w3 AS (
  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t1 THEN ts END)
      OVER (PARTITION BY user_id) AS t2
  FROM w2),
 pu AS (SELECT user_id, max(t0) AS t0, max(t1) AS t1, max(t2) AS t2
        FROM w3 GROUP BY 1),
 c AS (SELECT count(t0) AS c0, count(t1) AS c1, count(t2) AS c2 FROM pu)
SELECT CAST(1 AS BIGINT) AS step, 'view' AS step_name,
       CAST(c0 AS BIGINT) AS n_users FROM c
UNION ALL SELECT CAST(2 AS BIGINT), 'click', CAST(c1 AS BIGINT) FROM c
UNION ALL SELECT CAST(3 AS BIGINT), 'purchase', CAST(c2 AS BIGINT) FROM c
"""

    # x82: Monday-midnight week truncation in both engines; the
    # datediff is an exact multiple of 7 so the // 7 is lossless.
    o["x82_retention"] = """
WITH cohort AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cw
  FROM events WHERE event_type = 'signup' GROUP BY 1),
 act AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS w
         FROM events),
 j AS (SELECT a.user_id, c.cw, a.w
       FROM act a JOIN cohort c USING (user_id) WHERE a.w >= c.cw)
SELECT strftime(CAST(cw AS DATE), '%Y-%m-%d') AS cohort_week,
       CAST(datediff('day', cw, w) // 7 AS BIGINT) AS week_offset,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM j GROUP BY 1, 2
"""

    # x83: identical lead() pairing under the (ts, event_id) total
    # order; the row-normalizing total is a window over the tiny
    # counts relation in both engines.
    o["x83_transitions"] = """
WITH p AS (
  SELECT event_type AS from_state,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_state
  FROM events),
 c AS (SELECT from_state, to_state, count(*) AS n
       FROM p WHERE to_state IS NOT NULL GROUP BY 1, 2)
SELECT from_state, to_state, n,
       round(n / (sum(n) OVER (PARTITION BY from_state)), 9) AS p
FROM c
"""

    # x84: ntile is ANSI — equal buckets, remainder to the leading
    # buckets; the (score, id) total order makes assignment exact.
    o["x84_score_deciles"] = """
WITH b AS (
  SELECT source, n_chars, doc_id,
         CAST(ntile(10) OVER (PARTITION BY source
                              ORDER BY n_chars, doc_id) AS BIGINT)
           AS bucket
  FROM documents)
SELECT source, bucket, count(*) AS n,
       min(n_chars) AS min_score, max(n_chars) AS max_score,
       CAST(sum(n_chars) AS BIGINT) AS sum_score
FROM b GROUP BY 1, 2
"""

    # x85: identical integer-µs session assignment under the
    # (ts, event_id) total order; quantile_cont == exact_percentiles'
    # R-7 interpolation (the proven x37 pairing), round(6).
    o["x85_session_durations"] = """
WITH g AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
              OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
         THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
 s AS (
  SELECT user_id,
    sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS UNBOUNDED PRECEDING) AS sid,
    us
  FROM g),
 d AS (
  SELECT user_id, sid, CAST(max(us) - min(us) AS DOUBLE) AS v,
         count(*) AS ne
  FROM s GROUP BY 1, 2)
SELECT 'all' AS k,
  round(quantile_cont(v, 0.5), 6) AS p50,
  round(quantile_cont(v, 0.9), 6) AS p90,
  round(quantile_cont(v, 0.99), 6) AS p99,
  count(*) AS n_sessions
FROM d
"""

    # x86: x78's edge CTE composed with x63's bit_length binning.
    o["x86_indegree_hist"] = """
WITH nn AS (SELECT count(*) AS n FROM documents),
 nodes AS (SELECT doc_id AS id FROM documents),
 edges AS (
   SELECT DISTINCT src, dst FROM (
     SELECT id AS src, (id*31 + 7) % nn.n AS dst FROM nodes, nn
     UNION ALL SELECT id, (id*17 + 3) % nn.n FROM nodes, nn
     UNION ALL SELECT id, (id*5 + 11) % nn.n FROM nodes, nn)),
 indeg AS (SELECT dst, CAST(count(*) AS BIGINT) AS v
           FROM edges GROUP BY 1)
SELECT 'indeg' AS key,
  CAST(CASE WHEN v <= 0 THEN 0 ELSE length(bin(v)) END AS INT) AS bin,
  count(*) AS c
FROM indeg GROUP BY 1, 2
"""

    # x87: med/mad = quantile_cont round(6) (the proven x37 pairing);
    # deviations computed FROM the rounded median in both engines,
    # flag = one IEEE multiply + compare of exact inputs.
    o["x87_robust_outliers"] = """
WITH v AS (SELECT source, CAST(n_chars AS DOUBLE) AS v FROM documents),
 med AS (SELECT source, round(quantile_cont(v, 0.5), 6) AS med
         FROM v GROUP BY 1),
 dev AS (SELECT v.source, abs(v.v - med.med) AS d
         FROM v JOIN med USING (source)),
 mad AS (SELECT source, round(quantile_cont(d, 0.5), 6) AS mad
         FROM dev GROUP BY 1)
SELECT v.source, med.med, mad.mad, count(*) AS n,
  CAST(sum(CASE WHEN abs(v.v - med.med) > 3.0 * mad.mad
           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM v JOIN med USING (source) JOIN mad USING (source)
GROUP BY 1, 2, 3
"""

    # x88: identical pair fan-out via lateral position/distance
    # unnests; 6//d is exact integer in both engines (LCM trick);
    # (w6, n, w1, w2) is a total order so the LIMIT edge is exact.
    o["x88_cooccurrence"] = """
WITH toks AS (
  SELECT string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents WHERE trim(text) <> ''),
 t2 AS (SELECT t FROM toks WHERE len(t) >= 2),
 pairs AS (
  SELECT t[i] AS w1, t[i + d] AS w2, CAST(6 // d AS BIGINT) AS w
  FROM t2,
       UNNEST(range(1, len(t))) AS u(i),
       UNNEST([1, 2, 3]) AS v(d)
  WHERE i + d <= len(t)),
 agg AS (SELECT w1, w2, count(*) AS n, CAST(sum(w) AS BIGINT) AS w6
         FROM pairs GROUP BY 1, 2)
SELECT w1, w2, n, w6 FROM agg
ORDER BY w6 DESC, n DESC, w1, w2 LIMIT 200
"""

    # x89: same v2 derivation rule, full-outer diff on md5
    # fingerprints, (source, change) rollup; added ids are disjoint
    # from v1 ids so dims needs no dedup.
    o["x89_snapshot_diff"] = """
WITH v2 AS (
  SELECT doc_id,
    CASE WHEN doc_id % 20 = 0 THEN text || ' [rev2]' ELSE text END
      AS text
  FROM documents WHERE doc_id % 20 <> 1
  UNION ALL
  SELECT doc_id + 1000000000, 'new:' || text
  FROM documents WHERE doc_id % 20 = 2),
 d AS (
  SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
    CASE WHEN a.doc_id IS NULL THEN 'added'
         WHEN b.doc_id IS NULL THEN 'removed'
         WHEN md5(a.text) = md5(b.text) THEN 'unchanged'
         ELSE 'modified' END AS change
  FROM documents a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id),
 dims AS (
  SELECT doc_id, source FROM documents
  UNION ALL
  SELECT doc_id + 1000000000, source FROM documents
  WHERE doc_id % 20 = 2)
SELECT dims.source, d.change, count(*) AS n
FROM d JOIN dims USING (doc_id)
GROUP BY 1, 2
"""

    # x90: ANSI percent_rank over the identical (score, id) total
    # order; one window in both engines, round(9).
    o["x90_cdf_normalize"] = """
SELECT doc_id, source, n_chars,
  round(percent_rank() OVER (PARTITION BY source
                             ORDER BY n_chars, doc_id), 9) AS pct
FROM documents
"""

    # x91: identical trigram fan-out (1-based positions i..i+2); the
    # final ratio is one IEEE division of exact integers, round(6).
    o["x91_ngram_diversity"] = """
WITH toks AS (
  SELECT source, string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents WHERE trim(text) <> ''),
 g AS (
  SELECT source, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
  FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 3),
 sg AS (SELECT source, g, count(*) AS c FROM g GROUP BY 1, 2)
SELECT source, CAST(sum(c) AS BIGINT) AS n_grams,
  count(*) AS n_distinct,
  round(count(*) / sum(c), 6) AS distinct_ratio
FROM sg GROUP BY 1
"""

    # x92: same planted-bench derivation (x*2.0 is exact fp doubling,
    # cosine-invariant); list_cosine_similarity == the engine's
    # aggregate cosine at 6dp (the proven x20 pairing); top-1 via
    # the same (cos desc, bench_id) row_number rule.
    o["x92_semantic_decontaminate"] = """
WITH bench AS (
  SELECT vec_id + 500000 AS bench_id,
    list_transform(CAST(embedding AS DOUBLE[]), x -> x * 2.0) AS bv
  FROM embeddings WHERE vec_id % 13 = 0),
 hits AS (
  SELECT t.vec_id, b.bench_id,
    round(list_cosine_similarity(CAST(t.embedding AS DOUBLE[]), b.bv),
          6) AS cos
  FROM embeddings t, bench b
  WHERE round(list_cosine_similarity(CAST(t.embedding AS DOUBLE[]),
                                     b.bv), 6) >= 0.5),
 r AS (SELECT vec_id, bench_id, cos,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, bench_id) AS rn
       FROM hits)
SELECT vec_id, bench_id, cos FROM r WHERE rn = 1
"""

    # x93: identical (c desc, key) total order; frac/skew are single
    # IEEE divisions of exact bigints.
    o["x93_key_skew"] = """
WITH c AS (SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS c
           FROM events GROUP BY 1),
 s AS (SELECT CAST(sum(c) AS BIGINT) AS rows_, count(*) AS keys_
       FROM c),
 t AS (SELECT key, c FROM c ORDER BY c DESC, key LIMIT 20)
SELECT CAST(row_number() OVER (ORDER BY c DESC, key) AS BIGINT)
         AS rank,
  key, c, round(c / s.rows_, 9) AS frac,
  round(c * s.keys_ / s.rows_, 6) AS skew
FROM t, s
"""

    # x94: same integer hour buckets (// == the pmod floor-div) and
    # the same trailing RANGE frame; z clears all divisions out of
    # the baseline so both engines do one sqrt + one division over
    # exact bigints.
    o["x94_rate_anomaly"] = """
WITH hc AS (
  SELECT event_type AS key, epoch_us(ts) // 3600000000 AS hr,
         count(*) AS c
  FROM events GROUP BY 1, 2),
 w AS (
  SELECT key, hr, c,
    count(*) OVER tw AS n,
    CAST(sum(c) OVER tw AS BIGINT) AS s,
    CAST(sum(c * c) OVER tw AS BIGINT) AS ss
  FROM hc
  WINDOW tw AS (PARTITION BY key ORDER BY hr
                RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING))
SELECT key, hr, c, n AS n_base, s AS s_base,
  CASE WHEN n >= 12 AND n * ss - s * s > 0
       THEN round((n * c - s)
                  / sqrt(CAST(n * ss - s * s AS DOUBLE)), 6)
  END AS z
FROM w
"""

    # x95: q11's capped-shingle relation with the overlap-coefficient
    # (containment) score instead of Jaccard.
    o["x95_containment_pairs"] = f"""
WITH {_GRAMS_CTE},
 shh AS (SELECT doc, CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT)
                AS shingle FROM sh),
 shf AS (SELECT doc, shingle FROM shh
         QUALIFY count(*) OVER (PARTITION BY shingle) <= 50),
 sz AS (SELECT doc, count(*) AS sz FROM shf GROUP BY doc),
 inter AS (
   SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS inter
   FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc < b.doc
   GROUP BY a.doc, b.doc)
SELECT doc_a, doc_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
  round(CAST(inter AS DOUBLE) / least(sa.sz, sb.sz), 6) AS cont
FROM inter
JOIN sz sa ON sa.doc = doc_a
JOIN sz sb ON sb.doc = doc_b
WHERE round(CAST(inter AS DOUBLE) / least(sa.sz, sb.sz), 6) >= 0.4
"""

    # x96: frozen dHash signatures (per-asset, prefix-stable) → the
    # SAME unsigned 16-bit band arithmetic as x32, pair verification
    # recomputed in SQL; 12/480 scaling rule mirrored from the query.
    x96_bands = "\nUNION ALL\n".join(
        f"SELECT doc, simhash, {b} AS band, "
        f"CAST((u // CAST('{1 << (16 * b)}' AS HUGEINT)) % 65536 AS BIGINT)"
        " AS bkey FROM uns"
        for b in range(4))
    o["x96_image_dhash_pairs"] = f"""
WITH nn AS (SELECT least(greatest(8,
    (SELECT count(*) FROM documents) // 12), 480) AS n),
 sig AS (
  SELECT asset_id AS doc, dhash AS simhash
  FROM '{_FIX}/image_dhash.parquet', nn
  WHERE asset_id < nn.n
     OR (asset_id >= 100000 AND asset_id - 100000 < nn.n
         AND (asset_id - 100000) % 5 = 0)),
 uns AS (
  SELECT doc, simhash,
    CAST(simhash AS HUGEINT) + CASE WHEN simhash < 0
      THEN CAST('18446744073709551616' AS HUGEINT)
      ELSE CAST(0 AS HUGEINT) END AS u
  FROM sig),
 banded AS ({x96_bands})
SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b,
  bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM banded a
JOIN banded b ON a.band = b.band AND a.bkey = b.bkey AND a.doc < b.doc
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""

    # x97: identical distinct-basket derivation; the pair fan-out is
    # an equi-self-join here (the HOF combos are a plan choice, not a
    # semantic one); lift = one IEEE division of exact bigints.
    o["x97_basket_pairs"] = """
WITH b AS (SELECT DISTINCT user_id AS k, event_type AS item
           FROM events),
 nb AS (SELECT count(DISTINCT k) AS n_baskets FROM b),
 ic AS (SELECT item, count(*) AS n_item FROM b GROUP BY 1),
 p AS (
  SELECT a.item AS item_a, b2.item AS item_b, count(*) AS n_ab
  FROM b a JOIN b b2 ON a.k = b2.k AND a.item < b2.item
  GROUP BY 1, 2)
SELECT item_a, item_b, n_ab, ia.n_item AS n_a, ib.n_item AS n_b,
  nb.n_baskets,
  round(n_ab * nb.n_baskets / (ia.n_item * ib.n_item), 6) AS lift
FROM p
JOIN ic ia ON ia.item = item_a
JOIN ic ib ON ib.item = item_b, nb
"""

    # x98: the oracle NEVER parses a URL — host and prefix are
    # re-derived from first principles out of the same doc_id rule,
    # so the whole canonicalize/split/rollup chain is under test.
    o["x98_path_prefix_rollup"] = """
SELECT lower(source) || '.example.com' AS host,
  CASE WHEN doc_id % 13 = 0 THEN '/'
       ELSE '/sec' || CAST(doc_id % 5 AS VARCHAR)
            || '/item' || CAST(doc_id % 11 AS VARCHAR) END AS prefix,
  count(*) AS n_pages
FROM documents GROUP BY 1, 2
"""

    # x99: asof tie rule replayed as argmax over struct(ts,
    # event_type, event_id) — row_number under the matching DESC
    # order; integer-µs delays.
    o["x99_purchase_attribution"] = """
WITH p AS (SELECT user_id, ts, event_id FROM events
           WHERE event_type = 'purchase'),
 t AS (SELECT user_id, ts, event_type, event_id FROM events
       WHERE event_type IN ('view', 'click')),
 j AS (
  SELECT p.user_id, p.event_id AS pid, p.ts AS pts,
         t.event_type AS touch, t.ts AS tts,
         row_number() OVER (
           PARTITION BY p.user_id, p.event_id
           ORDER BY t.ts DESC, t.event_type DESC, t.event_id DESC)
           AS rn
  FROM p JOIN t ON p.user_id = t.user_id AND t.ts <= p.ts),
 att AS (
  SELECT p.user_id, p.event_id, p.ts AS pts, j.touch, j.tts
  FROM p LEFT JOIN j ON j.pid = p.event_id AND j.user_id = p.user_id
                     AND j.rn = 1)
SELECT coalesce(touch, 'none') AS touch,
  count(*) AS n_purchases,
  CAST(sum(epoch_us(pts) - epoch_us(tts)) AS BIGINT) AS sum_delay_us,
  CAST(max(epoch_us(pts) - epoch_us(tts)) AS BIGINT) AS max_delay_us
FROM att GROUP BY 1
"""

    # x100: x35's packing CTEs with n_tokens carried through,
    # rolled up per shard; all-integer arithmetic.
    o["x100_packing_stats"] = """
WITH toks AS (
  SELECT doc_id,
    (string_split_regex(trim(lower(text)), '\\s+'))[1:2400000] AS t
  FROM documents WHERE trim(text) <> ''),
 chunks AS (
  SELECT doc_id, CAST(s / 24 AS BIGINT) AS chunk_idx,
    CAST(least(32, len(t) - s) AS BIGINT) AS n_tokens
  FROM toks, UNNEST(range(0, len(t), 24)) AS u(s)),
 sharded AS (
  SELECT *, CAST('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)),
    1, 15) AS BIGINT) % 16 AS shard
  FROM chunks),
 offs AS (
  SELECT shard, n_tokens,
    CAST(sum(n_tokens) OVER (PARTITION BY shard
      ORDER BY doc_id, chunk_idx) - n_tokens AS BIGINT) AS st
  FROM sharded),
 packs AS (
  SELECT shard, n_tokens,
    CAST(floor(st / 512) AS BIGINT) AS pack_seq,
    st % 512 AS pack_offset
  FROM offs)
SELECT shard, count(*) AS n_chunks,
  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
  CAST(max(pack_seq) + 1 AS BIGINT) AS n_packs,
  CAST(sum(n_tokens) - max(pack_seq) * 512 AS BIGINT) AS tail_fill,
  CAST(sum(CASE WHEN pack_offset + n_tokens > 512 THEN 1 ELSE 0 END)
       AS BIGINT) AS n_straddles
FROM packs GROUP BY 1
"""

    # x101: identical (score desc, id) rank windows; the fused sum
    # is fixed left-to-right so both engines round the same double.
    o["x101_rank_fusion"] = """
WITH c AS (
  SELECT doc_id, n_chars AS s_len,
    (doc_id * 2654435761) % 1000 AS s_cls, doc_id % 97 AS s_pr
  FROM documents),
 r AS (
  SELECT doc_id, s_len, s_cls, s_pr,
    row_number() OVER (ORDER BY s_len DESC, doc_id) AS r1,
    row_number() OVER (ORDER BY s_cls DESC, doc_id) AS r2,
    row_number() OVER (ORDER BY s_pr DESC, doc_id) AS r3
  FROM c)
SELECT doc_id, s_len, s_cls, s_pr,
  round(1.0 / (60 + r1) + 1.0 / (60 + r2) + 1.0 / (60 + r3), 9)
    AS rrf
FROM r
"""
    return o
