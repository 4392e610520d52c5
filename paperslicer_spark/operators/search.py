"""BM25 full-text search over the corpus — the retrieval counterpart
to the embedding ANN paths (similarity.py): inverted postings, Lucene
BM25 scoring, per-query top-k.

Reference parity note: the reference has no search engine; this is a
training-data-pipeline addition (corpus inspection, targeted-subset
pulls, decontamination-by-query). The scoring follows the standard
Lucene/Robertson BM25 formulation.

Scale shape: the corpus is ONE map-side pass — tokens explode, then
an immediate broadcast semi-join against the (tiny) query-term set
kills every non-matching token before any shuffle. The only
corpus-derived exchanges are over matched (doc, term) rows, which are
query-selectivity-sized, not corpus-sized. Per-query top-k is a
rank-window (WindowGroupLimit pre-prunes executor-locally).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from paperslicer_spark.functions.text_stats import tokens, word_count


def bm25_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
              k1: float = 1.2, b: float = 0.75,
              id_col: str = "doc_id", text_col: str = "text",
              query_id: str = "query_id",
              query_text: str = "query_text") -> DataFrame:
    """Per-query BM25 top-k: ``(query_id, doc, score, rank)``.

    ``score(q, d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl))``
    with ``idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))`` (Lucene's
    non-negative variant). Scores round to 6dp before ranking (ties
    by doc id) so the SQL oracle agrees exactly.

    ``N``/``avgdl`` cover every non-empty doc (one tiny agg,
    broadcast back); ``df``/``tf`` are computed AFTER the query-term
    semi-join, so the postings relation never materializes for terms
    nobody asked about. Duplicate terms within a query count once
    (set-of-terms semantics, as Lucene's boolean-OR of unique terms).
    """
    base = (
        corpus.where(F.trim(F.col(text_col)) != "")
        .select(F.col(id_col).alias("doc"),
                F.col(text_col).alias("_text"),
                word_count(F.col(text_col)).cast("double").alias("dl"))
    )
    stats = base.agg(F.count("*").cast("double").alias("n_docs"),
                     F.avg("dl").alias("avgdl"))

    qterms = queries.select(
        F.col(query_id).alias("qid"),
        F.explode(F.array_distinct(
            tokens(F.lower(F.col(query_text))))).alias("term"))
    terms = qterms.select("term").distinct()

    matched = (
        base.select("doc", "dl",
                    F.explode(tokens(F.lower(F.col("_text"))))
                    .alias("term"))
        .join(F.broadcast(terms), "term")
    )
    cand = matched.groupBy("doc", "term").agg(
        F.count("*").cast("double").alias("tf"),
        F.first("dl").alias("dl"))
    # df(t) = rows per term in cand — a WINDOW over the (tiny,
    # query-selectivity-sized) cand relation, NOT a groupBy broadcast
    # back: a broadcast build is its own query-stage job whose subplan
    # re-scans and re-tokenizes the whole corpus when exchange reuse
    # doesn't line up (measured: 5 corpus-pass jobs per call at 200k
    # docs before this; 2 after — stats + matched)
    dfreq = F.count("*").over(Window.partitionBy("term")) \
        .cast("double").alias("df")

    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    tf_part = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    scored = (
        cand.select("doc", "term", "tf", "dl", dfreq)
        .join(F.broadcast(qterms), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("qid", "doc")
        .agg(F.round(F.sum(idf * tf_part), 6).alias("score"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col("doc"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select(F.col("qid").alias(query_id), "doc", "score", "rank")
    )
