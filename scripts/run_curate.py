"""spark-submit entry point for the corpus-curation job.

The training-data companion to ``run_extract.py``: quality rules →
near-dup clustering → stratified sampling over a documents table,
with STAGE-level resume. Bucket-level resume (run_extract's model) is
wrong here — clustering is a global operation whose candidate pairs
cross any doc_id bucketing — so each stage is one idempotent Spark
job whose output directory doubles as its checkpoint: a crash re-runs
only the stages whose ``_SUCCESS`` marker is missing.

Cluster usage::

    python scripts/package.py
    spark-submit --py-files dist/paperslicer_spark.zip \\
        scripts/run_curate.py \\
        --input  s3://bucket/documents \\
        --output s3://bucket/curated \\
        --rates en=0.5,de=0.25 --default-rate 0.1

Local smoke::

    python scripts/run_curate.py \\
        --input /root/testdata/sf0.001/documents.parquet --output /tmp/cur

Outputs under ``--output``:
  scrubbed/        (--scrub-pii) docs with PII redacted + n_redacted;
                   downstream stages read this text
  decontaminated/  (--bench-input) keep-list of docs below the n-gram
                   overlap threshold vs the held-out corpus
  quality/   per-doc Gopher stats + keep flag
  clusters/  (doc, cluster, is_rep) for docs in any near-dup component
  keep/      final curated keep-list (doc_id, lang, bucket)
  chunks/    kept docs → overlapping context windows + pack
             assignment, partitioned by shard (ready for a trainer to
             read shard-parallel in pack order)
  metrics/   one-row funnel summary (counts + drop rates per stage)
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _done(spark, path: str) -> bool:
    """_SUCCESS marker check through the Hadoop FileSystem API so
    stage-level resume engages on every supported scheme (s3a://,
    hdfs://, file://) — ``os.path.exists`` was silently local-only
    (round-3 ADVICE: off-local the stages always re-ran)."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "/_SUCCESS")
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.exists(p)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="documents parquet path")
    ap.add_argument("--output", required=True)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--strata-col", default="lang")
    ap.add_argument("--rates", default="en=0.5,de=0.25,fr=0.25,es=0.25",
                    help="per-stratum sample rates, k=v comma list")
    ap.add_argument("--default-rate", type=float, default=0.1)
    ap.add_argument("--chunk-tokens", type=int, default=32)
    ap.add_argument("--chunk-overlap", type=int, default=8)
    ap.add_argument("--pack-capacity", type=int, default=512)
    ap.add_argument("--pack-shards", type=int, default=16)
    ap.add_argument("--scrub-pii", action="store_true",
                    help="redact emails/IPs/phones/digit runs BEFORE "
                         "quality (scrubbed/ stage; downstream stages "
                         "read the scrubbed text)")
    ap.add_argument("--bench-input", default=None,
                    help="held-out corpus parquet; when set, docs "
                         "sharing >= --decontaminate-min-shared "
                         "4-grams with any bench doc are dropped "
                         "(decontaminated/ stage keep-list)")
    ap.add_argument("--decontaminate-min-shared", type=int, default=2)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from paperslicer_spark.functions.text_stats import widen_undersplit
    from paperslicer_spark.operators.curation import (
        chunk_documents, gopher_quality, pack_sequences,
        stratified_sample)
    from paperslicer_spark.operators.dedup import decontaminate, dup_clusters
    from paperslicer_spark.session import get_spark

    rates = {k: float(v) for k, v in
             (kv.split("=") for kv in args.rates.split(",") if kv)}
    spark = get_spark(app_name="paperslicer-curate")
    # every corpus read is widened here; the curation operators never
    # widen (an under-split input would run them at scan parallelism)
    docs = widen_undersplit(spark.read.parquet(args.input))
    out = args.output
    q_dir, c_dir = os.path.join(out, "quality"), os.path.join(out, "clusters")
    k_dir, m_dir = os.path.join(out, "keep"), os.path.join(out, "metrics")
    ch_dir = os.path.join(out, "chunks")

    ran, skipped = [], []

    if args.scrub_pii:
        # stage 0a: PII scrub — rewrites the text column in place so
        # every later stage (quality, shingles, chunks) sees clean text
        from paperslicer_spark.functions.pii import redact_pii

        s_dir = os.path.join(out, "scrubbed")
        if _done(spark, s_dir):
            skipped.append("scrub")
        else:
            scrubbed = redact_pii(docs, args.id_col, args.text_col)
            (docs.drop(args.text_col)
             .join(scrubbed.select(
                 args.id_col,
                 F.col("clean_text").alias(args.text_col),
                 "n_redacted"), args.id_col)
             .write.mode("overwrite").parquet(s_dir))
            ran.append("scrub")
        docs = widen_undersplit(spark.read.parquet(s_dir))

    if args.bench_input:
        # stage 0b: benchmark decontamination — a keep-list of docs
        # with fewer than min_shared 4-gram overlaps with the held-out
        # corpus; contaminated docs leave the funnel here
        d_dir = os.path.join(out, "decontaminated")
        if _done(spark, d_dir):
            skipped.append("decontaminate")
        else:
            bench = widen_undersplit(spark.read.parquet(args.bench_input))
            hits = decontaminate(
                docs, bench, args.id_col, args.text_col, n=4,
                min_shared=args.decontaminate_min_shared,
            ).select(F.col("train_doc").alias(args.id_col)).distinct()
            (docs.select(args.id_col)
             .join(hits, args.id_col, "left_anti")
             .write.mode("overwrite").parquet(d_dir))
            ran.append("decontaminate")
        docs = docs.join(spark.read.parquet(d_dir), args.id_col,
                         "left_semi")
    for name, path, build in (
        ("quality", q_dir,
         lambda: gopher_quality(docs, args.id_col, args.text_col)),
        ("clusters", c_dir,
         lambda: dup_clusters(docs, args.id_col, args.text_col)),
    ):
        if _done(spark, path):
            skipped.append(name)
            continue
        build().write.mode("overwrite").parquet(path)
        ran.append(name)

    if _done(spark, k_dir):
        skipped.append("keep")
    else:
        quality = spark.read.parquet(q_dir).where("keep") \
            .select(F.col("doc").alias(args.id_col))
        non_reps = spark.read.parquet(c_dir).where(~F.col("is_rep")) \
            .select(F.col("doc").alias(args.id_col))
        survivors = (docs.join(quality, args.id_col, "left_semi")
                     .join(non_reps, args.id_col, "left_anti"))
        stratified_sample(survivors, args.id_col, args.strata_col,
                          rates, default_rate=args.default_rate) \
            .select(args.id_col, args.strata_col, "bucket") \
            .write.mode("overwrite").parquet(k_dir)
        ran.append("keep")

    if _done(spark, ch_dir):
        skipped.append("chunks")
    else:
        kept_docs = docs.join(
            spark.read.parquet(k_dir).select(args.id_col),
            args.id_col, "left_semi")
        chunks = chunk_documents(kept_docs, args.id_col, args.text_col,
                                 chunk_tokens=args.chunk_tokens,
                                 overlap=args.chunk_overlap)
        packed = pack_sequences(chunks, doc_col=args.id_col,
                                capacity=args.pack_capacity,
                                n_shards=args.pack_shards)
        (chunks.join(packed.drop("n_tokens"),
                     [args.id_col, "chunk_idx"])
         .write.mode("overwrite").partitionBy("shard").parquet(ch_dir))
        ran.append("chunks")

    # funnel metrics are cheap — recompute every run (always fresh)
    n_docs = docs.count()
    n_quality = spark.read.parquet(q_dir).where("keep").count()
    n_nonrep = spark.read.parquet(c_dir).where("NOT is_rep").count()
    n_keep = spark.read.parquet(k_dir).count()
    spark.createDataFrame(
        [(n_docs, n_quality, n_nonrep, n_keep,
          round(1.0 - n_quality / n_docs, 6) if n_docs else 0.0,
          round(n_keep / n_docs, 6) if n_docs else 0.0)],
        "n_docs long, n_quality_pass long, n_cluster_dropped long, "
        "n_kept long, quality_drop_rate double, keep_rate double",
    ).coalesce(1).write.mode("overwrite").parquet(m_dir)

    print(f"curation: {{'ran': {ran}, 'skipped': {skipped}, "
          f"'n_docs': {n_docs}, 'n_kept': {n_keep}}}")
    spark.stop()


if __name__ == "__main__":
    main()
