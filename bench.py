"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line ``{"metric", "value", "unit": "sec", "queries": {...},
"sf": ...}``.

The extraction corpus (transcripts) is generated deterministically
into a local cache on first use (generation excluded from timings).
Extra keys: ``turns_per_sec`` (north metric at this parallelism) and
``n_turns``. Scaling efficiency between two parallelism levels is
measured by ``scripts/bench_scaling.py`` (separate sessions) and
reported in ``BENCH/BASELINE.md``.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from paperslicer_spark.operators.assemble import assemble_documents
from paperslicer_spark.operators.extract import parse_documents, sections_long
from paperslicer_spark.operators.spans import extract_turn_spans
from paperslicer_spark.session import get_spark
from paperslicer_spark.sources.transcripts import transcripts_df

REPO = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(REPO, ".bench_cache")

# transcripts corpus size per sf (documents ≈ 1000 × sf × 10)
DOCS_PER_SF = 100000


def corpus_path(spark, sf: float, n_docs: int) -> str:
    path = os.path.join(CACHE, f"transcripts_sf{sf}_n{n_docs}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        df = transcripts_df(spark, n_docs, seed=42, skew_every=500,
                            skew_mult=25, partitions=64)
        df.write.mode("overwrite").parquet(path)
    return path


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.1
    n_docs = max(int(DOCS_PER_SF * sf), 200)

    spark = get_spark(app_name="paperslicer-bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    timings: dict[str, float] = {}

    corpus = corpus_path(spark, sf, n_docs)
    turns = spark.read.parquet(corpus)
    n_turns = turns.count()

    def force(df):
        # noop sink computes every column — no pruning shortcuts
        df.write.format("noop").mode("overwrite").save()

    def timed(name, fn, repeats: int = 2):
        best = None
        for _ in range(repeats):
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)

    # warm the Python workers + JIT across all partitions (excluded)
    force(extract_turn_spans(turns.sample(0.05, seed=1)))

    # north-metric hot path: per-turn span extraction (map-only)
    timed("extract_turn_spans", lambda: force(extract_turn_spans(turns)))
    # flagship document pipeline: fused no-shuffle parse on the conv-
    # aligned layout (this corpus is generated bucketed-by-conversation,
    # like the 100 TB Iceberg deployment; parse_turns_fused docstring)
    from paperslicer_spark.operators.extract import parse_turns_fused
    timed("extract_records",
          lambda: force(sections_long(
              parse_turns_fused(turns, conv_aligned=True))))
    # legacy two-phase salted-agg path (kept for comparison — the
    # collect_list payload shuffle is its measured non-scaling term)
    timed("extract_records_salted_agg",
          lambda: force(sections_long(
              parse_documents(assemble_documents(turns, skew_threshold=64)))))
    # minimal-bytes path: sections-only, assembly+parse+explode in-UDF
    from paperslicer_spark.operators.extract import extract_sections_fused
    timed("extract_sections_fused",
          lambda: force(extract_sections_fused(turns, conv_aligned=True)))
    # analytics headliners over driver tables (x27/x28 = the round-3
    # curation surface: zero-shuffle quality rules + map-side sampling)
    # (x52/x58 joined in round 5: the C4 zero-shuffle line filter and
    # the RANGE-frame rolling window — totals are therefore NOT
    # comparable to BENCH_r04 and earlier; per-entry timings are)
    for name in ["q01_pricing_summary", "q05_priority_concat",
                 "q11_jaccard_pairs", "q12_embedding_topk",
                 "q16_sessionize", "q19_canonical_headings",
                 "x27_gopher_quality", "x28_stratified_sample",
                 "x52_c4_line_filter", "x58_rolling_agg"]:
        timed(name, lambda n=name: force(qs[n](spark, sf_dir)))

    total = round(sum(timings.values()), 3)
    spans_sec = timings["extract_turn_spans"]
    print(json.dumps({
        "metric": "headline suite wall time (extraction + analytics)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_turns": n_turns,
        "turns_per_sec": round(n_turns / spans_sec, 1) if spans_sec else None,
        "cpus": int(cpus),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
