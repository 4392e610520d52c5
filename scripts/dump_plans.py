"""Dump .explain('formatted') for the bench entries of one round.

Usage: python scripts/dump_plans.py <round> <tag> [name ...]

Writes plans/<round>/<name>_<tag>.txt (e.g. ``r07 before``) for each
bench entry (the 4 extraction entries + the 10 registered bench
queries) plus any extra registered query names passed on the command
line. Read-only — plans are captured without executing the queries.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from paperslicer_spark.operators.assemble import assemble_documents
from paperslicer_spark.operators.extract import (
    extract_sections_fused,
    parse_documents,
    parse_turns_fused,
    sections_long,
)
from paperslicer_spark.operators.spans import extract_turn_spans
from paperslicer_spark.session import get_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

BENCH_QUERIES = [
    "q01_pricing_summary", "q05_priority_concat", "q11_jaccard_pairs",
    "q12_embedding_topk", "q16_sessionize", "q19_canonical_headings",
    "x27_gopher_quality", "x28_stratified_sample", "x52_c4_line_filter",
    "x58_rolling_agg",
]


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    rnd, tag, extra = sys.argv[1], sys.argv[2], sys.argv[3:]
    out = os.path.join(REPO, "plans", rnd)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.1
    n_docs = max(int(100000 * sf), 200)
    os.makedirs(out, exist_ok=True)

    spark = get_spark(app_name=f"plans-{rnd}", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")

    corpus = os.path.join(REPO, ".bench_cache", f"transcripts_sf{sf}_n{n_docs}")
    turns = spark.read.parquet(corpus)

    targets = {
        "extract_turn_spans": lambda: extract_turn_spans(turns),
        "extract_records": lambda: sections_long(
            parse_turns_fused(turns, conv_aligned=True)),
        "extract_records_salted_agg": lambda: sections_long(
            parse_documents(assemble_documents(turns, skew_threshold=64))),
        "extract_sections_fused": lambda: extract_sections_fused(
            turns, conv_aligned=True),
    }
    qs = entrymod.queries()
    for name in BENCH_QUERIES + extra:
        targets[name] = lambda n=name: qs[n](spark, sf_dir)

    for name, fn in targets.items():
        try:
            plan = fn()._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution
                .ExplainMode.fromString("formatted"))
        except Exception as e:  # noqa: BLE001
            plan = f"PLAN CAPTURE FAILED: {type(e).__name__}: {e}"
        path = os.path.join(out, f"{name}_{tag}.txt")
        with open(path, "w", encoding="utf-8") as f:
            f.write(plan)
        print(f"{name:34s} -> {os.path.relpath(path, REPO)}")
    spark.stop()


if __name__ == "__main__":
    main()
