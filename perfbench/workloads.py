"""The benchmark's workloads: input, timed pipeline, and output check.

Each workload reads a seeded corpus (``corpus.py``) and runs one
pipeline of the program to Spark's ``noop`` sink.  The output check
runs outside the timed region and also serves as the warm-up pass.
"""

from __future__ import annotations

import random
from collections import Counter
from dataclasses import dataclass, field
from typing import Callable, Dict, List

from pyspark.sql import DataFrame, functions as F

from paperslicer_spark.operators.assemble import assemble_documents
from paperslicer_spark.operators.extract import (
    parse_documents, parse_turns_fused, sections_long)
from paperslicer_spark.operators.spans import extract_turn_spans, turn_units

from perfbench import corpus

# passes of a run that are timed but kept out of the medians: the first
# pass after the check still gets faster (JIT, Python workers)
WARMUP_PASSES = 1
MIN_PASSES = 3  # passes that count, per run


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def digest(df: DataFrame) -> str:
    """Order-independent ``rows:sum-of-row-hashes`` of a frame."""
    h = F.xxhash64(*df.columns).cast("decimal(38,0)")
    n, s = df.agg(F.count("*"), F.sum(h)).first()
    return f"{n}:{int(s or 0) % 2**64:016x}"


def _ids(n_docs: int, k: int, seed: int) -> List[str]:
    pick = random.Random(f"sample:{seed}").sample(range(n_docs), k)
    return [f"conv{i:08d}" for i in sorted(pick)]


@dataclass
class Check:
    items: int = 0
    failed: int = 0
    digest: str = ""
    notes: Dict[str, object] = field(default_factory=dict)


def spans_pipeline(turns: DataFrame) -> DataFrame:
    return extract_turn_spans(turns)


def records_pipeline(turns: DataFrame) -> DataFrame:
    return sections_long(parse_turns_fused(turns, conv_aligned=False))


def check_spans(turns: DataFrame, n_docs: int, seed: int) -> Check:
    """Digest of the full output, then a seeded sample of conversations:
    every emitted row must equal a direct ``turn_units`` call on the
    same turn, and ``clean_text == turn_clean[start:end]``."""
    c = Check(digest=digest(spans_pipeline(turns)))
    ids = _ids(n_docs, 40, seed)
    sample = turns.where(F.col("conv_id").isin(ids))
    got: Dict[tuple, list] = {}
    for r in spans_pipeline(sample).collect():
        got.setdefault((r.conv_id, r.turn_idx), []).append(
            (r.unit_idx, r.kind, r.section_label, r.char_start, r.char_end,
             r.clean_text))
    for r in sample.select("conv_id", "turn_idx", "text").collect():
        c.items += 1
        if r.text is None:
            ok = (r.conv_id, r.turn_idx) not in got
        else:
            clean, units, _ = turn_units(r.text)
            want = [(i, u["kind"], u["section_label"], u["char_start"],
                     u["char_end"], u["clean_text"])
                    for i, u in enumerate(units)]
            rows = sorted(got.get((r.conv_id, r.turn_idx), []))
            ok = rows == want and all(
                clean[s:e] == t for _, _, _, s, e, t in rows)
        c.failed += not ok
    c.notes["sampled_turns"] = c.items
    return c


def _rows(df: DataFrame) -> Counter:
    return Counter(tuple(r) for r in df.collect())


def check_records(turns: DataFrame, n_docs: int, seed: int) -> Check:
    """Digest of the timed pipeline's own output; one record per
    conversation and error rows exactly on the injected truncated-XML
    conversations, from one aggregate over the records; and, on a seeded
    sample, fused records equal to those of
    ``parse_documents(assemble_documents(...))``, and both records'
    ``sections_long`` rows equal to the records' sections and
    other_sections."""
    inj = corpus.injected("skew", n_docs, seed)
    c = Check(digest=digest(records_pipeline(turns)))
    records = parse_turns_fused(turns, conv_aligned=False)
    convs, errors = records.agg(
        F.collect_list("conv_id"),
        F.collect_list(F.when(F.col("status") == "error", F.col("conv_id"))),
    ).first()
    n, distinct, errors = len(convs), len(set(convs)), set(errors)
    ids = sorted(set(_ids(n_docs, 24, seed))
                 | set(inj["truncated"][:3]) | set(inj["null_or_empty"][:3])
                 | {f"conv{i:08d}" for i in
                    range(0, min(n_docs, 1001), corpus.SKEW_EVERY)})
    sample = turns.where(F.col("conv_id").isin(ids))
    fused = parse_turns_fused(sample)
    ref = parse_documents(assemble_documents(sample))
    fused_recs = {r.conv_id: r.asDict(recursive=True) for r in fused.collect()}
    ref_recs = {r.conv_id: r.asDict(recursive=True) for r in ref.collect()}
    expected_errors = set(inj["truncated"])
    missing = n_docs - distinct
    duplicated = n - distinct
    unexpected = len(errors - expected_errors)
    lost = len(expected_errors - errors)
    mismatched = sum(fused_recs.get(i) != ref_recs.get(i) for i in ids)
    want = Counter()  # the sections_long rows, read off the records
    for r in fused_recs.values():
        for label, text in (r["sections"] or {}).items():
            want[(r["conv_id"], label, text, True)] += 1
        for o in r["other_sections"] or []:
            want[(r["conv_id"], o["head"], o["text"], False)] += 1
    sections_equal = (_rows(sections_long(fused)) == want
                      == _rows(sections_long(ref)))
    c.items = n_docs + len(ids) + 1
    c.failed = (missing + duplicated + unexpected + lost + mismatched
                + (not sections_equal))
    c.notes.update(records=n, conversations=n_docs, error_rows=len(errors),
                   injected_truncated=len(expected_errors),
                   injected_null_or_empty=len(inj["null_or_empty"]),
                   missing=missing, duplicated=duplicated,
                   unexpected_errors=unexpected, lost_errors=lost,
                   parity_sample=len(ids), parity_mismatched=mismatched,
                   parity_sections_equal=sections_equal)
    return c


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str              # corpus.ROWS key
    n_docs: int
    files: int
    pipeline: Callable[[DataFrame], DataFrame]
    check: Callable[..., Check]
    pass_layer: str        # the layer whose Spark job the pass is


WORKLOADS = {
    "spans_map": Workload(
        "spans_map", "uniform", 6000, 16, spans_pipeline, check_spans,
        "operators.spans"),
    "records_skew": Workload(
        "records_skew", "skew", 6000, 16, records_pipeline, check_records,
        "operators.extract"),
}
