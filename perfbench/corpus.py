"""Seeded workload corpora, built from ``sources.transcripts``.

Every corpus is a pure function of ``(workload, seed)``: the same seed
gives byte-identical rows.  Generation runs as one Spark job over a
``spark.range`` of document indexes (the same shape as
``transcripts_df``), is written once to a per-seed parquet cache, and
is excluded from every timing.

``records_skew`` post-processes the generator's turns:

- every ``SKEW_EVERY``-th conversation is ``SKEW_MULT`` times larger;
- every body ``<div>`` heading gets a per-document suffix, so the
  headings are unique and a Python worker's 65 536-entry
  ``canonical_section_name`` cache overflows;
- a seeded ``INJECT_SHARE`` of conversations get one truncated-XML
  body turn (each must come back as exactly one error row), and
  another ``INJECT_SHARE`` get one NULL or empty body turn (which the
  program skips, so those still parse).
"""

from __future__ import annotations

import os
import random
import re
from typing import Dict, Iterator, List

from paperslicer_spark.sources.transcripts import (
    TRANSCRIPT_SCHEMA, doc_turn_rows)

SKEW_EVERY = 500
SKEW_MULT = 25
INJECT_SHARE = 0.005

_DIV_HEAD = re.compile(r"<div><head>([^<]*)</head>")
_NON_BODY = ("<teiHeader", "<facsimile", "<back")


def _defect(doc_idx: int, seed: int) -> str | None:
    """'truncated', 'null', 'empty' or None for one conversation."""
    r = random.Random(f"defect:{seed}:{doc_idx}").random()
    if r < INJECT_SHARE:
        return "truncated"
    if r < 2 * INJECT_SHARE:
        return "null" if doc_idx % 2 else "empty"
    return None


def skew_rows(doc_idx: int, seed: int) -> List[Dict]:
    rows = doc_turn_rows(doc_idx, seed=seed, skew_every=SKEW_EVERY,
                         skew_mult=SKEW_MULT)
    body = [r for r in rows if not r["text"].startswith(_NON_BODY)]
    k = 0
    for r in body:
        def unique(m):
            nonlocal k
            k += 1
            return f"<div><head>{m.group(1)} v{doc_idx}.{k}</head>"
        r["text"] = _DIV_HEAD.sub(unique, r["text"])
    defect = _defect(doc_idx, seed)
    if defect:
        victim = random.Random(f"victim:{seed}:{doc_idx}").choice(body)
        text = victim["text"]
        if defect == "truncated":
            # cut right after a '<' plus one character: an unfinished
            # tag, so the fragment can never be well-formed by accident
            cut = text.rfind("<", 0, len(text) // 2 + 1)
            victim["text"] = text[:cut + 2]
        else:
            victim["text"] = None if defect == "null" else ""
    return rows


def uniform_rows(doc_idx: int, seed: int) -> List[Dict]:
    return doc_turn_rows(doc_idx, seed=seed)


ROWS = {"uniform": uniform_rows, "skew": skew_rows}


def injected(kind: str, n_docs: int, seed: int) -> Dict[str, List[str]]:
    """conv_ids per injected defect class (empty for uniform corpora)."""
    out: Dict[str, List[str]] = {"truncated": [], "null_or_empty": []}
    if kind != "skew":
        return out
    for i in range(n_docs):
        d = _defect(i, seed)
        if d == "truncated":
            out["truncated"].append(f"conv{i:08d}")
        elif d:
            out["null_or_empty"].append(f"conv{i:08d}")
    return out


def build(spark, cache_dir: str, kind: str, n_docs: int, seed: int,
          files: int) -> str:
    """Write (once) and return the parquet path of a seeded corpus."""
    path = os.path.join(cache_dir, f"{kind}_n{n_docs}_s{seed}_f{files}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    rows_of = ROWS[kind]

    def gen(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa

        schema = pa.schema([
            ("conv_id", pa.string()), ("turn_idx", pa.int32()),
            ("role", pa.string()), ("text", pa.string()),
            ("tool", pa.string()), ("ts", pa.timestamp("us")),
        ])
        for batch in batches:
            data: dict = {name: [] for name in schema.names}
            for doc_idx in batch.column(0).to_pylist():
                for r in rows_of(doc_idx, seed):
                    for c in schema.names:
                        data[c].append(r[c])
            yield pa.RecordBatch.from_pydict(data, schema=schema)

    (spark.range(0, n_docs, 1, files).mapInArrow(gen, schema=TRANSCRIPT_SCHEMA)
     .write.mode("overwrite").parquet(path))
    return path

