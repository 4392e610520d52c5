"""Per-turn cleaning + span extraction — the throughput hot path.

The north metric is turns/sec with per-turn text+span equality
(BASELINE.json). This stage is a pure map (no shuffle): each turn's
balanced XML fragment is parsed in-executor (stdlib ElementTree inside
one Arrow-batched ``mapInPandas``), producing

- the turn's cleaned text (reference P1 semantics: Python
  ``str.split()`` whitespace collapse — ``parser.py:12-13``), and
- one row per content unit (paragraph, heading, caption) with
  ``char_start/char_end`` offsets into the cleaned turn text.

Invariant (checked by tests): ``clean_text ==
turn_clean_text[char_start:char_end]`` for every emitted unit, and the
unit text equals what the full-document reference parse produces for
the same node (units never straddle turns by the fragment contract).

Scale notes: embarrassingly parallel, scales with input partitions;
Arrow batch size is capped via ``spark.sql.execution.arrow.
maxRecordsPerBatch`` (multi-KB payload strings — see session.py).
"""

from __future__ import annotations

from typing import Iterator, List

from xml.etree import ElementTree as ET

from pyspark.sql import DataFrame

from paperslicer_spark.extraction.tei import (
    T_DIV, T_FIGDESC, T_FIGURE, T_HEAD, T_TABLE, _P_AB, normalize_space,
    _txt)
from paperslicer_spark.functions.sections import canonical_section_name

SPAN_SCHEMA = (
    "conv_id string, turn_idx int, unit_idx int, kind string, "
    "section_label string, char_start int, char_end int, clean_text string"
)

CLEAN_SCHEMA = (
    "conv_id string, turn_idx int, clean_text string, n_units int, "
    "parse_ok boolean"
)

_WRAP_OPEN = '<w xmlns="http://www.tei-c.org/ns/1.0">'


def turn_units(fragment: str) -> tuple[str, List[dict], bool]:
    """Parse one balanced turn fragment → (clean_text, units, ok).

    Single preorder DFS (identical visit order to ``root.iter()``)
    carrying the enclosing-div label and the parent down the walk —
    replaces the per-turn parent map plus a parent-chain climb per
    paragraph (the label of the NEAREST enclosing div, None when that
    div has no direct ``<head>`` child or the unit is outside any
    div — exactly the old ``nearest_div_label``). Each div's head is
    canonicalized once instead of once per contained paragraph.
    """
    try:
        root = ET.fromstring(_WRAP_OPEN + fragment + "</w>")
    except ET.ParseError:
        # non-XML payload turn: clean = whitespace-collapsed raw text
        return normalize_space(fragment), [], False

    clean = _txt(root)  # == normalize_space(" ".join(itertext())), one pass
    units: List[dict] = []
    cursor = 0

    # explicit-stack preorder DFS (identical visit order to
    # ``root.iter()``): a recursive closure measured ~25% of the parse
    # in Python call overhead alone
    stack = [(root, None, None)]
    while stack:
        el, parent, div_label = stack.pop()
        tag = el.tag
        kind = None
        label = None
        if tag in _P_AB:
            kind = "para"
            label = div_label
        elif tag == T_HEAD:
            ptag = parent.tag if parent is not None else ""
            if ptag == T_FIGURE:
                kind = "figure_head"
            elif ptag == T_TABLE:
                kind = "table_caption"
            else:
                kind = "div_head"
                label = canonical_section_name(_txt(el)) or None
        elif tag == T_FIGDESC:
            is_tab = parent is not None and (parent.get("type") or "").lower() == "table"
            kind = "table_desc" if is_tab else "figure_caption"
        if kind is not None:
            text = _txt(el)
            if text:
                start = clean.find(text, cursor)
                if start >= 0:
                    # start < 0: nested-unit token overlap cannot occur
                    # for these tags; defensive skip, never a broken span
                    end = start + len(text)
                    cursor = end
                    units.append({
                        "kind": kind,
                        "section_label": label,
                        "char_start": start,
                        "char_end": end,
                        "clean_text": text,
                    })
        if tag == T_DIV:
            head = el.find(T_HEAD)
            div_label = (canonical_section_name(_txt(head)) or None) \
                if head is not None else None
        if len(el):
            stack.extend([(c, el, div_label) for c in reversed(el)])
    return clean, units, True


def extract_turn_spans(turns: DataFrame) -> DataFrame:
    """Transcripts → per-unit span rows (map-only, no shuffle).

    Arrow-native stage: input is projected to the three columns the
    parse reads (an opaque UDF otherwise defeats column pruning and
    ships every column — guide §4.1), batches arrive as Arrow record
    batches, and output batches are built column-wise straight into
    ``pa.RecordBatch.from_arrays`` — measured ~5× cheaper per output
    batch than pandas-DataFrame construction + from_pandas coercion
    (and per-row dicts were ~10× slower still).
    """

    def run(batches) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa

        out_schema = pa.schema([
            ("conv_id", pa.string()), ("turn_idx", pa.int32()),
            ("unit_idx", pa.int32()), ("kind", pa.string()),
            ("section_label", pa.string()), ("char_start", pa.int32()),
            ("char_end", pa.int32()), ("clean_text", pa.string()),
        ])
        for batch in batches:
            conv_ids: list = []
            turn_idxs: list = []
            unit_idxs: list = []
            kinds: list = []
            labels: list = []
            starts: list = []
            ends: list = []
            texts: list = []
            for conv_id, turn_idx, text in zip(
                batch.column(0).to_pandas().tolist(),
                batch.column(1).to_pandas().tolist(),
                batch.column(2).to_pandas().tolist(),
            ):
                if text is None:
                    continue
                _, units, _ = turn_units(text)
                # a NULL turn_idx arrives as NaN (the column turns float):
                # its units carry a NULL turn_idx, never a task failure
                ti = int(turn_idx) if turn_idx == turn_idx else None
                for i, u in enumerate(units):
                    conv_ids.append(conv_id)
                    turn_idxs.append(ti)
                    unit_idxs.append(i)
                    kinds.append(u["kind"])
                    labels.append(u["section_label"])
                    starts.append(u["char_start"])
                    ends.append(u["char_end"])
                    texts.append(u["clean_text"])
            yield pa.RecordBatch.from_arrays([
                pa.array(conv_ids, pa.string()),
                pa.array(turn_idxs, pa.int32()),
                pa.array(unit_idxs, pa.int32()),
                pa.array(kinds, pa.string()),
                pa.array(labels, pa.string()),
                pa.array(starts, pa.int32()),
                pa.array(ends, pa.int32()),
                pa.array(texts, pa.string()),
            ], schema=out_schema)

    return turns.select("conv_id", "turn_idx", "text") \
        .mapInArrow(run, schema=SPAN_SCHEMA)


def clean_turns(turns: DataFrame) -> DataFrame:
    """Per-turn cleaned text (P1) + unit count + parse flag."""

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            cleans, n_units, oks = [], [], []
            for text in pdf["text"]:
                clean, units, ok = turn_units(text or "")
                cleans.append(clean)
                n_units.append(len(units))
                oks.append(ok)
            yield pd.DataFrame({
                "conv_id": pdf["conv_id"].values,
                # nullable: a NULL turn_idx stays NULL, not a task failure
                "turn_idx": pdf["turn_idx"].astype("Int32").values,
                "clean_text": cleans, "n_units": n_units, "parse_ok": oks,
            })

    return turns.mapInPandas(run, schema=CLEAN_SCHEMA)
