"""Stateful streaming document assembly (``applyInPandasWithState``).

Batch assembly (operators/assemble.py) needs all of a conversation's
turns; in a stream, fragments arrive incrementally. This operator
keeps per-conversation state — the accumulated (turn_idx, fragment)
list — and emits a fully parsed record once the terminal ``<back``
fragment has arrived (our generator's documents always close with the
back matter), or on processing-time timeout for conversations that
never complete (emitted with ``status='timeout'`` so no data is lost).

Exactly-once per conv_id: after emission the state becomes a tombstone
(``emitted=true``) rather than being removed, so a straggler fragment
arriving after the record was output is dropped instead of seeding a
second state that would later emit a duplicate. Tombstones age out via
the same processing-time timeout (with ``with_timeout=True``).

Each emitted conversation goes through the batch paths'
``extract_document`` with no table merge and no review profile. A
payload that fails to parse becomes ``status='error'`` with the batch
error text ``"{Type}: {msg}"``: in the summary output's trailing
``error`` column (NULL on every other row), in the sections output as
one ``__error__`` row whose ``clean_text`` is that text. Conversations
that parse keep their trigger's status: ``ok``, ``timeout`` or
``oversized``.

This is the engine's custom stateful operator; the reference has no
streaming at all (SURVEY.md §2.14).
"""

from __future__ import annotations

from typing import Iterable, Iterator, Tuple

import pandas as pd

from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from paperslicer_spark.operators.extract import (
    ERROR_SECTION_LABEL, extract_document, section_rows)
from paperslicer_spark.sources.transcripts import assemble_payload

STATE_SCHEMA = "turn_idxs array<int>, texts array<string>, emitted boolean"
OUTPUT_SCHEMA = (
    "conv_id string, status string, n_turns int, title string, "
    "doi string, n_sections int, n_figures int, n_tables int, "
    "n_references int, error string"
)


def _extract(conv_id: str, turn_idxs, texts):
    """``extract_document`` over the fragments in ``_turn_docs``' order
    (NULL ``turn_idx`` first, ties by text), with no table merge and no
    review profile (streaming's semantics)."""
    frags = [t for _, _, t in sorted(
        (ti is not None, ti or 0, tx) for ti, tx in zip(turn_idxs, texts))]
    return extract_document(conv_id, assemble_payload(frags),
                            merge_tables=False, review_mode=False)


def _emit(conv_id: str, turn_idxs, texts, status: str) -> pd.DataFrame:
    rec, err = _extract(conv_id, turn_idxs, texts)
    row = {"conv_id": conv_id, "status": "error" if err else status,
           "n_turns": len(texts), "title": None, "doi": None,
           "n_sections": 0, "n_figures": 0, "n_tables": 0,
           "n_references": 0, "error": err}
    if rec is not None:
        row.update(
            title=rec["meta"].get("title"), doi=rec["meta"].get("doi"),
            n_sections=len(rec["sections"]) + len(rec["other_sections"]),
            n_figures=len(rec["figures"]), n_tables=len(rec["tables"]),
            n_references=len(rec["references"]))
    return pd.DataFrame([row])


SECTIONS_OUTPUT_SCHEMA = (
    "conv_id string, status string, section_label string, "
    "clean_text string, is_canonical boolean"
)


def _emit_sections(conv_id: str, turn_idxs, texts, status: str) -> pd.DataFrame:
    """Long-form sections rows per completed conversation — the
    streaming twin of the batch flagship output (sections_long ∘
    parse; no table merge / review, like ``_emit``)."""
    rec, err = _extract(conv_id, turn_idxs, texts)
    if err:
        rows = [(conv_id, "error", ERROR_SECTION_LABEL, err, False)]
    else:
        rows = [(conv_id, status, *r) for r in section_rows(rec)]
    if not rows and status != "ok":
        # oversized/timeout conversations with nothing parseable still
        # leave one accounting row — same rationale as the batch
        # path's emit_errors marker
        rows = [(conv_id, status, None, None, None)]
    return pd.DataFrame(rows, columns=["conv_id", "status",
                                       "section_label", "clean_text",
                                       "is_canonical"])


def _set_timeout(state: GroupState, ms: int = 60_000) -> None:
    if state.getCurrentProcessingTimeMs() >= 0:  # timeouts enabled?
        try:
            state.setTimeoutDuration(ms)
        except Exception:  # NoTimeout mode — keep state indefinitely
            pass


def _stateful_fn(emit, max_turns_per_conv=None):
    """Build the applyInPandasWithState function around an ``emit``
    callback ``(conv_id, turn_idxs, texts, status) -> pd.DataFrame``.

    ``max_turns_per_conv`` is the state-store guardrail (the streaming
    twin of the batch paths' argument): the cap is checked per
    appended fragment INSIDE the batch loop — the moment a
    conversation exceeds it the buffer is dropped and further
    fragments are ignored (exactly ``iter_conversations``' cap rule,
    including a ``<back`` arriving after the cap NOT rescuing the
    conversation), one ``status='oversized'`` row is
    emitted and the state tombstones. Within-batch memory is bounded
    to cap+1 fragments plus the Arrow batch pandas already
    materialized; cross-batch state is bounded to the cap."""

    def fn(key: Tuple[str], pdfs: Iterable[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        conv_id = key[0]
        if state.hasTimedOut:
            (turn_idxs, texts, emitted) = state.get
            state.remove()
            if not emitted:  # tombstones age out silently, never re-emit
                yield emit(conv_id, list(turn_idxs), list(texts), "timeout")
            return
        turn_idxs, texts, emitted = [], [], False
        if state.exists:
            prev = state.get
            turn_idxs, texts, emitted = (list(prev[0]), list(prev[1]),
                                         bool(prev[2]))
        if emitted:
            # tombstone: this conv_id already emitted — a straggler
            # fragment must NOT seed fresh state (it would later emit a
            # duplicate near-empty 'timeout' row for the same conv_id).
            # Drop the fragments, refresh the tombstone's eviction clock.
            state.update(([], [], True))
            _set_timeout(state)
            return
        complete = over = False
        for pdf in pdfs:
            for ti, tx in zip(pdf["turn_idx"], pdf["text"]):
                if tx is None or over:
                    continue
                turn_idxs.append(None if pd.isna(ti) else int(ti))
                texts.append(tx)
                if tx.startswith("<back"):
                    complete = True
                if (max_turns_per_conv
                        and len(texts) > max_turns_per_conv):
                    # cap tripped mid-loop: drop the buffer NOW so
                    # within-batch memory is bounded too, not just
                    # cross-batch state
                    over = True
                    turn_idxs, texts = [], []
        if over:
            # oversized wins even over a same-batch <back — as in
            # iter_conversations, a tripped cap never resets
            state.update(([], [], True))
            _set_timeout(state)
            yield emit(conv_id, [], [], "oversized")
            return
        if complete:
            # keep a tombstone (emitted=true) instead of removing state,
            # so late fragments for an already-output conv are ignored
            state.update(([], [], True))
            _set_timeout(state)
            yield emit(conv_id, turn_idxs, texts, "ok")
        else:
            state.update((turn_idxs, texts, False))
            _set_timeout(state)

    return fn


_assemble_fn = _stateful_fn(_emit)


def dedup_after(df, id_col: str = "conv_id", status_col: str = "status",
                prefer: str = "ok"):
    """One-call downstream remedy for the documented tombstone-expiry
    residual: a fragment arriving after the tombstone aged out re-seeds
    state and later emits a duplicate (near-empty ``status='timeout'``)
    row set for an already-output conv_id. This picks ONE winning
    status per conv_id — ``prefer`` (default 'ok') first, then the
    larger row group, then lexical status — and keeps only that group's
    rows, so it works for both the summary output (1 row/conv) and the
    sections output (N rows/conv).

    Residual it does NOT cover: two emissions with the SAME status for
    one conv_id (exactly-once broken upstream of this operator) —
    disambiguating those needs an event-time/epoch column from the
    source.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    grp = df.groupBy(id_col, status_col).agg(F.count(F.lit(1)).alias("_n"))
    w = Window.partitionBy(id_col).orderBy(
        F.when(F.col(status_col) == prefer, 0).otherwise(1).asc(),
        F.col("_n").desc(), F.col(status_col).asc())
    winners = (grp.withColumn("_rn", F.row_number().over(w))
               .where(F.col("_rn") == 1).select(id_col, status_col))
    return df.join(winners, [id_col, status_col], "left_semi")


def assemble_stream(turns, with_timeout: bool = False,
                    output: str = "summary",
                    max_turns_per_conv: int | None = None) -> "DataFrame":  # noqa: F821
    """turns stream → per-completed-conversation output.

    ``output='summary'`` emits one record-summary row per conversation;
    ``output='sections'`` emits the long-form sections rows — the
    streaming twin of the batch flagship output.

    ``with_timeout=True`` evicts never-completing conversations after
    60 s processing time (production setting, paired with a real
    trigger cadence). Default is NoTimeout: under
    ``processAllAvailable()``-style test harnesses, processing-time
    timeouts keep scheduling evaluation batches and the call never
    settles, so tests run without eviction.

    ``max_turns_per_conv`` bounds per-conversation state (see
    ``_stateful_fn``) — without it an adversarial never-closing
    conversation grows the state store until the timeout fires.
    """
    fn, schema = {
        "summary": (_stateful_fn(_emit, max_turns_per_conv),
                    OUTPUT_SCHEMA),
        "sections": (_stateful_fn(_emit_sections, max_turns_per_conv),
                     SECTIONS_OUTPUT_SCHEMA),
    }[output]
    return (
        turns.groupBy("conv_id")
        .applyInPandasWithState(
            fn,
            outputStructType=schema,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=(GroupStateTimeout.ProcessingTimeTimeout
                         if with_timeout else GroupStateTimeout.NoTimeout),
        )
    )
