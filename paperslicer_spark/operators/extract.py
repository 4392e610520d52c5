"""Document extraction: fused Arrow-batched parse UDF + exploded views.

This is the Spark-side replacement for the reference's per-PDF loop
(``project.py:174-192`` → ``pipeline.process``): ONE ``mapInPandas``
stage runs the whole record assembly (DOM-lite parse + table merge +
review profile) per document, so there is exactly one
JVM↔Python/Arrow boundary on the hot path (SURVEY.md §4.6).

Error model mirrors the reference's per-document try/except
(``project.py:57-62``) and lives in ONE function, ``extract_document``:
a payload that fails to parse, merge or review yields the error text
``"{Type}: {msg}"``. ``iter_conversations`` is the one walk over
conv_id-sorted turns; a conversation over ``max_turns_per_conv`` gets
``"oversized: > N turns"``. Every path — the records and sections
emitters here, the streaming assembler — turns that text into a
``status='error'`` row (sections: an ``__error__`` row), never a task
failure: at 10^12-turn scale one malformed payload must not kill a
stage.

One batch path per output: ``parse_turns_fused`` (records) and
``extract_sections_fused`` (sections) over raw turns.
``parse_documents(assemble_documents(...))`` is the parity reference
both are tested against.
"""

from __future__ import annotations

from typing import Iterable, Iterator, Optional

from pyspark.sql import DataFrame, functions as F

from paperslicer_spark.extraction.merge import merge_table_entries
from paperslicer_spark.extraction.review import apply_review, should_apply
from paperslicer_spark.extraction.tei import parse_tei
from paperslicer_spark.sources.transcripts import assemble_payload

RECORD_SCHEMA = (
    "conv_id string, status string, error string, "
    "title string, journal string, doi string, "
    "authors array<struct<name:string,affiliation:string>>, "
    "keywords array<string>, "
    "sections map<string,string>, "
    "other_sections array<struct<head:string,text:string>>, "
    "figures array<struct<label:string,caption:string,path:string,source:string,coords:string>>, "
    "tables array<struct<label:string,caption:string,path:string,source:string,coords:string>>, "
    "references array<struct<index:int,text:string,id:string,title:string,doi:string,year:string,authors:array<string>>>"
)

def _flatten(conv_id: str, rec: dict) -> dict:
    """One RECORD_SCHEMA row; ``_flatten(conv_id, {})`` has every field
    empty, the shape of an error row."""
    meta = rec.get("meta") or {}
    return {
        "conv_id": conv_id,
        "status": "ok",
        "error": None,
        "title": meta.get("title"),
        "journal": meta.get("journal"),
        "doi": meta.get("doi"),
        "authors": [
            {"name": a.get("name"), "affiliation": a.get("affiliation")}
            for a in (meta.get("authors") or [])
        ],
        "keywords": list(meta.get("keywords") or []),
        "sections": dict(rec.get("sections") or {}),
        "other_sections": [
            {"head": h, "text": t}
            for h, t in (rec.get("other_sections") or {}).items()
        ],
        "figures": [
            {"label": f.get("label"), "caption": f.get("caption"),
             "path": f.get("path"), "source": f.get("source"),
             "coords": f.get("coords")}
            for f in (rec.get("figures") or [])
        ],
        "tables": [
            {"label": t.get("label"), "caption": t.get("caption"),
             "path": t.get("path"), "source": t.get("source"),
             "coords": t.get("coords")}
            for t in (rec.get("tables") or [])
        ],
        "references": [
            {"index": r.get("index"), "text": r.get("text"),
             "id": r.get("id"), "title": r.get("title"),
             "doi": r.get("doi"), "year": r.get("year"),
             "authors": list(r.get("authors") or [])}
            for r in (rec.get("references") or [])
        ],
    }


_COLS = ["conv_id", "status", "error", "title", "journal", "doi",
         "authors", "keywords", "sections", "other_sections",
         "figures", "tables", "references"]

# rows per output batch of the records / sections emitters
_RECORD_FLUSH = 512
_SECTION_FLUSH = 4096

# "no conversation open yet" sentinel for iter_conversations. It must
# be distinct from None: the agg path's groupBy keeps a NULL conv_id as
# a real group, so a genuine null key has to open and close a group
# here too — `conv is None` would silently drop every null-keyed turn
# (None != None is False, the group never opens).
_UNSET = object()


def extract_document(conv_id: Optional[str], payload: Optional[str],
                     merge_tables: bool, review_mode: Optional[bool]):
    """The per-document policy of every extraction path: parse one
    assembled payload, optionally merge its table entries, then apply
    the review profile (``review_mode`` True forces it, False disables
    it, None applies the reference heuristic ``journals/review.py:10-20``).

    Returns ``(record, None)``, or ``(None, "{Type}: {msg}")`` when any
    step raises — the reference's per-document try/except
    (``project.py:57-62``)."""
    try:
        rec = parse_tei(payload, source_path=conv_id)
        if merge_tables:
            merge_table_entries(rec)
        if review_mode is True or (review_mode is None and should_apply(rec)):
            apply_review(rec)
        return rec, None
    except Exception as e:  # noqa: BLE001 — error-row model
        return None, f"{type(e).__name__}: {e}"


def iter_conversations(pairs: Iterable[tuple],
                       max_turns: Optional[int] = None) -> Iterator[tuple]:
    """``(conv_id, text)`` pairs sorted by conv_id → one ``(conv_id,
    frags)`` per conversation, fragments in input order.

    NULL and empty texts are skipped (agg-path parity); a NULL conv_id
    is a real group. ``max_turns`` is the worker-memory guardrail: the
    moment a conversation holds more fragments its buffer is dropped
    and ``frags`` is None — later fragments are dropped as they stream
    in (a 1 GB outlier never buffers) and never rescue it."""
    conv, frags = _UNSET, []
    for conv_id, text in pairs:
        if conv_id != conv:
            if conv is not _UNSET:
                yield conv, frags
            conv, frags = conv_id, []
        if frags is not None and text:
            frags.append(text)
            if max_turns and len(frags) > max_turns:
                frags = None
    if conv is not _UNSET:
        yield conv, frags


def _payload_docs(pairs, merge_tables, review_mode):
    """``(conv_id, payload)`` pairs → ``(conv_id, record, error)``."""
    for conv_id, payload in pairs:
        yield (conv_id, *extract_document(conv_id, payload, merge_tables,
                                          review_mode))


def _turn_docs(pairs, review_mode, max_turns):
    """Sorted ``(conv_id, text)`` turn pairs → ``(conv_id, record,
    error)``, one per conversation."""
    for conv_id, frags in iter_conversations(pairs, max_turns):
        if frags is None:
            yield conv_id, None, f"oversized: > {max_turns} turns"
        else:
            yield (conv_id, *extract_document(
                conv_id, assemble_payload(frags), True, review_mode))


def _records(df: DataFrame, value_col: str, docs, *args) -> DataFrame:
    """The records emitter: ``docs(pairs, *args)`` maps the stage's
    ``(conv_id, value_col)`` pairs to ``(conv_id, record, error)``; each
    becomes one RECORD_SCHEMA row — an error as a ``status='error'`` row
    with every other field empty."""

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        pairs = (p for pdf in batches
                 for p in zip(pdf["conv_id"].tolist(),
                              pdf[value_col].tolist()))
        cols: dict = {c: [] for c in _COLS}
        for conv_id, rec, err in docs(pairs, *args):
            row = _flatten(conv_id, rec or {})
            if err is not None:
                row.update(status="error", error=err)
            for c in _COLS:
                cols[c].append(row[c])
            if len(cols["conv_id"]) >= _RECORD_FLUSH:
                yield pd.DataFrame(cols)
                cols = {c: [] for c in _COLS}
        if cols["conv_id"]:
            yield pd.DataFrame(cols)

    return df.mapInPandas(run, schema=RECORD_SCHEMA)


def parse_documents(docs: DataFrame, merge_tables: bool = True,
                    review_mode: Optional[bool] = None) -> DataFrame:
    """``(conv_id, payload)`` → typed record rows (``review_mode`` as in
    ``extract_document``)."""
    return _records(docs, "payload", _payload_docs, merge_tables, review_mode)


def _sorted_turns(turns: DataFrame, conv_aligned: bool,
                  partitions: Optional[int]) -> DataFrame:
    """Input step of the fused paths: raw turn rows hash-partitioned on
    conv_id (skipped for conv-aligned layouts) and sorted, so each
    conversation is one contiguous run within its partition."""
    t = turns.select("conv_id", "turn_idx", "text")
    if not conv_aligned:
        t = t.repartition(_fused_partitions(t, partitions), "conv_id")
    # text tiebreak mirrors array_sort(struct(pos,text)) in the agg path
    return t.sortWithinPartitions("conv_id", "turn_idx", "text")


def _fused_partitions(t: DataFrame, partitions: Optional[int]) -> int:
    """Data-proportional repartition width: at least the source's own
    split count (∝ input bytes / maxPartitionBytes), floored by 2×
    cores — a cores-only default would under-partition a 100 TB input
    into enormous reducer tasks."""
    if partitions:
        return partitions
    try:
        src_parts = t.rdd.getNumPartitions()
    except Exception:  # non-scan sources where planning the RDD is costly
        src_parts = 0
    return max(t.sparkSession.sparkContext.defaultParallelism * 2, src_parts)


def check_conv_alignment(turns: DataFrame) -> int:
    """Number of conversations straddling >1 input partition — 0 means
    the layout satisfies ``conv_aligned=True``'s contract. Diagnostic
    (one groupBy shuffle over (conv_id, partition_id) pairs, no
    payload bytes): run once when onboarding a new table layout, not
    per job — the per-job guard is the free count assertion
    (records == conversations) noted in ``parse_turns_fused``."""
    return (
        turns.select("conv_id", F.spark_partition_id().alias("pid"))
        .groupBy("conv_id")
        .agg(F.countDistinct("pid").alias("n_parts"))
        .where(F.col("n_parts") > 1)
        .count()
    )


def parse_turns_fused(turns: DataFrame, review_mode: Optional[bool] = None,
                      conv_aligned: bool = False,
                      partitions: Optional[int] = None,
                      max_turns_per_conv: Optional[int] = None) -> DataFrame:
    """Transcript turns → typed records with NO payload shuffle — the
    scale path, row-identical to ``parse_documents(assemble_documents(
    turns))`` (parity-enforced in tests/test_spark_extract.py).

    The agg path shuffles every assembled payload byte through a
    ``collect_list`` + ``array_sort`` of multi-KB strings and then
    ships it across the Arrow boundary; measured, that JVM agg stage is
    the records pipeline's non-scaling term (BENCH/scaling.json round 2
    decomposition: ~10 s floor regardless of cores). Here the only
    shuffle is a plain hash ``repartition`` of RAW turn rows on
    ``conv_id`` — no aggregation state, no big-array sort — rows are
    sorted within partitions, and per-conversation assembly happens
    INSIDE the same ``mapInPandas`` that parses: turn bytes cross the
    JVM↔Python boundary exactly once, compact records come back.

    ``conv_aligned=True`` additionally skips the repartition for
    sources whose layout guarantees a conversation never straddles
    partitions (the 100 TB deployment: Iceberg table bucketed by
    ``conv_id``, sorted by ``turn_idx`` — plans/checkpoint.py DDL);
    the stage is then a pure map, like the spans hot path.

    FILE-SPLIT CAVEAT: bucketing guarantees one bucket FILE per
    conversation, but Spark splits large parquet files across tasks at
    ``spark.sql.files.maxPartitionBytes`` boundaries — a bucket file
    over that size can split one conversation into two input
    partitions and silently emit two partial records. The layout
    contract is therefore: bucket files under ``maxPartitionBytes``,
    OR ``read.split.target-size`` >= the max file size / file
    splitting disabled (checkpoint.py DDL notes the same). Cheap
    runtime guard when doc count is known: assert output record count
    == conversation count (bench_scaling.py does exactly this); or
    run ``check_conv_alignment`` below on a new layout once.

    Long-conversation skew: a 1000× conversation is one Python group
    inside one task (bounded by its own payload size), never a hot
    reducer materializing a 10^5-element array. ``max_turns_per_conv``
    is the worker-memory guardrail for adversarial inputs: a
    conversation exceeding it becomes a ``status='error'`` row with
    error ``"oversized: > N turns"`` (``iter_conversations``), never a
    task OOM.
    """
    return _records(_sorted_turns(turns, conv_aligned, partitions), "text",
                    _turn_docs, review_mode, max_turns_per_conv)


SECTIONS_SCHEMA = (
    "conv_id string, section_label string, clean_text string, "
    "is_canonical boolean"
)


# Marker label for error-document rows from the sections-only path
# (emit_errors=True): at corpus scale "the sections output is silently
# smaller than the corpus" is an operational trap — the marker row
# keeps per-document accounting possible on the minimal-bytes path.
ERROR_SECTION_LABEL = "__error__"


def section_rows(rec: dict) -> list:
    """A record's long-form section rows ``(section_label, clean_text,
    is_canonical)``: its canonical entries, then its other sections.
    ``sections_long`` is the same rule in JVM form."""
    return ([(k, v, True) for k, v in rec["sections"].items()]
            + [(k, v, False) for k, v in rec["other_sections"].items()])


def _sections(df: DataFrame, emit_errors: bool,
              review_mode: Optional[bool],
              max_turns: Optional[int]) -> DataFrame:
    """The sections emitter: ``_turn_docs`` over the stage's sorted
    ``(conv_id, text)`` turn pairs; each record explodes into its
    ``section_rows``, so only flat strings cross the Arrow boundary.
    An error yields no row, or with ``emit_errors`` one ``__error__``
    row (clean_text = the error text, is_canonical = false)."""

    def run(batches) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa

        pa_schema = pa.schema([
            ("conv_id", pa.string()), ("section_label", pa.string()),
            ("clean_text", pa.string()), ("is_canonical", pa.bool_()),
        ])
        rows = []

        def flush():
            cols = zip(*rows)
            rows.clear()
            return pa.RecordBatch.from_arrays(
                [pa.array(c, f.type) for c, f in zip(cols, pa_schema)],
                schema=pa_schema)

        pairs = (p for b in batches
                 for p in zip(b.column("conv_id").to_pandas().tolist(),
                              b.column("text").to_pandas().tolist()))
        for conv_id, rec, err in _turn_docs(pairs, review_mode, max_turns):
            if err is None:
                rows += [(conv_id, *r) for r in section_rows(rec)]
            elif emit_errors:
                rows.append((conv_id, ERROR_SECTION_LABEL, err, False))
            if len(rows) >= _SECTION_FLUSH:
                yield flush()
        if rows:
            yield flush()

    return df.mapInArrow(run, schema=SECTIONS_SCHEMA)


def extract_sections_fused(turns: DataFrame,
                           review_mode: Optional[bool] = None,
                           conv_aligned: bool = False,
                           partitions: Optional[int] = None,
                           max_turns_per_conv: Optional[int] = None,
                           emit_errors: bool = False) -> DataFrame:
    """Sections-only fused variant: assembly + parse + explode all
    inside ONE ``mapInArrow`` over (optionally repartitioned) raw
    turns — the minimal-bytes path when downstream needs only sections
    (the common 100 TB case): only flat section strings ever cross the
    Arrow boundary, no nested meta/media/reference structs.
    Row-identical to ``sections_long(parse_turns_fused(...))``
    (error conversations yield no section rows either way, unless
    ``emit_errors=True`` adds a ``'__error__'`` marker row per failed
    document for corpus-size accounting).

    ``max_turns_per_conv`` is the same worker-memory guardrail as
    ``parse_turns_fused``: an oversized conversation yields no section
    rows — or the error marker with ``emit_errors=True`` — never a
    task OOM.

    ``conv_aligned=True`` has the same layout contract as
    ``parse_turns_fused`` — see its docstring for the file-split
    caveat (bucket files must not be split across tasks)."""
    return _sections(_sorted_turns(turns, conv_aligned, partitions),
                     emit_errors, review_mode, max_turns_per_conv)


def sections_long(records: DataFrame) -> DataFrame:
    """Exploded long-form sections table — the north_star's
    ``(conv_id, section_label, is_canonical, clean_text)`` view.

    Single-pass: canonical map entries and other_sections structs are
    concatenated into one array before ONE explode, so the upstream
    parse UDF runs exactly once (a union of two selects would
    re-execute the whole parse stage per branch).
    """
    entry = lambda label, text, canon: F.struct(  # noqa: E731
        label.alias("section_label"), text.alias("clean_text"),
        canon.alias("is_canonical"))
    arr = F.concat(
        F.transform(
            F.map_entries("sections"),
            lambda e: entry(e.getField("key"), e.getField("value"), F.lit(True)),
        ),
        F.transform(
            F.col("other_sections"),
            lambda o: entry(o.getField("head"), o.getField("text"), F.lit(False)),
        ),
    )
    return records.select("conv_id", F.explode(arr).alias("s")).select(
        "conv_id", "s.section_label", "s.clean_text", "s.is_canonical")


def media_long(records: DataFrame) -> DataFrame:
    """Figures+tables exploded with kind + per-document position —
    single explode, same one-parse-pass rationale as sections_long."""
    def tagged(col: str, kind: str):
        return F.transform(
            F.col(col),
            lambda m, i: F.struct(
                F.lit(kind).alias("kind"), i.alias("pos"),
                m.getField("label").alias("label"),
                m.getField("caption").alias("caption"),
                m.getField("path").alias("path"),
                m.getField("source").alias("source"),
                m.getField("coords").alias("coords"),
            ),
        )
    arr = F.concat(tagged("figures", "figure"), tagged("tables", "table"))
    return records.select("conv_id", F.explode(arr).alias("m")).select(
        "conv_id", "m.kind", "m.pos", "m.label", "m.caption", "m.path",
        "m.source", "m.coords")


def references_long(records: DataFrame) -> DataFrame:
    return records.select(
        "conv_id", F.explode("references").alias("r")
    ).select(
        "conv_id",
        F.col("r.index").alias("ref_index"),
        F.col("r.text").alias("text"),
        F.col("r.id").alias("ref_id"),
        F.col("r.title").alias("title"),
        F.col("r.doi").alias("doi"),
        F.col("r.year").alias("year"),
        F.col("r.authors").alias("authors"),
    )
