"""Spark end-to-end: transcripts → assembled docs → records → views.

Correctness gates:
- assembled payloads equal the generator's reference assembly rule;
- salted and unsalted assembly produce identical payloads;
- per-document records from the Spark pipeline match the reference
  extractor byte-for-byte (sections/meta/figures/tables/references);
- per-turn span invariant: ``clean_text == turn_clean[start:end]``;
- span unit texts appear verbatim in the document-level record.
"""

import json

import pytest

from paperslicer_spark.operators.assemble import assemble_documents
from paperslicer_spark.operators.extract import (
    parse_documents,
    sections_long,
    media_long,
    references_long,
)
from paperslicer_spark.operators.spans import extract_turn_spans, clean_turns
from paperslicer_spark.sources.transcripts import (
    assemble_payload,
    build_document,
    doc_turn_rows,
)

N_DOCS = 40


@pytest.fixture(scope="module")
def turns(spark, corpus_path):
    return spark.read.parquet(corpus_path)


@pytest.fixture(scope="module")
def expected_payloads():
    out = {}
    for i in range(N_DOCS):
        rows = doc_turn_rows(i, seed=42, skew_every=13, skew_mult=8)
        out[rows[0]["conv_id"]] = assemble_payload([r["text"] for r in rows])
    return out


def test_assembly_matches_reference_rule(turns, expected_payloads):
    got = {r["conv_id"]: r["payload"]
           for r in assemble_documents(turns).collect()}
    assert got == expected_payloads


def test_salted_assembly_identical(turns, expected_payloads):
    """Every test conversation has more than 4 turns, so all of them
    take the salted path, in blocks of 4 — payloads must be identical."""
    counts = [r["count"] for r in turns.groupBy("conv_id").count().collect()]
    assert len(counts) == N_DOCS and min(counts) > 4
    got = {r["conv_id"]: r["payload"]
           for r in assemble_documents(turns, skew_threshold=4).collect()}
    assert got == expected_payloads


def test_skew_split_assembly_identical(turns, expected_payloads):
    """Threshold chosen so the corpus's skewed conversations take the
    salted path while the rest go direct — results must be identical."""
    got = {r["conv_id"]: r["payload"]
           for r in assemble_documents(turns, skew_threshold=20).collect()}
    assert got == expected_payloads
    n_skewed = sum(1 for r in
                   turns.groupBy("conv_id").count().collect()
                   if r["count"] > 20)
    assert n_skewed > 0, "corpus must exercise the skewed path"


def test_record_parity_spark_vs_reference(spark, turns, reference_modules):
    """The flagship gate: Spark-extracted records equal the reference."""
    ref_parser, _, _ = reference_modules
    from paperslicer_spark.extraction.merge import merge_table_entries

    docs = assemble_documents(turns, skew_threshold=8)
    records = parse_documents(docs, review_mode=False)
    rows = {r["conv_id"]: r.asDict(recursive=True) for r in records.collect()}
    assert len(rows) == N_DOCS
    assert all(r["status"] == "ok" for r in rows.values())

    for i in range(N_DOCS):
        conv_id = f"conv{i:08d}"
        payload = assemble_payload(
            [t["text"] for t in doc_turn_rows(i, seed=42, skew_every=13,
                                              skew_mult=8)])
        ref = ref_parser.tei_to_record(payload.encode("utf-8"),
                                       pdf_path=conv_id).to_dict()
        # same postprocessing order as the engine (merge tables)
        class _R:  # duck-typed holder for the reference merge input
            pass
        merge_table_entries(ref)
        got = rows[conv_id]
        assert got["title"] == ref["meta"]["title"], conv_id
        assert got["journal"] == ref["meta"]["journal"]
        assert got["doi"] == ref["meta"]["doi"]
        assert got["keywords"] == ref["meta"]["keywords"]
        assert [(a["name"], a["affiliation"]) for a in got["authors"]] == \
            [(a["name"], a["affiliation"]) for a in ref["meta"]["authors"]]
        assert got["sections"] == ref["sections"], conv_id
        assert [(o["head"], o["text"]) for o in got["other_sections"]] == \
            list(ref["other_sections"].items())
        for kind in ("figures", "tables"):
            mine = [(m["label"], m["caption"], m["source"], m["coords"])
                    for m in got[kind]]
            want = [(m.get("label"), m.get("caption"), m.get("source"),
                     m.get("coords")) for m in ref[kind]]
            assert mine == want, (conv_id, kind)
        mine_refs = [(r["index"], r["text"], r["id"], r["title"], r["doi"],
                      r["year"], r["authors"] or None) for r in got["references"]]
        want_refs = [(r.get("index"), r.get("text"), r.get("id"),
                      r.get("title"), r.get("doi"), r.get("year"),
                      r.get("authors")) for r in ref["references"]]
        assert mine_refs == want_refs, conv_id


def test_review_profile_parity(spark, turns, reference_modules):
    """review_mode=None applies the R1 heuristic; compare against the
    reference review module applied to reference-parsed records."""
    ref_parser, _, ref_review = reference_modules

    docs = assemble_documents(turns)
    records = parse_documents(docs, merge_tables=False, review_mode=None)
    rows = {r["conv_id"]: r.asDict(recursive=True) for r in records.collect()}

    applied = 0
    for i in range(N_DOCS):
        conv_id = f"conv{i:08d}"
        payload = assemble_payload(
            [t["text"] for t in doc_turn_rows(i, seed=42, skew_every=13,
                                              skew_mult=8)])
        rec = ref_parser.tei_to_record(payload.encode("utf-8"), pdf_path=conv_id)
        if ref_review.should_apply(rec):
            rec = ref_review.apply(rec)
            applied += 1
        assert rows[conv_id]["sections"] == rec.sections, conv_id
    assert applied > 0, "corpus must include review-profile documents"


def test_error_row_model(spark):
    docs = spark.createDataFrame(
        [("c1", "<TEI xmlns='http://www.tei-c.org/ns/1.0'><text><body/></text></TEI>"),
         ("c2", "this is not xml at all <<<")],
        "conv_id string, payload string")
    out = {r["conv_id"]: r for r in parse_documents(docs).collect()}
    assert out["c1"]["status"] == "ok"
    assert out["c2"]["status"] == "error"
    assert out["c2"]["error"]


def test_span_invariant(spark, turns):
    s = extract_turn_spans(turns).withColumnRenamed("clean_text", "unit_text")
    c = clean_turns(turns).withColumnRenamed("clean_text", "turn_text")
    j = s.join(c, ["conv_id", "turn_idx"]).collect()
    assert j, "no spans extracted"
    for r in j:
        assert r["unit_text"] == r["turn_text"][r["char_start"]:r["char_end"]]


def test_spans_null_turn_idx(spark, turns):
    """A NULL turn_idx among normal turns is a NULL-keyed row, not a
    task failure: that turn's units carry turn_idx NULL and every other
    row is unchanged. All turns sit in one Arrow batch, so the NULL
    turns the batch's int32 column into floats with a NaN."""
    from pyspark.sql import functions as F

    conv = turns.where(F.col("conv_id") == "conv00000000").coalesce(1)
    base = extract_turn_spans(conv).collect()
    hit = next(r["turn_idx"] for r in base)
    nulled = conv.withColumn(
        "turn_idx", F.when(F.col("turn_idx") != hit, F.col("turn_idx"))
        .cast("int"))
    got = extract_turn_spans(nulled).collect()

    def key(r):
        return (r["turn_idx"], r["unit_idx"], r["kind"],
                r["section_label"], r["char_start"], r["char_end"],
                r["clean_text"])

    want_null = sorted(key(r)[1:] for r in base if r["turn_idx"] == hit)
    assert want_null
    assert sorted(key(r)[1:] for r in got if r["turn_idx"] is None) \
        == want_null
    assert sorted(key(r) for r in got if r["turn_idx"] is not None) \
        == sorted(key(r) for r in base if r["turn_idx"] != hit)


def test_clean_turns_null_turn_idx(spark, turns):
    """clean_turns keeps a NULL turn_idx as NULL instead of failing the
    task; every other row is unchanged (one Arrow batch, as above)."""
    from pyspark.sql import functions as F

    conv = turns.where(F.col("conv_id") == "conv00000000").coalesce(1)
    base = clean_turns(conv).collect()
    hit = base[0]["turn_idx"]
    nulled = conv.withColumn(
        "turn_idx", F.when(F.col("turn_idx") != hit, F.col("turn_idx"))
        .cast("int"))
    got = clean_turns(nulled).collect()

    assert [r.asDict() for r in got if r["turn_idx"] is None] \
        == [dict(r.asDict(), turn_idx=None) for r in base
            if r["turn_idx"] == hit]
    assert sorted(map(tuple, (r for r in got if r["turn_idx"] is not None))) \
        == sorted(map(tuple, (r for r in base if r["turn_idx"] != hit)))


def test_spans_cover_section_content(spark, turns, reference_modules):
    """Every canonical section's text in the document record is composed
    of span unit texts (joined per reference A1 semantics)."""
    ref_parser, _, _ = reference_modules
    spans = extract_turn_spans(turns)
    paras = [r.asDict() for r in
             spans.filter("kind = 'para'").orderBy("conv_id", "turn_idx",
                                                   "unit_idx").collect()]
    by_conv = {}
    for p in paras:
        by_conv.setdefault(p["conv_id"], []).append(p["clean_text"])
    payload0 = assemble_payload(
        [t["text"] for t in doc_turn_rows(0, seed=42, skew_every=13,
                                          skew_mult=8)])
    rec = ref_parser.tei_to_record(payload0.encode("utf-8"), pdf_path="x")
    all_para_text = " ".join(by_conv["conv00000000"])
    for key, text in rec.sections.items():
        if key == "abstract":
            continue  # abstract comes from the header, not body paras
        for piece in text.split("\n\n"):
            assert piece in all_para_text, (key, piece[:60])


def test_exploded_views(spark, turns):
    docs = assemble_documents(turns)
    records = parse_documents(docs).cache()
    sl = sections_long(records)
    assert sl.filter("is_canonical").count() > 0
    assert sl.filter("NOT is_canonical").count() > 0
    ml = media_long(records)
    assert ml.filter("kind = 'table'").count() > 0
    assert ml.filter("coords IS NOT NULL").count() > 0
    rl = references_long(records)
    assert rl.filter("doi IS NOT NULL").count() > 0
    records.unpersist()


def _record_key(r):
    return json.dumps(r.asDict(recursive=True), sort_keys=True)


def test_fused_parse_equals_agg_path(spark, turns):
    """parse_turns_fused (no payload shuffle) must be row-identical to
    assemble_documents → parse_documents, including the skewed tail."""
    from paperslicer_spark.operators.extract import parse_turns_fused

    via_agg = parse_documents(
        assemble_documents(turns, skew_threshold=20), review_mode=None)
    fused = parse_turns_fused(turns, review_mode=None, partitions=7)
    a = sorted(_record_key(r) for r in via_agg.collect())
    b = sorted(_record_key(r) for r in fused.collect())
    assert a == b
    # two-row Arrow input batches: conversations straddle input batches,
    # which exercises the cross-batch conversation carry
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        tiny = parse_turns_fused(turns, review_mode=None, partitions=3)
        c = sorted(_record_key(r) for r in tiny.collect())
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2000")
    assert a == c
    # conv-aligned (zero-shuffle) variant: the test corpus is a single
    # file, so the layout guarantee holds trivially
    aligned = parse_turns_fused(turns, review_mode=None, conv_aligned=True)
    d = sorted(_record_key(r) for r in aligned.collect())
    assert a == d


def test_fused_parse_null_conv_id(spark):
    """A genuine NULL conv_id is a real group: the agg path's groupBy
    keeps the null key and emits a record row, so the fused paths must
    open/close a group for it too (the 'no conversation open' sentinel
    must be distinct from None)."""
    from paperslicer_spark.operators.extract import (
        extract_sections_fused, parse_turns_fused, sections_long)

    rows = [
        (None, 0, "tool",
         "<teiHeader><fileDesc><titleStmt><title>NullKey</title>"
         "</titleStmt></fileDesc></teiHeader>", "gen", None),
        (None, 1, "tool", "<div><head>Results</head><p>null r.</p></div>",
         "gen", None),
        ("good", 0, "tool",
         "<teiHeader><fileDesc><titleStmt><title>T</title></titleStmt>"
         "</fileDesc></teiHeader>", "gen", None),
        ("good", 1, "tool", "<div><head>Results</head><p>r.</p></div>",
         "gen", None),
    ]
    turns = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    via_agg = parse_documents(assemble_documents(turns), review_mode=None)
    fused = parse_turns_fused(turns, review_mode=None, partitions=3)
    a = sorted(_record_key(r) for r in via_agg.collect())
    b = sorted(_record_key(r) for r in fused.collect())
    assert a == b
    assert len(b) == 2  # the null-keyed conversation is NOT dropped
    by_title = {r["title"]: r for r in fused.collect()}
    assert by_title["NullKey"]["conv_id"] is None
    assert by_title["NullKey"]["status"] == "ok"
    # sections-fused sibling: same sentinel rule
    sf = sorted(map(tuple, extract_sections_fused(
        turns, review_mode=None, partitions=3).collect()), key=repr)
    sl = sorted(map(tuple, sections_long(via_agg).collect()), key=repr)
    assert sf == sl
    assert any(t[0] is None for t in sf)


def test_fused_parse_extreme_skew(spark):
    """A 3000-turn conversation (1000× the median) is one Python group
    inside one task — must parse correctly alongside tiny neighbors."""
    from paperslicer_spark.operators.extract import parse_turns_fused

    rows = [("big", 0, "tool",
             "<teiHeader><fileDesc><titleStmt><title>Big</title></titleStmt>"
             "</fileDesc></teiHeader>", "gen", None)]
    rows += [("big", i, "tool",
              f"<div><head>Results</head><p>chunk {i} text.</p></div>",
              "gen", None) for i in range(1, 3000)]
    rows += [("tiny", 0, "tool",
              "<teiHeader><fileDesc><titleStmt><title>Tiny</title>"
              "</titleStmt></fileDesc></teiHeader>", "gen", None),
             ("tiny", 1, "tool", "<div><head>Results</head><p>r.</p></div>",
              "gen", None)]
    turns = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    out = {r["conv_id"]: r for r in
           parse_turns_fused(turns, partitions=4).collect()}
    assert out["big"]["status"] == "ok"
    assert out["big"]["sections"]["results"].count("chunk") == 2999
    assert out["tiny"]["status"] == "ok"

    # worker-memory guardrail: an oversized conversation becomes an
    # error row (fragments dropped as they stream), neighbors unharmed
    capped = {r["conv_id"]: r for r in
              parse_turns_fused(turns, partitions=4,
                                max_turns_per_conv=100).collect()}
    assert capped["big"]["status"] == "error"
    assert "oversized" in capped["big"]["error"]
    assert capped["big"]["sections"] == {}
    assert capped["tiny"]["status"] == "ok"


def test_fused_parse_error_rows(spark):
    """A malformed conversation yields an error row, never a task
    failure — and never poisons its partition neighbors."""
    from paperslicer_spark.operators.extract import parse_turns_fused

    rows = [
        ("bad", 0, "tool", "not xml <<<", "gen", None),
        ("good", 0, "tool",
         "<teiHeader><fileDesc><titleStmt><title>T</title></titleStmt>"
         "</fileDesc></teiHeader>", "gen", None),
        ("good", 1, "tool", "<div><head>Results</head><p>r.</p></div>",
         "gen", None),
        ("good", 2, "tool", None, "gen", None),   # null fragment skipped
    ]
    turns = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    out = {r["conv_id"]: r for r in parse_turns_fused(turns).collect()}
    assert out["bad"]["status"] == "error" and out["bad"]["error"]
    assert out["good"]["status"] == "ok"
    assert out["good"]["title"] == "T"


def test_sections_fused_extreme_skew(spark):
    """Mirror of test_fused_parse_extreme_skew for the sections-only
    fused path: the max_turns_per_conv guardrail drops fragments as
    they stream (bounded memory), the oversized conversation yields no
    section rows (or the __error__ marker), neighbors unharmed."""
    from paperslicer_spark.operators.extract import (
        ERROR_SECTION_LABEL, extract_sections_fused)

    rows = [("big", 0, "tool",
             "<teiHeader><fileDesc><titleStmt><title>Big</title></titleStmt>"
             "</fileDesc></teiHeader>", "gen", None)]
    rows += [("big", i, "tool",
              f"<div><head>Results</head><p>chunk {i} text.</p></div>",
              "gen", None) for i in range(1, 3000)]
    rows += [("tiny", 0, "tool",
              "<teiHeader><fileDesc><titleStmt><title>Tiny</title>"
              "</titleStmt></fileDesc></teiHeader>", "gen", None),
             ("tiny", 1, "tool", "<div><head>Results</head><p>r.</p></div>",
              "gen", None)]
    turns = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    # uncapped: the 3000-turn conversation parses fine
    full = extract_sections_fused(turns, partitions=4).collect()
    big_results = [r for r in full
                   if r["conv_id"] == "big" and r["section_label"] == "results"]
    assert len(big_results) == 1
    assert big_results[0]["clean_text"].count("chunk") == 2999
    # capped: oversized conv yields NO section rows, tiny unharmed
    capped = extract_sections_fused(
        turns, partitions=4, max_turns_per_conv=100).collect()
    assert not [r for r in capped if r["conv_id"] == "big"]
    assert [r for r in capped if r["conv_id"] == "tiny"]
    # capped + emit_errors: the __error__ marker keeps accounting
    marked = extract_sections_fused(
        turns, partitions=4, max_turns_per_conv=100,
        emit_errors=True).collect()
    errs = [r for r in marked if r["section_label"] == ERROR_SECTION_LABEL]
    assert len(errs) == 1 and errs[0]["conv_id"] == "big"
    assert "oversized" in errs[0]["clean_text"]
    assert errs[0]["is_canonical"] is False


def test_sections_error_visibility(spark):
    """emit_errors=True: every input document is visible in the
    sections output — parse failures appear as __error__ marker rows,
    so sections-path doc coverage equals the records path's total
    (ok + error) document count."""
    from paperslicer_spark.operators.extract import (
        ERROR_SECTION_LABEL, extract_sections_fused, parse_turns_fused)

    rows = [
        ("bad", 0, "tool", "not xml <<<", "gen", None),
        ("good", 0, "tool",
         "<teiHeader><fileDesc><titleStmt><title>T</title></titleStmt>"
         "</fileDesc></teiHeader>", "gen", None),
        ("good", 1, "tool", "<div><head>Results</head><p>r.</p></div>",
         "gen", None),
    ]
    turns = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    records = parse_turns_fused(turns).collect()
    n_docs = len(records)

    fused = extract_sections_fused(turns, emit_errors=True,
                                   partitions=2).collect()
    covered = {r["conv_id"] for r in fused}
    assert len(covered) == n_docs == 2
    err_rows = [r for r in fused if r["section_label"] == ERROR_SECTION_LABEL]
    assert len(err_rows) == 1 and err_rows[0]["conv_id"] == "bad"
    assert "Error" in err_rows[0]["clean_text"] or ":" in err_rows[0]["clean_text"]

    # default (emit_errors=False) keeps exact parity: error docs absent
    silent = extract_sections_fused(turns, partitions=2).collect()
    assert {r["conv_id"] for r in silent} == {"good"}


def test_sections_fused_equals_records_path(spark, turns):
    from paperslicer_spark.operators.extract import extract_sections_fused

    docs = assemble_documents(turns)
    via_records = sections_long(parse_documents(docs, review_mode=None))
    a = sorted(map(tuple, via_records.collect()))
    fused = extract_sections_fused(turns, review_mode=None, partitions=5)
    c = sorted(map(tuple, fused.collect()))
    assert a == c
