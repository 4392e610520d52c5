"""Spark-free tests of the extraction core every batch and streaming path
shares: ``iter_conversations`` (the conversation walk over conv_id-sorted
turns) and ``extract_document`` (parse → table merge → review profile,
or one error text)."""

import pytest

from paperslicer_spark.operators.extract import (
    extract_document, iter_conversations)
from paperslicer_spark.sources.transcripts import assemble_payload


def _walk(pairs, max_turns=None):
    return list(iter_conversations(iter(pairs), max_turns))


def test_null_conv_id_opens_and_closes_a_group():
    assert _walk([(None, "a"), (None, "b"), ("x", "c")]) == [
        (None, ["a", "b"]), ("x", ["c"])]
    # a trailing NULL group is closed at end of input as well
    assert _walk([("x", "c"), (None, "a")]) == [("x", ["c"]), (None, ["a"])]


def test_null_and_empty_fragments_are_skipped():
    pairs = [("a", None), ("a", ""), ("a", "t1"), ("a", None), ("a", "t2"),
             ("b", None), ("b", "")]
    # a conversation of only NULL/empty fragments is still one group
    assert _walk(pairs) == [("a", ["t1", "t2"]), ("b", [])]
    # skipped fragments do not count towards the cap
    assert _walk(pairs, max_turns=2) == [("a", ["t1", "t2"]), ("b", [])]


def test_cap_drops_buffer_and_later_fragments_never_rescue():
    pairs = [("a", "1"), ("a", "2"), ("a", "3"), ("a", "<back></back>"),
             ("b", "x"), ("b", "y")]
    assert _walk(pairs, max_turns=2) == [("a", None), ("b", ["x", "y"])]
    # exactly at the cap the conversation is kept
    assert _walk(pairs[:2], max_turns=2) == [("a", ["1", "2"])]
    assert _walk(pairs) == [("a", ["1", "2", "3", "<back></back>"]),
                            ("b", ["x", "y"])]


def test_adjacent_groups_are_split():
    pairs = [("a", "1"), ("a", "2"), ("b", "3"), ("c", "4"), ("c", "5")]
    assert _walk(pairs) == [("a", ["1", "2"]), ("b", ["3"]), ("c", ["4", "5"])]
    assert _walk([]) == []


def test_truncated_xml_is_an_error_text():
    payload = assemble_payload([
        "<teiHeader><fileDesc><titleStmt><title>X</title>", "<back"])
    rec, err = extract_document("t", payload, True, None)
    assert rec is None
    assert err.startswith("ParseError: ")


def _payload(title):
    # a figure table and a "Table 2: ..." ref paragraph share a caption
    # (merged to one "tei+tei-ref" table); "Zebra notes" is a
    # non-canonical section the review profile folds into discussion
    return assemble_payload([
        f"<teiHeader><fileDesc><titleStmt><title>{title}</title>"
        "</titleStmt></fileDesc></teiHeader>",
        '<div><head>Results</head><p>See <ref type="table">2</ref>. '
        "Table 2: Same caption.</p><figure type=\"table\"><head>Table 1"
        "</head><figDesc>Same caption.</figDesc></figure></div>",
        "<div><head>Zebra notes</head><p>z.</p></div>", "<back></back>"])


@pytest.mark.parametrize("merge_tables", [True, False])
def test_merge_tables(merge_tables):
    rec, err = extract_document("c", _payload("Plain"), merge_tables, False)
    assert err is None
    assert [(t["label"], t["source"]) for t in rec["tables"]] == (
        [("Table 1", "tei+tei-ref")] if merge_tables
        else [("Table 1", "tei"), ("Table 2", "tei-ref")])


@pytest.mark.parametrize("title, review_mode, applied", [
    ("Plain", True, True),
    ("Plain", False, False),
    ("Plain", None, False),          # heuristic: not a review
    ("A systematic review", None, True),
    ("A systematic review", False, False),
])
def test_review_mode(title, review_mode, applied):
    rec, err = extract_document("c", _payload(title), True, review_mode)
    assert err is None
    assert rec["sections"].get("discussion") == (
        "Zebra notes\nz." if applied else None)
    assert list(rec["other_sections"]) == ["Zebra notes"]
