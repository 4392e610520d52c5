"""DOM-lite parser parity vs the reference (executable oracle).

The reference's ``tei_to_record`` runs through the lxml shim on
identical inputs; records must match byte-for-byte as JSON (including
the abstract trailing-space quirk, "\\n\\n" appends, coords float
formatting, first-wins dedups).
"""

import json

import pytest

from paperslicer_spark.extraction.tei import parse_tei
from paperslicer_spark.sources.transcripts import (
    assemble_payload,
    build_document,
)

BASIC_TEI = """
<TEI xmlns="http://www.tei-c.org/ns/1.0">
  <teiHeader>
    <fileDesc>
      <titleStmt><title>Sample Title</title></titleStmt>
      <sourceDesc><biblStruct>
        <analytic>
          <author><persName><forename>A</forename><surname>B</surname></persName></author>
        </analytic>
        <monogr><title>Journal Name</title></monogr>
        <idno type="DOI">10.1234/abc</idno>
      </biblStruct></sourceDesc>
    </fileDesc>
    <profileDesc><abstract>This is an abstract in the TEI.</abstract></profileDesc>
  </teiHeader>
  <text><body>
    <div><head>Introduction</head><p>Intro content.</p></div>
    <div><head>Methods</head><p>Method content.</p></div>
    <div><head>Results</head><p>Results content.</p></div>
    <div><head>Conclusion</head><p>Conclusion content.</p></div>
    <figure><label>Fig 1</label><figDesc>Figure 1 desc.</figDesc></figure>
    <table><head><label>Table 1</label> Table 1 desc.</head></table>
  </body></text>
</TEI>
"""

FALLBACK_TEI = """
<TEI xmlns="http://www.tei-c.org/ns/1.0">
  <teiHeader><fileDesc><titleStmt><title>T</title></titleStmt></fileDesc></teiHeader>
  <text><body><div>
    <p>Table 2. Caption for two.</p>
    <p>As shown in Table <ref type="table">3</ref>, values increased.</p>
  </div></body></text>
</TEI>
"""

OTHER_TEI = """
<TEI xmlns="http://www.tei-c.org/ns/1.0">
  <teiHeader><fileDesc><titleStmt><title>T</title></titleStmt></fileDesc></teiHeader>
  <text><body>
    <div><head>Novel Protocol</head><p>Details of a unique protocol not in mapping.</p></div>
  </body></text>
</TEI>
"""


# //-xpath multi-match semantics: the first titleStmt/monogr/profileDesc
# lacks the wanted child, a later sibling has it; authors live in a
# SECOND analytic of a SECOND biblStruct
MULTI_CONTAINER_TEI = """
<TEI xmlns="http://www.tei-c.org/ns/1.0">
  <teiHeader>
    <fileDesc>
      <titleStmt><funder>No title here</funder></titleStmt>
      <titleStmt><title>Second TitleStmt Title</title></titleStmt>
      <sourceDesc><biblStruct>
        <monogr><imprint><date type="published" when="2020"/></imprint></monogr>
        <monogr><title>Second Monogr Journal</title></monogr>
      </biblStruct></sourceDesc>
      <sourceDesc><biblStruct>
        <analytic>
          <author><persName><forename>C</forename><surname>D</surname></persName></author>
        </analytic>
        <analytic>
          <author><persName><forename>E</forename><surname>F</surname></persName></author>
        </analytic>
        <idno type="DOI">10.9/second-bibl</idno>
      </biblStruct></sourceDesc>
    </fileDesc>
    <profileDesc><textClass><keywords><term>kw1</term></keywords></textClass></profileDesc>
    <profileDesc><abstract>Abstract in the second profileDesc only.</abstract></profileDesc>
  </teiHeader>
  <text><body>
    <div><head>Results</head><p>Body content.</p></div>
  </body></text>
</TEI>
"""


# NESTED same-tag containers: a titleStmt inside a titleStmt. lxml's
# //titleStmt/title node-set is in DOCUMENT order, so the inner (deeper
# but earlier-in-document) title wins over the outer container's own
# later child — a child-axis step must re-sort by doc order, not emit
# per-container.
NESTED_CONTAINER_TEI = """
<TEI xmlns="http://www.tei-c.org/ns/1.0">
  <teiHeader>
    <fileDesc>
      <titleStmt>
        <titleStmt><title>Inner Nested Title</title></titleStmt>
        <title>Outer Later Title</title>
      </titleStmt>
      <sourceDesc><biblStruct>
        <monogr>
          <monogr><title>Inner Journal</title></monogr>
          <title>Outer Journal</title>
        </monogr>
      </biblStruct></sourceDesc>
    </fileDesc>
  </teiHeader>
  <text><body>
    <div><head>Results</head><p>Body content.</p></div>
  </body></text>
</TEI>
"""


def test_nested_container_doc_order(reference_modules):
    ref_parser, _, _ = reference_modules
    ref = ref_parser.tei_to_record(NESTED_CONTAINER_TEI.encode("utf-8"),
                                   pdf_path="/p.pdf").to_dict()
    mine = parse_tei(NESTED_CONTAINER_TEI, source_path="/p.pdf")
    assert json.dumps(mine, sort_keys=True) == json.dumps(ref, sort_keys=True)
    assert mine["meta"]["title"] == "Inner Nested Title"


def test_multi_container_meta(reference_modules):
    ref_parser, _, _ = reference_modules
    ref = ref_parser.tei_to_record(MULTI_CONTAINER_TEI.encode("utf-8"),
                                   pdf_path="/p.pdf").to_dict()
    mine = parse_tei(MULTI_CONTAINER_TEI, source_path="/p.pdf")
    assert json.dumps(mine, sort_keys=True) == json.dumps(ref, sort_keys=True)
    assert mine["meta"]["title"] == "Second TitleStmt Title"
    assert mine["meta"]["journal"] == "Second Monogr Journal"
    assert mine["meta"]["doi"] == "10.9/second-bibl"
    assert [a["name"] for a in mine["meta"]["authors"]] == ["C D", "E F"]
    assert mine["sections"]["abstract"].startswith(
        "Abstract in the second profileDesc only.")


def test_basic_mapping_behaviour():
    rec = parse_tei(BASIC_TEI, source_path="/path/to/file.pdf")
    assert rec["meta"]["title"] == "Sample Title"
    assert rec["meta"]["journal"] == "Journal Name"
    assert rec["meta"]["doi"] == "10.1234/abc"
    # plain text, no markup (the reference's own assertion here is
    # self-contradictory — its fixture abstract contains the word "TEI")
    assert rec["sections"]["abstract"] == "This is an abstract in the TEI."
    for k in ("introduction", "materials_and_methods", "results", "conclusions"):
        assert k in rec["sections"]
    assert len(rec["figures"]) >= 1
    assert len(rec["tables"]) >= 1


def test_fallback_table_detection():
    rec = parse_tei(FALLBACK_TEI, source_path="/p.pdf")
    labels = {t.get("label") for t in rec["tables"]}
    assert "Table 2" in labels
    assert "Table 3" in labels


def test_other_sections_capture():
    rec = parse_tei(OTHER_TEI, source_path="/p.pdf")
    assert "Novel Protocol" in rec["other_sections"]
    assert "unique protocol" in rec["other_sections"]["Novel Protocol"].lower()


@pytest.mark.parametrize("tei", [BASIC_TEI, FALLBACK_TEI, OTHER_TEI],
                         ids=["basic", "fallback", "other"])
def test_fixture_parity(reference_modules, tei):
    ref_parser, _, _ = reference_modules
    ref = ref_parser.tei_to_record(tei.encode("utf-8"), pdf_path="/p.pdf").to_dict()
    mine = parse_tei(tei, source_path="/p.pdf")
    assert json.dumps(mine, sort_keys=True) == json.dumps(ref, sort_keys=True)


def test_corpus_parity(reference_modules):
    """Byte-exact record parity over the full synthetic corpus."""
    ref_parser, _, _ = reference_modules
    mismatches = []
    for doc_idx in range(60):
        payload = assemble_payload(build_document(doc_idx, seed=42))
        ref = ref_parser.tei_to_record(payload.encode("utf-8"),
                                       pdf_path=f"conv{doc_idx:08d}").to_dict()
        mine = parse_tei(payload, source_path=f"conv{doc_idx:08d}")
        if json.dumps(mine, sort_keys=True) != json.dumps(ref, sort_keys=True):
            mismatches.append(doc_idx)
    assert not mismatches, f"record mismatch for docs {mismatches}"


def test_corpus_parity_skewed(reference_modules):
    ref_parser, _, _ = reference_modules
    payload = assemble_payload(build_document(0, seed=42, size_mult=30))
    ref = ref_parser.tei_to_record(payload.encode("utf-8"), pdf_path="x").to_dict()
    mine = parse_tei(payload, source_path="x")
    assert json.dumps(mine, sort_keys=True) == json.dumps(ref, sort_keys=True)


DUP_ZONE_TEI = """
<TEI xmlns="http://www.tei-c.org/ns/1.0">
  <teiHeader><fileDesc><titleStmt><title>Dup zones</title></titleStmt>
  </fileDesc></teiHeader>
  <facsimile>
    <surface xml:id="s3" n="3" ulx="0" uly="0" lrx="600" lry="800">
      <graphic url="p3.png"/>
      <zone xml:id="zX" ulx="10.0" uly="20.0" lrx="110.0" lry="220.0"/>
    </surface>
    <surface xml:id="s4" n="4" ulx="0" uly="0" lrx="600" lry="800">
      <zone xml:id="zX" ulx="30.0" uly="40.0" lrx="230.0" lry="440.0"/>
    </surface>
  </facsimile>
  <text><body>
    <div><head>Results</head><p>Body text.</p></div>
    <figure facs="#zX"><label>1</label><figDesc>Dup zone figure.</figDesc></figure>
  </body></text>
</TEI>
"""


def test_duplicate_zone_id_resolution_parity(reference_modules):
    # Round-6: zone_in_parent resolves duplicate xml:id zones with the
    # reference's first-in-document-order winner (``xpath(...)[0]``) —
    # compare byte-exactly against the reference on a payload where a
    # parent-preorder child scan would pick the other zone.
    ref_parser, _, _ = reference_modules
    ref = ref_parser.tei_to_record(DUP_ZONE_TEI.encode("utf-8"),
                                   pdf_path="dupzone").to_dict()
    mine = parse_tei(DUP_ZONE_TEI, source_path="dupzone")
    assert json.dumps(mine, sort_keys=True) == json.dumps(ref, sort_keys=True)
