"""Sinks (K1-K3) and the stateful streaming assembler."""

import glob
import json

from pyspark.sql import functions as F


def test_write_records_jsonl_dedup(spark, tmp_path):
    from paperslicer_spark.operators.sinks import (
        write_records_jsonl_dedup, write_small_export, with_doc_filename)

    rows = [
        ("c1", "10.1/A", "T1"), ("c2", "10.1/a", "T2"),   # dup DOI
        ("c3", None, "Same"), ("c4", None, "same"),        # dup title
        ("c5", None, "Unique"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, doi string, title string")
    out = str(tmp_path / "jsonl")
    write_records_jsonl_dedup(df, out)
    kept = set()
    for f in glob.glob(out + "/part-*"):
        with open(f) as fh:
            kept |= {json.loads(line)["conv_id"] for line in fh if line.strip()}
    assert kept == {"c1", "c3", "c5"}

    named = with_doc_filename(df)
    files = {r["doc_file"] for r in named.collect()}
    assert len(files) == 5 and all(f.endswith(".json") for f in files)

    write_small_export(df, str(tmp_path / "single"))
    assert len(glob.glob(str(tmp_path / "single") + "/part-*")) == 1


def test_stateful_assembly_tombstone(spark, tmp_path):
    """A straggler fragment arriving AFTER its conversation emitted must
    be dropped by the tombstone — never re-seed state and emit a second
    record for the same conv_id."""
    import datetime

    import pandas as pd

    from paperslicer_spark.streaming.stateful_assemble import assemble_stream
    from paperslicer_spark.streaming.stream_extract import stream_turns

    src = tmp_path / "turns"
    src.mkdir()
    ts = datetime.datetime(2025, 1, 1)

    def write_batch(name, rows):
        pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role",
                                          "text", "tool", "ts"])
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        pdf.to_parquet(src / name)

    write_batch("b1.parquet", [
        ("cx", 0, "tool",
         "<teiHeader><fileDesc><titleStmt><title>X</title></titleStmt>"
         "</fileDesc></teiHeader>", "gen", ts),
        ("cx", 1, "tool", "<div><head>Results</head><p>r.</p></div>", "gen", ts),
        ("cx", 2, "tool", "<back></back>", "gen", ts),
    ])

    q = (assemble_stream(stream_turns(spark, str(src))).writeStream
         .format("memory").queryName("tombstone_mem").outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck2")).start())
    q.processAllAvailable()
    # straggler for the already-emitted conversation in a later batch
    write_batch("b2.parquet",
                [("cx", 3, "tool", "<div><p>late straggler</p></div>",
                  "gen", ts)])
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("select * from tombstone_mem").collect()
    assert [(r["conv_id"], r["status"]) for r in rows] == [("cx", "ok")]


def test_stateful_null_turn_idx_stream(spark, tmp_path):
    """A NULL ``turn_idx`` is a turn like any other: the streaming query
    keeps running and emits the conversation once, its fragments in the
    batch paths' order (NULL first, ties by text)."""
    import datetime

    import pandas as pd

    from paperslicer_spark.operators.extract import parse_turns_fused
    from paperslicer_spark.streaming.stateful_assemble import assemble_stream
    from paperslicer_spark.streaming.stream_extract import stream_turns

    src = tmp_path / "turns"
    src.mkdir()
    ts = datetime.datetime(2025, 1, 1)
    pdf = pd.DataFrame([
        ("cn", 0, "tool",
         "<teiHeader><fileDesc><titleStmt><title>N</title></titleStmt>"
         "</fileDesc></teiHeader>", "gen", ts),
        ("cn", None, "tool", "<div><head>Methods</head><p>m.</p></div>",
         "gen", ts),
        ("cn", 2, "tool", "<back></back>", "gen", ts),
    ], columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("Int32")
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pdf.to_parquet(src / "b1.parquet")

    q = (assemble_stream(stream_turns(spark, str(src))).writeStream
         .format("memory").queryName("null_idx_mem").outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("select * from null_idx_mem").collect()
    assert [(r["conv_id"], r["status"], r["n_turns"]) for r in rows] == [
        ("cn", "ok", 3)]
    batch = parse_turns_fused(spark.read.parquet(str(src))).collect()[0]
    assert rows[0]["title"] == batch["title"]
    assert rows[0]["n_sections"] == (len(batch["sections"])
                                     + len(batch["other_sections"]))


class _FakeState:
    """Minimal GroupState double for driving _stateful_fn directly —
    processing-time timeouts never settle under processAllAvailable()
    in tests, so the expiry path is pinned at the function level."""

    def __init__(self):
        self._v = None
        self.hasTimedOut = False

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def remove(self):
        self._v = None

    def getCurrentProcessingTimeMs(self):
        return 0

    def setTimeoutDuration(self, ms):
        pass


def test_tombstone_expiry_straggler_duplicate(spark):
    """Pin the documented residual risk: after the tombstone ages out,
    an extremely late straggler RE-SEEDS state and eventually emits a
    duplicate (timeout) row for an already-output conv_id — and
    dedup_after is the one-call downstream remedy."""
    import pandas as pd

    from paperslicer_spark.streaming.stateful_assemble import (
        _assemble_fn, dedup_after)

    def batch(rows):
        return [pd.DataFrame(rows, columns=["turn_idx", "text"])]

    st = _FakeState()
    # 1. full conversation arrives and emits ok
    out1 = list(_assemble_fn(("cx",), batch([
        (0, "<teiHeader><fileDesc><titleStmt><title>X</title></titleStmt>"
            "</fileDesc></teiHeader>"),
        (1, "<div><head>Results</head><p>r.</p></div>"),
        (2, "<back></back>"),
    ]), st))
    assert len(out1) == 1 and out1[0]["status"][0] == "ok"
    assert st.get == ([], [], True)  # tombstone
    # 2. tombstone ages out silently (no re-emission)
    st.hasTimedOut = True
    assert list(_assemble_fn(("cx",), iter(()), st)) == []
    assert not st.exists
    st.hasTimedOut = False
    # 3. post-expiry straggler re-seeds fresh state...
    assert list(_assemble_fn(("cx",), batch(
        [(3, "<div><p>late straggler</p></div>")]), st)) == []
    assert st.exists and st.get[2] is False
    # 4. ...and its own timeout emits the DUPLICATE timeout row
    st.hasTimedOut = True
    out2 = list(_assemble_fn(("cx",), iter(()), st))
    assert len(out2) == 1 and out2[0]["status"][0] == "timeout"

    # the one-call remedy: first-wins on conv_id, 'ok' preferred
    dup = spark.createDataFrame(pd.concat([out1[0], out2[0]]))
    kept = dedup_after(dup).collect()
    assert [(r["conv_id"], r["status"]) for r in kept] == [("cx", "ok")]

    # sections-shaped frame: winner group keeps ALL its rows
    sec = spark.createDataFrame(
        [("cy", "ok", "results", "r", True),
         ("cy", "ok", "abstract", "a", True),
         ("cy", "timeout", None, None, None),
         ("cz", "timeout", None, None, None)],
        "conv_id string, status string, section_label string, "
        "clean_text string, is_canonical boolean")
    kept2 = sorted((r["conv_id"], r["status"], r["section_label"])
                   for r in dedup_after(sec).collect())
    assert kept2 == [("cy", "ok", "abstract"), ("cy", "ok", "results"),
                     ("cz", "timeout", None)]


def test_stateful_oversize_guardrail():
    """Streaming twin of the batch max_turns_per_conv guardrail: a
    never-closing conversation stops accumulating state once over the
    cap — one 'oversized' marker row, then a tombstone."""
    import pandas as pd

    from paperslicer_spark.streaming.stateful_assemble import (
        _emit, _emit_sections, _stateful_fn)

    def batch(rows):
        return [pd.DataFrame(rows, columns=["turn_idx", "text"])]

    fn = _stateful_fn(_emit, max_turns_per_conv=100)
    st = _FakeState()
    frags = [(i, f"<div><p>chunk {i}.</p></div>") for i in range(60)]
    assert list(fn(("cb",), batch(frags), st)) == []
    assert len(st.get[1]) == 60  # buffering below the cap
    out = list(fn(("cb",), batch([(60 + i, t) for i, (_, t) in
                                  enumerate(frags)]), st))
    assert len(out) == 1
    assert out[0]["status"][0] == "oversized"
    assert out[0]["n_turns"][0] == 0
    assert st.get == ([], [], True)  # tombstoned: state is bounded
    # further fragments are dropped, nothing re-emitted
    assert list(fn(("cb",), batch([(200, "<back></back>")]), st)) == []
    assert st.get == ([], [], True)

    # sections output: the marker row keeps accounting
    fn2 = _stateful_fn(_emit_sections, max_turns_per_conv=10)
    st2 = _FakeState()
    out2 = list(fn2(("cs",), batch(
        [(i, f"<div><p>c{i}.</p></div>") for i in range(11)]), st2))
    assert len(out2) == 1
    assert list(out2[0]["status"]) == ["oversized"]
    assert out2[0]["section_label"][0] is None

    # cap + same-batch <back: oversized still wins (batch parity —
    # 'over' never resets), and the buffer is dropped mid-loop so
    # within-batch accumulation is bounded as well
    fn3 = _stateful_fn(_emit, max_turns_per_conv=5)
    st3 = _FakeState()
    rows = [(i, f"<div><p>c{i}.</p></div>") for i in range(8)]
    rows.append((8, "<back></back>"))
    out3 = list(fn3(("cc",), batch(rows), st3))
    assert [o["status"][0] for o in out3] == ["oversized"]
    assert st3.get == ([], [], True)


def test_stateful_parse_error_matches_batch_error_text(spark):
    """A conversation that completes (ends in ``<back``) but does not
    parse becomes ``status='error'`` carrying the batch paths' error
    text: in the summary's ``error`` column, and as the sections
    output's ``__error__`` row."""
    import pandas as pd

    from paperslicer_spark.operators.extract import (
        ERROR_SECTION_LABEL, parse_turns_fused)
    from paperslicer_spark.streaming.stateful_assemble import (
        _emit, _emit_sections, _stateful_fn)

    frags = [(0, "<teiHeader><fileDesc><titleStmt><title>X</title>"),
             (1, "<back")]
    turns = spark.createDataFrame(
        [("bad", i, "tool", t, "gen", None) for i, t in frags],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")
    want = parse_turns_fused(turns).collect()[0]["error"]
    assert want.startswith("ParseError: ")

    def batch():
        return [pd.DataFrame(frags, columns=["turn_idx", "text"])]

    out = list(_stateful_fn(_emit)(("bad",), batch(), _FakeState()))
    assert len(out) == 1
    assert (out[0]["status"][0], out[0]["error"][0]) == ("error", want)
    sec = list(_stateful_fn(_emit_sections)(("bad",), batch(), _FakeState()))
    assert len(sec) == 1
    assert sec[0].to_dict("records") == [{
        "conv_id": "bad", "status": "error",
        "section_label": ERROR_SECTION_LABEL, "clean_text": want,
        "is_canonical": False}]


def test_stateful_turn_order_matches_batch(spark):
    """Fragments sort as the batch paths sort turns: ascending
    ``turn_idx``, NULL first, ties broken by text."""
    import pandas as pd

    from paperslicer_spark.operators.extract import extract_sections_fused
    from paperslicer_spark.streaming.stateful_assemble import (
        _emit_sections, _stateful_fn)

    frags = [(1, "<div><head>Results</head><p>r.</p></div>"),
             (None, "<div><head>Methods</head><p>m.</p></div>"),
             (1, "<div><head>Discussion</head><p>d.</p></div>"),
             (2, "<back></back>")]
    turns = spark.createDataFrame(
        [("co", i, "tool", t, "gen", None) for i, t in frags],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")
    want = [(r["section_label"], r["clean_text"])
            for r in extract_sections_fused(turns).collect()]
    got = list(_stateful_fn(_emit_sections)(
        ("co",), [pd.DataFrame(frags, columns=["turn_idx", "text"])],
        _FakeState()))[0]
    assert list(zip(got["section_label"], got["clean_text"])) == want
    assert len(want) == 3


def test_stateful_sections_stream(spark, corpus_path, tmp_path):
    """output='sections': streamed long-form sections equal the batch
    pipeline's (same parse settings: no merge, no review)."""
    from paperslicer_spark.operators.assemble import assemble_documents
    from paperslicer_spark.operators.extract import (
        parse_documents, sections_long)
    from paperslicer_spark.streaming.stateful_assemble import assemble_stream
    from paperslicer_spark.streaming.stream_extract import stream_turns

    stream = stream_turns(spark, corpus_path, max_files_per_trigger=1)
    q = (assemble_stream(stream, output="sections").writeStream
         .format("memory").queryName("sections_mem").outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck3")).start())
    q.processAllAvailable()
    q.stop()
    got = sorted(
        (r["conv_id"], r["section_label"], r["clean_text"], r["is_canonical"])
        for r in spark.sql(
            "select * from sections_mem where status = 'ok'").collect())
    batch = sections_long(parse_documents(
        assemble_documents(spark.read.parquet(corpus_path)),
        merge_tables=False, review_mode=False))
    want = sorted(map(tuple, batch.collect()))
    assert got == want and len(got) > 0


def test_stateful_assembly_stream(spark, corpus_path, tmp_path):
    from paperslicer_spark.streaming.stateful_assemble import assemble_stream
    from paperslicer_spark.streaming.stream_extract import stream_turns

    stream = stream_turns(spark, corpus_path, max_files_per_trigger=1)
    q = (assemble_stream(stream).writeStream.format("memory")
         .queryName("assembled_mem").outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("select * from assembled_mem").collect()
    done = {r["conv_id"]: r for r in rows if r["status"] == "ok"}
    # every conversation in the corpus closes with <back...> → all emit
    assert len(done) == 40
    # spot-check against the batch pipeline
    from paperslicer_spark.operators.assemble import assemble_documents
    from paperslicer_spark.operators.extract import parse_documents
    batch = {r["conv_id"]: r for r in parse_documents(
        assemble_documents(spark.read.parquet(corpus_path)),
        merge_tables=False).collect()}
    for cid, r in list(done.items())[:10]:
        b = batch[cid]
        assert r["title"] == b["title"]
        assert r["n_references"] == len(b["references"])
        assert r["n_sections"] == len(b["sections"]) + len(b["other_sections"])
