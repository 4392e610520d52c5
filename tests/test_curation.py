"""Curation operators: connected-components dup clustering,
Gopher-style quality rules, deterministic stratified sampling."""

import os

import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# CLI subprocesses start their own JVM beside the test session's: an
# explicit small heap keeps both resident sets within the host's RAM
CLI_ENV = {**os.environ, "SPARK_DRIVER_MEMORY": "1g"}


def _cc(spark, pairs, **kw):
    from paperslicer_spark.operators.dedup import connected_components

    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    out = connected_components(df, **kw).collect()
    return {r["node"]: r["label"] for r in out}


def test_connected_components_basic(spark):
    # two components: {1,2,3} (triangle) and {7,9}
    labels = _cc(spark, [(1, 2), (2, 3), (1, 3), (7, 9)])
    assert labels == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}


def test_connected_components_chain(spark):
    # path graph needs diameter rounds — exercises the iteration +
    # convergence check, labels must reach the far end
    edges = [(i, i + 1) for i in range(10, 20)]
    labels = _cc(spark, edges)
    assert set(labels.values()) == {10}
    assert set(labels) == set(range(10, 21))


def test_connected_components_bridge_merges(spark):
    # two cliques joined by one bridge edge collapse to one component
    labels = _cc(spark, [(1, 2), (3, 4), (2, 3)])
    assert set(labels.values()) == {1}


def test_dup_clusters_representatives(spark):
    from paperslicer_spark.operators.dedup import dup_clusters

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again today"),
        (2, "the quick brown fox jumps over the lazy dog again today"),
        (3, "the quick brown fox jumps over the lazy dog again now"),
        (4, "completely different words entirely unrelated content here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dup_clusters(df, "doc_id", "text").collect()
    by_doc = {r["doc"]: r for r in out}
    # 1/2 exact dups share every band; 3 shares most shingles → same
    # component; cluster id = min member; exactly one representative
    assert by_doc[1]["cluster"] == 1 and by_doc[2]["cluster"] == 1
    reps = [r["doc"] for r in out if r["is_rep"]]
    clusters = {r["cluster"] for r in out}
    assert sorted(reps) == sorted(clusters)
    assert 4 not in by_doc  # no candidate pair → not in the graph


def test_gopher_quality_stats(spark):
    from paperslicer_spark.operators.curation import gopher_quality

    rows = [
        (1, "aa bb aa bb " * 30),          # 120 words, frac_unique 2/120
        (2, " ".join(f"word{i}" for i in range(60))),  # all unique
        (3, "one two"),                    # under the word floor
        (4, "   "),                        # blank → excluded
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc"]: r for r in gopher_quality(df, "doc_id", "text").collect()}
    assert set(out) == {1, 2, 3}
    assert out[1]["word_count"] == 120
    assert out[1]["frac_unique"] == pytest.approx(2 / 120, abs=1e-6)
    # "aa bb" occurs 60 of 119 bigrams
    assert out[1]["frac_top_bigram"] == pytest.approx(60 / 119, abs=1e-6)
    assert not out[1]["keep"]              # repetition rules fail
    assert out[2]["keep"]                  # 60 unique short words pass
    assert out[2]["frac_unique"] == 1.0
    assert out[3]["word_count"] == 2 and not out[3]["keep"]


def test_gopher_quality_single_word_doc(spark):
    from paperslicer_spark.operators.curation import gopher_quality

    df = spark.createDataFrame([(1, "word")], "doc_id long, text string")
    row = gopher_quality(df, "doc_id", "text").collect()[0]
    assert row["frac_top_bigram"] == 0.0   # no bigrams → defined as 0
    assert not row["keep"]                 # fails the word floor


def test_stratified_sample_deterministic_and_rated(spark):
    from paperslicer_spark.operators.curation import stratified_sample

    rows = [(i, "en" if i % 2 == 0 else "de") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    kw = dict(key_col="doc_id", strata_col="lang",
              rates={"en": 0.5, "de": 0.1}, default_rate=0.0)
    a = stratified_sample(df, **kw)
    counts = {r["lang"]: r["n"] for r in
              a.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    # 1000 per stratum; md5 buckets ≈ uniform → within a loose band
    assert 400 <= counts["en"] <= 600
    assert 50 <= counts["de"] <= 170
    # deterministic: the exact same rows on a second run
    b = stratified_sample(df, **kw)
    assert sorted(r["doc_id"] for r in a.collect()) == \
        sorted(r["doc_id"] for r in b.collect())
    # bucket respects the threshold
    assert a.where((F.col("lang") == "en") & (F.col("bucket") >= 5000)) \
        .isEmpty()


def test_curated_keep_composition(spark):
    from paperslicer_spark.operators.curation import (
        curated_keep, gopher_quality, stratified_sample)

    good = " ".join(f"token{i}" for i in range(50))
    rows = [
        (1, good + " alpha", "en"),
        (2, good + " alpha", "en"),                # exact dup of 1 → non-rep
        (3, "aa bb " * 40, "en"),                  # fails repetition rules
        (4, good + " something else entirely", "en"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    kept = curated_keep(df, "doc_id", "text", "lang",
                        rates={"en": 1.0}).select("doc_id").collect()
    kept_ids = sorted(r["doc_id"] for r in kept)
    # 2 is dropped as a cluster non-representative, 3 by quality;
    # rate 1.0 means sampling keeps everything that survives
    assert 2 not in kept_ids and 3 not in kept_ids
    assert 1 in kept_ids
    # composition equals the stage-by-stage application
    quality_ids = {r["doc"] for r in
                   gopher_quality(df, "doc_id", "text")
                   .where("keep").collect()}
    assert set(kept_ids) <= quality_ids


def test_stratified_sample_default_rate(spark):
    from paperslicer_spark.operators.curation import stratified_sample

    df = spark.createDataFrame([(i, "zz") for i in range(500)],
                               "doc_id long, lang string")
    out = stratified_sample(df, "doc_id", "lang", rates={"en": 0.5},
                            default_rate=0.0)
    assert out.isEmpty()


def test_curation_ops_null_text(spark):
    # NULL text must behave like the oracle's `WHERE trim(text) <> ''`
    # exclusion everywhere (the x08 round-2 lesson): no rows, no errors
    from paperslicer_spark.operators.curation import gopher_quality
    from paperslicer_spark.operators.dedup import dup_clusters

    rows = [
        (1, None),
        (2, " ".join(f"word{i}" for i in range(50))),
        (3, " ".join(f"word{i}" for i in range(50))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    q = {r["doc"] for r in gopher_quality(df, "doc_id", "text").collect()}
    assert q == {2, 3}
    c = {r["doc"] for r in dup_clusters(df, "doc_id", "text").collect()}
    assert c == {2, 3}  # the null doc joins no pair


def test_run_curate_cli_and_resume(tmp_path):
    """Stage-level resume: first run executes all stages, second run
    skips them; keep/ equals the curated_keep operator output."""
    import subprocess
    import sys

    out = tmp_path / "cur"
    cmd = [sys.executable, "scripts/run_curate.py",
           "--input", "/root/testdata/sf0.001/documents.parquet",
           "--output", str(out)]
    r1 = subprocess.run(cmd, capture_output=True, text=True,
                        cwd=REPO, env=CLI_ENV)
    assert r1.returncode == 0, r1.stderr[-2000:]
    line1 = [ln for ln in r1.stdout.splitlines()
             if ln.startswith("curation:")][0]
    assert "'ran': ['quality', 'clusters', 'keep', 'chunks']" in line1
    for sub in ("quality", "clusters", "keep", "chunks", "metrics"):
        assert (out / sub / "_SUCCESS").exists()
    r2 = subprocess.run(cmd, capture_output=True, text=True,
                        cwd=REPO, env=CLI_ENV)
    assert r2.returncode == 0, r2.stderr[-2000:]
    line2 = [ln for ln in r2.stdout.splitlines()
             if ln.startswith("curation:")][0]
    assert "'ran': []" in line2
    assert "'skipped': ['quality', 'clusters', 'keep', 'chunks']" in line2

    import duckdb
    met = duckdb.sql(
        f"select * from '{out}/metrics/*.parquet'").df().iloc[0]
    n_keep = duckdb.sql(
        f"select count(*) n from '{out}/keep/*.parquet'").df()["n"][0]
    assert met["n_docs"] == 500 and met["n_kept"] == n_keep > 0
    assert 0.0 < met["keep_rate"] < 1.0
    # chunks: every kept doc chunked, pack assignment carried
    ch = duckdb.sql(
        f"select count(distinct doc_id) d, count(*) n, "
        f"count(distinct (shard, pack_seq)) p from read_parquet("
        f"'{out}/chunks/*/*.parquet', hive_partitioning=1)"
    ).df().iloc[0]
    assert ch["d"] == n_keep and ch["n"] >= n_keep and ch["p"] > 0


def test_gopher_quality_streams_stateless(spark, tmp_path):
    """The zero-shuffle rewrite makes the quality pass stateless, so it
    composes with readStream unchanged — streamed output equals batch."""
    from paperslicer_spark.operators.curation import gopher_quality

    rows = [(i, " ".join(f"word{j % (5 + i)}" for j in range(60)))
            for i in range(20)]
    schema = "doc_id long, text string"
    src = tmp_path / "docs"
    spark.createDataFrame(rows, schema).coalesce(2).write.parquet(str(src))

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    q = (gopher_quality(stream, "doc_id", "text").writeStream
         .format("memory").queryName("gq_mem").outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck_gq")).start())
    q.processAllAvailable()
    q.stop()
    got = sorted(map(tuple, spark.sql("select * from gq_mem").collect()))
    want = sorted(map(tuple, gopher_quality(
        spark.read.parquet(str(src)), "doc_id", "text").collect()))
    assert got == want and len(got) == 20


def test_connected_components_random_vs_union_find(spark):
    """Property check: distributed min-label propagation equals a
    driver-side union-find on seeded random graphs (including ones
    with long chains and multiple merging components)."""
    import random

    for seed in (7, 21, 99):
        rng = random.Random(seed)
        n = 60
        edges = sorted({(a, b) for a, b in
                        ((rng.randrange(n), rng.randrange(n))
                         for _ in range(45)) if a != b})
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent[find(a)] = find(b)
        roots = {}
        for v in set(x for e in edges for x in e):
            roots.setdefault(find(v), []).append(v)
        want = {v: min(vs) for r, vs in roots.items() for v in vs}

        got = _cc(spark, [(a, b) for a, b in edges])
        assert got == want, f"seed {seed}"


def test_chunk_documents_windows(spark):
    from paperslicer_spark.operators.curation import chunk_documents

    text = " ".join(f"w{i}" for i in range(50))
    df = spark.createDataFrame([(1, text), (2, "a b"), (3, " ")],
                               "doc_id long, text string")
    out = chunk_documents(df, "doc_id", "text",
                          chunk_tokens=32, overlap=8).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: 50 tokens, stride 24 → starts 0, 24, 48
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    assert [r["chunk_idx"] for r in c1] == [0, 1, 2]
    assert [r["n_tokens"] for r in c1] == [32, 26, 2]
    assert c1[0]["chunk_text"].split()[0] == "w0"
    assert c1[1]["chunk_text"].split()[0] == "w24"   # 8-token overlap
    assert c1[1]["chunk_text"].split()[:8] == \
        c1[0]["chunk_text"].split()[24:]
    assert c1[2]["chunk_text"] == "w48 w49"
    # short doc → one sub-window chunk; blank doc excluded
    assert [r["n_tokens"] for r in by_doc[2]] == [2]
    assert 3 not in by_doc


def test_strip_html_boilerplate(spark):
    from paperslicer_spark.functions.html import html_title, strip_html
    from pyspark.sql import functions as F

    page = ("<html><head><title> My  Page </title>"
            "<style>p{x:1}</style></head><body>"
            "<NAV>home | about</NAV><!-- c --> <p>Hello &amp; "
            "<b>world</b>&nbsp;&#39;quoted&#39;</p>"
            "<script>if (1 < 2) alert('x')</script>"
            "<footer>bye</footer></body></html>")
    df = spark.createDataFrame([(1, page)], "doc_id long, html string")
    row = df.select(strip_html(F.col("html")).alias("t"),
                    html_title(F.col("html")).alias("ti")).collect()[0]
    assert row["t"] == "Hello & world 'quoted'"
    assert row["ti"] == "My Page"


def test_pack_sequences_invariants(spark):
    from paperslicer_spark.operators.curation import (
        chunk_documents, pack_sequences)

    rows = [(i, " ".join(f"w{j}" for j in range(70))) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    chunks = chunk_documents(df, "doc_id", "text",
                             chunk_tokens=32, overlap=8)
    packed = pack_sequences(chunks, capacity=64, n_shards=4).collect()
    # per shard: offsets in (doc, chunk) order are a contiguous token
    # layout; (shard, pack_seq) is the composite pack key (a single
    # encoded bigint would collide at scale — round-3 ADVICE);
    # deterministic across runs
    by_shard = {}
    for r in packed:
        by_shard.setdefault(r["shard"], []).append(r)
    assert set(by_shard) <= {0, 1, 2, 3} and len(by_shard) > 1
    for shard, rs in by_shard.items():
        rs = sorted(rs, key=lambda r: (r["doc_id"], r["chunk_idx"]))
        total = 0
        for r in rs:
            assert r["pack_seq"] == total // 64
            assert r["pack_offset"] == total % 64
            total += r["n_tokens"]
    again = {(r["doc_id"], r["chunk_idx"]): (r["shard"], r["pack_seq"])
             for r in pack_sequences(chunks, capacity=64,
                                     n_shards=4).collect()}
    assert again == {(r["doc_id"], r["chunk_idx"]): (r["shard"], r["pack_seq"])
                     for r in packed}


def test_connected_components_long_chain_pointer_jumping(spark):
    # a 300-node path has diameter 299: plain neighbor propagation
    # would exhaust max_iter=50; pointer jumping converges in O(log n)
    edges = [(i, i + 1) for i in range(300)]
    labels = _cc(spark, edges, max_iter=15)
    assert set(labels.values()) == {0}
    assert len(labels) == 301


def test_chunk_documents_max_chunks_guardrail(spark):
    from paperslicer_spark.operators.curation import chunk_documents

    text = " ".join(f"w{i}" for i in range(500))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = sorted(
        chunk_documents(df, "doc_id", "text", chunk_tokens=32, overlap=8,
                        max_chunks=3).collect(),
        key=lambda r: r["chunk_idx"])
    assert [r["chunk_idx"] for r in out] == [0, 1, 2]   # truncated
    # tail chunk stays self-consistent after truncation
    assert all(len(r["chunk_text"].split()) == r["n_tokens"] for r in out)
    assert out[-1]["n_tokens"] == 24                    # 72-token head, s=48


def test_chunk_documents_reconstruction_property(spark):
    """Seeded-random property: stride-prefixes of the chunks, plus the
    final chunk's tail, reconstruct the exact token stream; overlap
    regions agree between consecutive chunks."""
    import random

    rng = random.Random(1234)
    rows = [(i, " ".join(f"t{rng.randrange(100)}"
                         for _ in range(rng.randrange(1, 120))))
            for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ct, ov = 16, 4
    stride = ct - ov
    from paperslicer_spark.operators.curation import chunk_documents

    out = {}
    for r in chunk_documents(df, "doc_id", "text",
                             chunk_tokens=ct, overlap=ov).collect():
        out.setdefault(r["doc_id"], []).append(r)
    for doc_id, text in rows:
        want = text.lower().split()
        rs = sorted(out[doc_id], key=lambda r: r["chunk_idx"])
        got = []
        for i, r in enumerate(rs):
            toks = r["chunk_text"].split()
            assert len(toks) == r["n_tokens"] <= ct
            if i < len(rs) - 1:
                nxt = rs[i + 1]["chunk_text"].split()
                assert toks[stride:stride + ov] == nxt[:ov] or \
                    len(toks) <= stride
            got.extend(toks[:stride] if i < len(rs) - 1 else toks)
        assert got == want, doc_id


def test_distinctive_terms_ordering(spark):
    from paperslicer_spark.operators.curation import distinctive_terms

    rows = [
        (1, "alpha alpha alpha beta beta gamma zz"),   # zz under min_len
        (2, "beta beta delta delta delta alpha"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r["doc"], r["rank"]): r
           for r in distinctive_terms(df, "doc_id", "text",
                                      k=2, min_len=4).collect()}
    # doc 1: alpha tf=3 first; beta tf=2 (df=2) over gamma tf=1
    assert out[(1, 1)]["term"] == "alpha" and out[(1, 1)]["tf"] == 3
    assert out[(1, 2)]["term"] == "beta"
    # doc 2: delta tf=3 first; beta tf=2
    assert out[(2, 1)]["term"] == "delta"
    assert out[(2, 2)]["term"] == "beta"
    # df counts are corpus-wide
    assert out[(1, 2)]["df"] == 2 and out[(2, 1)]["df"] == 1
    assert all(len(r["term"]) >= 4 for r in out.values())


def test_decontaminate_planted_overlap(spark):
    from paperslicer_spark.operators.dedup import decontaminate

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string")
    train = spark.createDataFrame(
        [(1, "intro text then the quick brown fox jumps away"),  # 3 shared 4-grams? no: 'the quick brown fox' + 'quick brown fox jumps'
         (2, "completely different words without any overlap here"),
         (3, "over the lazy dog ends this one")],
        "doc_id long, text string")
    out = {(r["train_doc"], r["bench_doc"]): r["n_shared"]
           for r in decontaminate(train, bench, "doc_id", "text",
                                  n=4, min_shared=1).collect()}
    # doc 1 shares 'the quick brown fox' and 'quick brown fox jumps';
    # doc 3 shares 'over the lazy dog'; doc 2 is clean
    assert out == {(1, 100): 2, (3, 100): 1}


def test_decontaminate_doc_freq_cap(spark):
    from paperslicer_spark.operators.dedup import decontaminate

    # one boilerplate 4-gram present in EVERY training doc and the
    # benchmark: the cap removes it, leaving only the rare overlap
    boiler = "all rights reserved worldwide"
    bench = spark.createDataFrame(
        [(9, boiler + " plus unique bench payload words here")],
        "doc_id long, text string")
    train = spark.createDataFrame(
        [(i, boiler + f" filler {i} body") for i in range(1, 6)]
        + [(6, boiler + " plus unique bench payload words extra")],
        "doc_id long, text string")
    capped = {(r["train_doc"], r["bench_doc"]): r["n_shared"]
              for r in decontaminate(train, bench, "doc_id", "text",
                                     n=4, min_shared=1,
                                     max_doc_freq=3).collect()}
    # only doc 6's genuine 4-gram overlaps survive the cap
    assert set(capped) == {(6, 9)}
    uncapped = {r["train_doc"]
                for r in decontaminate(train, bench, "doc_id", "text",
                                       n=4, min_shared=1).collect()}
    assert uncapped == {1, 2, 3, 4, 5, 6}


def test_paragraph_dedup_first_wins_and_rebuild(spark):
    from paperslicer_spark.operators.curation import paragraph_dedup

    docs = spark.createDataFrame(
        [(1, "alpha one\n\nshared body\n\nalpha tail"),
         (2, "shared body\n\nbeta two"),      # 'shared body' dies (doc 1 owns it)
         (3, "shared body"),                  # everything dies
         (4, "")],                            # blank: zero paragraphs
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           paragraph_dedup(docs, "doc_id", "text").collect()}
    assert len(out) == 4
    assert out[1]["clean_text"] == "alpha one\n\nshared body\n\nalpha tail"
    assert (out[1]["n_paras"], out[1]["n_kept"]) == (3, 3)
    assert out[2]["clean_text"] == "beta two"
    assert (out[2]["n_paras"], out[2]["n_kept"]) == (2, 1)
    assert out[3]["clean_text"] == "" and out[3]["n_kept"] == 0
    assert (out[4]["n_paras"], out[4]["n_kept"]) == (0, 0)


def test_redact_pii_counts_and_text(spark):
    from paperslicer_spark.functions.pii import redact_pii

    rows = [
        (1, "mail a.b-c_1@sub.example.org now, backup x@y.io too"),
        (2, "call +1-555-867-5309 or (212) 555-0147 x9"),
        (3, "host 192.168.0.1 and acct 98765432109 end"),
        (4, "clean text with no pii at all"),
        (5, "edge a.12345678901@b.com stays one email"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in redact_pii(df, "doc_id", "text").collect()}
    assert out[1]["n_email"] == 2 and out[1]["n_redacted"] == 2
    assert out[1]["clean_text"] == "mail [EMAIL] now, backup [EMAIL] too"
    assert out[2]["n_phone"] == 2
    assert out[2]["clean_text"] == "call [PHONE] or [PHONE] x9"
    assert out[3]["n_ipv4"] == 1 and out[3]["n_digits"] == 1
    assert out[3]["clean_text"] == "host [IP] and acct [NUMBER] end"
    assert out[4]["n_redacted"] == 0 and out[4]["clean_text"] == rows[3][1]
    # ordering contract: email scrub runs first, so the digits inside
    # the address never count as a digit run
    assert out[5]["n_email"] == 1 and out[5]["n_digits"] == 0
    assert out[5]["clean_text"] == "edge [EMAIL] stays one email"


def test_exact_k_sample_counts_and_nesting(spark):
    from paperslicer_spark.operators.curation import exact_k_sample

    rows = [(i, "en" if i % 3 else "de") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    k10 = exact_k_sample(df, "doc_id", "lang", k=10).collect()
    by_lang = {}
    for r in k10:
        by_lang.setdefault(r["lang"], set()).add(r["doc_id"])
    assert len(by_lang["en"]) == 10 and len(by_lang["de"]) == 10
    # deterministic across runs
    again = {r["doc_id"] for r in
             exact_k_sample(df, "doc_id", "lang", k=10).collect()}
    assert again == by_lang["en"] | by_lang["de"]
    # nested-prefix property: k=5 is exactly sample_rank <= 5 of k=10
    k5 = {r["doc_id"] for r in
          exact_k_sample(df, "doc_id", "lang", k=5).collect()}
    assert k5 == {r["doc_id"] for r in k10 if r["sample_rank"] <= 5}
    # k larger than the stratum keeps the whole stratum
    small = exact_k_sample(df.where("lang = 'de'"), "doc_id", "lang",
                           k=1000).count()
    assert small == 100


def test_run_curate_scrub_and_decontaminate_stages(tmp_path):
    """Optional stage 0a/0b: PII scrub rewrites the funnel's text;
    decontamination drops overlapping docs; both resume."""
    import subprocess
    import sys

    import duckdb

    out = tmp_path / "cur"
    cmd = [sys.executable, "scripts/run_curate.py",
           "--input", "/root/testdata/sf0.001/documents.parquet",
           "--output", str(out), "--scrub-pii",
           "--bench-input", "/root/testdata/sf0.01/documents.parquet"]
    r1 = subprocess.run(cmd, capture_output=True, text=True,
                        cwd=REPO, env=CLI_ENV)
    assert r1.returncode == 0, r1.stderr[-2000:]
    line1 = [ln for ln in r1.stdout.splitlines() if "curation:" in ln][-1]
    assert "'ran': ['scrub', 'decontaminate', 'quality'" in line1
    assert (out / "scrubbed" / "_SUCCESS").exists()
    assert (out / "decontaminated" / "_SUCCESS").exists()
    # decontamination actually dropped overlapping docs
    n_in = 500
    n_dec = duckdb.sql(
        f"select count(*) n from '{out}/decontaminated/*.parquet'"
    ).df()["n"][0]
    assert 0 < n_dec < n_in
    r2 = subprocess.run(cmd, capture_output=True, text=True,
                        cwd=REPO, env=CLI_ENV)
    line2 = [ln for ln in r2.stdout.splitlines() if "curation:" in ln][-1]
    assert "'ran': []" in line2 and "'skipped': ['scrub', 'decontaminate'" in line2


def test_token_budget_cut_prefix_and_determinism(spark):
    from pyspark.sql import functions as F

    from paperslicer_spark.operators.curation import token_budget_cut

    rows = [(i, 10 + (i * 7) % 30) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, wc long")
    cut = token_budget_cut(df, "doc_id", F.col("wc"), budget=2000,
                           n_buckets=8)
    got = sorted((r["doc_id"], r["cum_tokens"]) for r in cut.collect())
    # running total is consistent with each row's own weight and the
    # global budget: max cum <= budget, every kept doc's predecessor
    # totals match (verify against a single-machine reference)
    import hashlib
    def h(i):
        return int(hashlib.md5(f"budget:{i}".encode()).hexdigest()[:15], 16)
    order = sorted(rows, key=lambda r: (h(r[0]), r[0]))
    ref, total = [], 0
    for i, wc in order:
        total += wc
        if total > 2000:
            break
        ref.append((i, total))
    assert got == sorted(ref) and len(ref) > 10
    # more buckets, same result (bucketing is an implementation detail)
    again = sorted((r["doc_id"], r["cum_tokens"]) for r in
                   token_budget_cut(df, "doc_id", F.col("wc"),
                                    budget=2000, n_buckets=64).collect())
    assert again == got
    # nested budgets are prefixes
    small = {r["doc_id"] for r in
             token_budget_cut(df, "doc_id", F.col("wc"),
                              budget=900, n_buckets=8).collect()}
    assert small <= {d for d, _ in got}


def test_temperature_mix_upweights_small_strata(spark):
    from pyspark.sql import functions as F

    from paperslicer_spark.operators.curation import temperature_mix

    # 2000 'big' rows vs 100 'small' rows; alpha=0.5 should give the
    # small stratum a much higher keep RATE than proportional
    rows = [(i, "big") for i in range(2000)] + \
           [(10_000 + i, "small") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, src string")
    out = temperature_mix(df, "doc_id", "src", alpha=0.5,
                          target_rows=300)
    kept = {r["src"]: r["n"] for r in
            out.groupBy("src").agg(F.count("*").alias("n")).collect()}
    # weights: sqrt(2000)=44.7, sqrt(100)=10 → w_small ≈ 0.183;
    # expected small ≈ 300*0.183 ≈ 55 of 100 (rate ~0.55), big rate
    # ~0.12 — small stratum keeps a 4-5x higher fraction
    assert 35 <= kept["small"] <= 75
    assert 180 <= kept["big"] <= 310
    assert kept["small"] / 100 > 3 * kept["big"] / 2000
    # deterministic
    again = sorted(r["doc_id"] for r in out.collect())
    assert again == sorted(r["doc_id"] for r in
                           temperature_mix(df, "doc_id", "src",
                                           alpha=0.5,
                                           target_rows=300).collect())
    # alpha=1 reduces to proportional rates (same threshold per
    # stratum: round(denom * target/total))
    prop = temperature_mix(df, "doc_id", "src", alpha=1.0,
                           target_rows=300)
    th = {r["src"]: r["mix_rate_bucket"] for r in
          prop.select("src", "mix_rate_bucket").distinct().collect()}
    assert th["big"] == th["small"] == round(10000 * 300 / 2100)


def test_clean_unicode_fixes(spark):
    from paperslicer_spark.functions.pii import (MOJIBAKE_FIXES,
                                                 clean_unicode)

    moji_e = MOJIBAKE_FIXES[0][0]       # latin-1 mojibake of e-acute
    moji_ap = MOJIBAKE_FIXES[5][0]      # mojibake curly apostrophe
    rows = [
        (1, "caf" + moji_e + " time"),
        (2, "a\u0001b\ufffdc\u200bd"),          # controls dropped
        (3, "x\u00a0y\u2003z"),                  # exotic spaces
        (4, "it" + moji_ap + "s fine"),
        (5, "plain ascii"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           clean_unicode(df, "doc_id", "text").collect()}
    assert out[1]["clean_text"] == "caf\u00e9 time"
    assert out[1]["n_fixed"] == 1
    assert out[2]["clean_text"] == "abcd" and out[2]["n_fixed"] == 3
    assert out[3]["clean_text"] == "x y z" and out[3]["n_fixed"] == 2
    assert out[4]["clean_text"] == "it's fine" and out[4]["n_fixed"] == 1
    assert out[5]["clean_text"] == "plain ascii"
    assert out[5]["n_fixed"] == 0


def test_temperature_mix_null_stratum_kept(spark):
    """A NULL stratum is sampled like any other (null-safe join back
    — round-4 ADVICE: plain equi-join dropped those rows silently)."""
    from pyspark.sql import functions as F

    from paperslicer_spark.operators.curation import temperature_mix

    rows = [(i, "big") for i in range(900)] + \
           [(5_000 + i, None) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, src string")
    out = temperature_mix(df, "doc_id", "src", alpha=0.5,
                          target_rows=300)
    kept = {r["src"]: r["n"] for r in
            out.groupBy("src").agg(F.count("*").alias("n")).collect()}
    # sqrt(900)=30, sqrt(100)=10 → w_null=0.25 → ≈75 of 100 kept
    assert None in kept and 45 <= kept[None] <= 100
    assert out.columns == ["doc_id", "src", "mix_rate_bucket"]


def test_c4_line_filter_rules(spark):
    from paperslicer_spark.operators.curation import c4_line_filter

    text = "\n".join([
        "this line is properly terminated.",   # keep
        "no terminal punctuation here",        # drop: no terminal
        "short one.",                          # drop: < 3 words
        "enable javascript to view this.",     # drop: banned
        'he said "stop right there."',         # keep (quote terminal)
        "   ",                                 # drop: blank
        "Lorem Ipsum filler text again.",      # drop: banned (ci)
        "another good line survives!",         # keep
    ])
    df = spark.createDataFrame([(1, text), (2, "   ")],
                               "doc_id long, text string")
    out = c4_line_filter(df, "doc_id", "text").collect()
    assert len(out) == 1                      # blank doc excluded
    r = out[0]
    assert r["doc"] == 1 and r["n_lines"] == 8 and r["n_kept"] == 3
    assert r["clean_text"] == (
        "this line is properly terminated.\n"
        'he said "stop right there."\n'
        "another good line survives!")


def test_unigram_logprob_model(spark):
    import math

    from paperslicer_spark.operators.curation import unigram_logprob

    rows = [(1, "a a b"), (2, "a c"), (3, "  ")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # vocab_size=2 → vocab {a:3, b:1} (count desc, token asc beats c);
    # N=5 tokens, V=2 → P(w) = (c+1)/8
    out = {r["doc"]: r for r in
           unigram_logprob(df, "doc_id", "text", vocab_size=2).collect()}
    assert set(out) == {1, 2}
    lp = lambda c: math.log10((c + 1) / 8)
    assert out[1]["n_tokens"] == 3 and out[1]["oov_frac"] == 0.0
    assert out[1]["mean_logp"] == round((2 * lp(3) + lp(1)) / 3, 6)
    assert out[2]["n_tokens"] == 2 and out[2]["oov_frac"] == 0.5
    assert out[2]["mean_logp"] == round((lp(3) + lp(0)) / 2, 6)


def test_repetition_stats_values(spark):
    from paperslicer_spark.operators.curation import repetition_stats

    # lines: "x y" twice + "z w" once → dup_line_frac = 1/3;
    # chars: 3+3+3=9, distinct 6 → dup_char_frac = 3/9
    # tokens: x y x y z w → trigrams {x y x, y x y, x y z, y z w}
    # all unique → top3 = 1/4; fourgrams 3 distinct → 1/3
    df = spark.createDataFrame([(1, "x y\nx y\nz w")],
                               "doc_id long, text string")
    r = repetition_stats(df, "doc_id", "text").collect()[0]
    assert r["n_lines"] == 3
    assert r["dup_line_frac"] == round(1 / 3, 6)
    assert r["dup_line_char_frac"] == round(3 / 9, 6)
    assert r["frac_top_trigram"] == 0.25
    assert r["frac_top_fourgram"] == round(1 / 3, 6)
    # degenerate repetition: "q q q q q q" → every trigram identical
    df2 = spark.createDataFrame([(9, "q q q\nq q q")],
                                "doc_id long, text string")
    r2 = repetition_stats(df2, "doc_id", "text").collect()[0]
    assert r2["dup_line_frac"] == 0.5
    assert r2["frac_top_trigram"] == 1.0 and r2["frac_top_fourgram"] == 1.0


def test_epoch_mix_plan(spark):
    from pyspark.sql import functions as F

    from paperslicer_spark.operators.curation import epoch_mix

    rows = [(i, "en", 100) for i in range(10)] + \
           [(100 + i, "de", 50) for i in range(2)] + \
           [(200, "fr", 10)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, wc long")
    out = {r["stratum"]: r for r in
           epoch_mix(df, "lang", F.col("wc"),
                     weights={"en": 0.5, "de": 0.5},
                     budget_tokens=2000, max_epochs=3.0,
                     default_weight=0.0).collect()}
    # en: 1000 tokens, weight .5 → target 1000 → epochs 1.0
    assert out["en"]["n_tokens"] == 1000 and out["en"]["epochs"] == 1.0
    assert out["en"]["effective_tokens"] == 1000
    # de: 100 tokens, target 1000 → capped at 3 epochs → 300 effective
    assert out["de"]["epochs"] == 3.0
    assert out["de"]["effective_tokens"] == 300
    # fr: unlisted stratum, default weight 0 → zero plan
    assert out["fr"]["target_tokens"] == 0 and out["fr"]["epochs"] == 0.0


def test_hashed_classifier_paths_agree(spark):
    """The derived-weight score is deterministic across runs and its
    keep flag and mean agree with the integer score."""
    from paperslicer_spark.operators.curation import hashed_classifier_score

    rows = [(i, f"alpha beta gamma delta_{i} epsilon zeta_{i % 7}")
            for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def run():
        return {r["doc"]: (r["n_tokens"], r["score_raw"], r["mean_w"],
                           r["keep"])
                for r in hashed_classifier_score(
                    df, "doc_id", "text", dim=512).collect()}

    ka = run()
    assert len(ka) == 60 and ka == run()
    # keep consistent with the mean threshold
    for n, s, m, keep in ka.values():
        assert keep == (s > 0)
        assert m == round(s / n, 6)


def test_dsir_upweights_target_like_docs(spark):
    """Docs written in the target domain's vocabulary score a higher
    log-likelihood ratio than off-domain docs (the importance-
    resampling ordering DSIR exists to produce)."""
    from paperslicer_spark.operators.curation import dsir_weights

    target_vocab = "physics quantum entangle boson fermion lattice"
    off_vocab = "recipe butter flour sugar oven whisk"
    rows = ([(i, target_vocab) for i in range(10)] +
            [(100 + i, off_vocab) for i in range(10)] +
            [(200, "physics quantum recipe butter")])     # mixed
    df = spark.createDataFrame(rows, "doc_id long, text string")
    target = df.where("doc_id < 10")
    out = {r["doc"]: r["log_ratio"]
           for r in dsir_weights(df, target, "doc_id", "text",
                                 dim=256).collect()}
    assert out[0] > out[200] > out[100]
    # length-normalized: identical docs share one score
    assert out[0] == out[5] and out[100] == out[105]


def test_packing_stats_vs_python(spark):
    from paperslicer_spark.operators.curation import (pack_sequences,
                                                      packing_stats)
    from pyspark.sql import functions as F

    rows = [(d, i, 1 + (d * 7 + i * 3) % 40)
            for d in range(25) for i in range(4)]
    chunks = spark.createDataFrame(rows,
                                   ["doc_id", "chunk_idx", "n_tokens"])
    packs = pack_sequences(chunks, capacity=64, n_shards=4)
    got = {r["shard"]: r for r in
           packing_stats(packs, capacity=64).collect()}

    pk = packs.collect()
    shards = {}
    for r in pk:
        shards.setdefault(r["shard"], []).append(r)
    assert set(got) == set(shards)
    for sh, rs in shards.items():
        n_tok = sum(r["n_tokens"] for r in rs)
        n_packs = max(r["pack_seq"] for r in rs) + 1
        strad = sum(1 for r in rs
                    if r["pack_offset"] + r["n_tokens"] > 64)
        g = got[sh]
        assert g["n_chunks"] == len(rs)
        assert g["n_tokens"] == n_tok
        assert g["n_packs"] == n_packs
        assert g["tail_fill"] == n_tok - (n_packs - 1) * 64
        assert g["n_straddles"] == strad
        # concat-then-chop invariant: only the tail is unfilled. A
        # final chunk STARTING in the last pack may straddle past
        # capacity (chunks belong to the pack where they start), so
        # the bound is capacity + max_chunk - 1, not capacity.
        assert 1 <= g["tail_fill"] <= 64 + 40 - 1
