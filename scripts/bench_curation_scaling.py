"""Scaling probe for the curation operators (round-3 additions):
runs the quality pass, LSH pair generation, and component clustering
at two pinned parallelism levels (local[8] vs local[32], fresh JVM
each, same 8g heap) over a 10x-replicated documents corpus and reports
throughput at both plus the efficiency ratio.

Same methodology as scripts/bench_scaling.py (taskset pinning so the
small "cluster" cannot borrow idle cores); corpus = sf0.1 documents
replicated 10x with per-copy id remap and a per-copy text suffix (so
replicas are near- but not exact dups — the LSH pair structure stays
realistic rather than degenerate).

Usage: python scripts/bench_curation_scaling.py
Env: CURATION_CORES="8,32"  CURATION_REPEATS=2
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CORES = [int(c) for c in os.environ.get("CURATION_CORES", "8,32").split(",")]
REPEATS = int(os.environ.get("CURATION_REPEATS", "2"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPLICAS = int(os.environ.get("CURATION_REPLICAS", "10"))
JOBS = set(os.environ.get("CURATION_JOBS", "quality,lsh_pairs,cluster").split(","))
# substr times a 1/SUBSTR_MOD corpus slice (the per-char gram fan-out
# is deliberately the most expensive shape in the repo)
SUBSTR_MOD = int(os.environ.get("SUBSTR_MOD", "5"))


def corpus(spark) -> str:
    from pyspark.sql import functions as F

    path = os.path.join(REPO, ".bench_cache",
                        f"curation_docs_v2_x{REPLICAS}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        reps = spark.range(REPLICAS).select(F.col("id").alias("rep"))
        # Near-dup structure is GROUPED, not global: every token gets
        # a per-(replica // 8) suffix, so replicas form 8-member
        # near-dup cliques (differing only in the trailing " repN"
        # shingle) and share NO shingles across groups. Flat "all
        # replicas near-identical" made LSH candidate generation
        # quadratic in REPLICAS (x160 → ~63M pairs — a degenerate
        # corpus, not a probe), and a fixed id stride of 16 collided
        # doc_ids above 16 replicas (800k rows → ~80k distinct ids),
        # chaining unrelated docs into 20-round CC components.
        grp = (F.col("rep") / 8).cast("int").cast("string")
        big = (
            docs.crossJoin(reps)
            .select(
                (F.col("doc_id") * REPLICAS + F.col("rep")).alias("doc_id"),
                F.concat(
                    F.regexp_replace(F.col("text"), r"(\S+)",
                                     F.concat(F.lit("$1g"), grp)),
                    F.lit(" rep"), F.col("rep").cast("string"),
                ).alias("text"),
                "lang", "source",
            )
            .repartition(64)
        )
        big.write.mode("overwrite").parquet(path)
    return path


def worker(cores: int) -> None:
    from paperslicer_spark.operators import dedup as DD
    from paperslicer_spark.operators.curation import gopher_quality
    from paperslicer_spark.session import get_spark

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "8g")
    spark = get_spark(app_name=f"curation-scaling-{cores}",
                      master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(corpus(spark))
    n_docs = docs.count()

    def force(df):
        df.write.format("noop").mode("overwrite").save()

    # warm-up: JIT + shuffle paths on a sample (excluded from timing)
    force(gopher_quality(docs.sample(0.05, seed=7), "doc_id", "text"))
    force(DD.minhash_lsh_pairs(docs.sample(0.02, seed=7), "doc_id", "text"))

    def best_of(fn):
        best = None
        for _ in range(REPEATS):
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        return best

    # per-job doc counts: partial-job runs (CURATION_JOBS subsets,
    # possibly at a different REPLICAS) merge into the shared JSON, so
    # a single top-level n_docs would silently misattribute corpus
    # sizes across runs
    out = {"cores": cores}

    def record(job: str, sec: float, n: int) -> None:
        out[f"{job}_sec"] = round(sec, 3)
        out[f"{job}_docs_per_sec"] = round(n / sec, 1)
        out[f"{job}_n_docs"] = n
    if "pdedup" in JOBS:
        # round-4 op: corpus-wide paragraph dedup over 8-token-window
        # paragraphs synthesized from the text (the x40 shape)
        from pyspark.sql import functions as F

        from paperslicer_spark.functions.text_stats import bind
        from paperslicer_spark.operators.curation import paragraph_dedup

        paras = bind(
            F.split(F.trim(F.col("text")), r"\s+"),
            lambda t: F.transform(
                F.sequence(F.lit(0), F.size(t) - 1, F.lit(8)),
                lambda st: F.array_join(F.slice(t, st + 1, 8), " ")))
        withp = docs.select(
            "doc_id", F.array_join(paras, "\n\n").alias("text"))
        sec = best_of(lambda: force(
            paragraph_dedup(withp, "doc_id", "text")))
        record("pdedup", sec, n_docs)
    if "decon" in JOBS:
        # round-4 op: decontamination vs a 1/16 held-out slice
        from pyspark.sql import functions as F

        from paperslicer_spark.operators.dedup import decontaminate

        bench = docs.where(F.col("doc_id") % 16 == 0)
        train = docs.where(F.col("doc_id") % 16 != 0)
        sec = best_of(lambda: force(
            decontaminate(train, bench, "doc_id", "text", n=4,
                          max_doc_freq=200)))
        record("decon", sec, n_docs)
    if "quality" in JOBS:
        sec = best_of(lambda: force(gopher_quality(docs, "doc_id", "text")))
        record("quality", sec, n_docs)
    if "c4" in JOBS or "repstats" in JOBS:
        # round-5 zero-shuffle HOF ops over synthesized multi-line text
        from pyspark.sql import functions as F

        from paperslicer_spark.functions.text_stats import bind
        from paperslicer_spark.operators.curation import (c4_line_filter,
                                                          repetition_stats)

        fives = bind(
            F.split(F.trim(F.col("text")), r"\s+"),
            lambda t: F.transform(
                F.sequence(F.lit(0), F.size(t) - 1, F.lit(5)),
                lambda s: F.array_join(F.slice(t, s + 1, 5), " ")))
        withl = docs.select(
            "doc_id", F.array_join(fives, "\n").alias("text"))
        if "c4" in JOBS:
            sec = best_of(lambda: force(
                c4_line_filter(withl, "doc_id", "text", min_words=3)))
            record("c4", sec, n_docs)
        if "repstats" in JOBS:
            sec = best_of(lambda: force(
                repetition_stats(withl, "doc_id", "text")))
            record("repstats", sec, n_docs)
    if "substr" in JOBS:
        # round-5 op: exact substring dedup (x65) — deliberately the
        # most expensive shape (per-char gram fan-out); timed on a
        # 1/5 slice so the probe stays tractable
        from pyspark.sql import functions as F

        from paperslicer_spark.operators.dedup import substring_dedup

        sl = docs.where(F.col("doc_id") % SUBSTR_MOD == 0)
        n_sl = sl.count()
        sec = best_of(lambda: force(
            substring_dedup(sl, "doc_id", "text", min_length=30)))
        record("substr", sec, n_sl)
    if "bm25" in JOBS:
        # round-5 op: BM25 retrieval (x69) — terms carry the probe
        # corpus's per-group g0/g1 suffix so queries actually match
        from pyspark.sql import functions as F

        from paperslicer_spark.operators.search import bm25_topk

        qs = [(i * 2 + g, f"sparkg{g} shuffleg{g} joing{g} aggg{g}")
              for i in range(4) for g in (0, 1)]
        queries = spark.createDataFrame(
            qs, "query_id long, query_text string")
        sec = best_of(lambda: force(bm25_topk(docs, queries, k=10)))
        record("bm25", sec, n_docs)
    if "bigram" in JOBS:
        # round-5 op: add-one bigram LM scoring (x71) — two count
        # passes + the model-apply equi-joins
        from paperslicer_spark.operators.curation import bigram_logprob

        sec = best_of(lambda: force(
            bigram_logprob(docs, "doc_id", "text")))
        record("bigram", sec, n_docs)
    if "cooc" in JOBS:
        # round-5 op: GloVe-style windowed co-occurrence (x88) —
        # zero-shuffle pair fan-out + one map-side-combined groupBy
        from paperslicer_spark.operators.curation import (
            cooccurrence_counts)

        sec = best_of(lambda: force(
            cooccurrence_counts(docs, "text", top_k=200)))
        record("cooc", sec, n_docs)
    if "contain" in JOBS:
        # round-5 op: n-gram containment pairs (x95) — q11's capped
        # no-self-join shape with the overlap-coefficient score
        sec = best_of(lambda: force(
            DD.containment_pairs(docs, "doc_id", "text", n=3,
                                 threshold=0.4, max_doc_freq=200)))
        record("contain", sec, n_docs)
    if "dhash" in JOBS:
        # round-5 op: perceptual image dHash pairs (x96) — two
        # map-only Arrow codec stages + the 16-bit band equi-join;
        # asset generation is checkpointed OUT of the timing
        from pyspark.sql import functions as F

        from paperslicer_spark.operators.dedup import hamming_pairs
        from paperslicer_spark.operators.multimodal import (
            image_dhash, perturb_assets, synth_assets)

        n_assets = int(os.environ.get("DHASH_ASSETS", "20000"))
        assets = synth_assets(spark, n_assets, seed=42) \
            .localCheckpoint(eager=True)

        def _dhash_run():
            corpus_a = assets.unionByName(perturb_assets(assets,
                                                         every=5))
            sigs = image_dhash(corpus_a).select(
                F.col("asset_id").alias("doc"),
                F.col("dhash").alias("simhash"))
            force(hamming_pairs(sigs))

        sec = best_of(_dhash_run)
        record("dhash", sec, n_assets)
    if "lsh_pairs" in JOBS:
        sec = best_of(lambda: force(
            DD.minhash_lsh_pairs(docs, "doc_id", "text")))
        record("lsh_pairs", sec, n_docs)
        out["lsh_docs_per_sec"] = out.pop("lsh_pairs_docs_per_sec")
    if "cluster" in JOBS:
        # clustering timed over materialized pairs (isolates the loop)
        pairs = DD.minhash_lsh_pairs(docs, "doc_id", "text") \
            .localCheckpoint(eager=True)
        out["n_pairs"] = pairs.count()
        sec = best_of(lambda: force(DD.connected_components(pairs)))
        record("cluster", sec, n_docs)
    print(json.dumps(out))
    spark.stop()


def orchestrate() -> None:
    results = {}
    for cores in CORES:
        pin = ["taskset", "-c", f"0-{cores - 1}"] if os.path.exists(
            "/usr/bin/taskset") else []
        out = subprocess.run(
            pin + [sys.executable, os.path.abspath(__file__),
                   "--worker", str(cores)],
            capture_output=True, text=True, check=True, cwd=REPO)
        line = [ln for ln in out.stdout.splitlines()
                if ln.startswith("{")][-1]
        results[cores] = json.loads(line)
        print(line)

    lo, hi = CORES[0], CORES[-1]
    ratio = hi / lo
    summary = {"cores": CORES, "ratio": ratio}
    for job in [j for j in ("quality", "lsh_pairs", "cluster", "c4", "repstats",
                            "pdedup", "decon", "substr", "bm25",
                            "bigram", "cooc", "contain", "dhash")
                if j in JOBS]:
        t_lo = results[lo][f"{job}_sec"]
        t_hi = results[hi][f"{job}_sec"]
        summary[f"{job}_efficiency"] = round((t_lo / t_hi) / ratio, 3)
    print(json.dumps(summary))
    # merge into the existing file so partial-job runs (CURATION_JOBS
    # subsets) extend rather than clobber earlier probes
    path = os.path.join(REPO, "BENCH", "curation_scaling.json")
    prev = {"results": {}, "summary": {}}
    if os.path.exists(path):
        with open(path) as f:
            prev = json.load(f)
    for c, r in results.items():
        prev["results"].setdefault(str(c), {}).update(r)
    prev["summary"].update(summary)
    with open(path, "w") as f:
        json.dump(prev, f, indent=2)


if __name__ == "__main__":
    if len(sys.argv) > 2 and sys.argv[1] == "--worker":
        worker(int(sys.argv[2]))
    else:
        orchestrate()
