"""Multi-node-credibility probe (round-4 VERDICT item #7): run ONE
shuffle-bearing curation op — corpus-wide paragraph dedup — on a real
2-worker `local-cluster[2,8,…]` (two separate executor JVMs, real
serialization + netty shuffle between them) vs a single `local[16]`
JVM with the same 16 cores, and SPLIT the time into

- map phase: paragraph synthesis + hash (the op with its exchange cut
  off — a noop-sink scan), and
- shuffle phase: full paragraph_dedup minus the map phase,

so the "shuffles are the only cross-node term" claim in
BENCH/BASELINE.md is measured, not argued. Writes
BENCH/cluster_split.json.

Usage: python scripts/bench_cluster_split.py
Env: CLUSTER_REPLICAS=40  CLUSTER_REPEATS=2
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

REPLICAS = int(os.environ.get("CLUSTER_REPLICAS", "40"))
REPEATS = int(os.environ.get("CLUSTER_REPEATS", "2"))

MODES = {
    # same 16 cores / 8g total either way; the cluster mode pays real
    # executor-JVM boundaries (serialized shuffle blocks over netty)
    "local16": ("local[16]", {"spark.driver.memory": "8g"}),
    "cluster2x8": ("local-cluster[2,8,3584]", {
        "spark.driver.memory": "1g",
        "spark.executor.memory": "3584m",
        "spark.executorEnv.PYTHONPATH": REPO,
    }),
}


def worker(mode: str) -> None:
    master, conf = MODES[mode]

    from pyspark.sql import functions as F

    from paperslicer_spark.functions.text_stats import bind
    from paperslicer_spark.operators.curation import paragraph_dedup
    from paperslicer_spark.session import get_spark

    sys.path.insert(0, os.path.join(REPO, "scripts"))
    import bench_curation_scaling as bcs
    bcs.REPLICAS = REPLICAS
    spark = get_spark(app_name=f"cluster-split-{mode}", master=master,
                      shuffle_partitions=32, extra_confs=conf)
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(bcs.corpus(spark))
    n_docs = docs.count()

    paras = bind(
        F.split(F.trim(F.col("text")), r"\s+"),
        lambda t: F.transform(
            F.sequence(F.lit(0), F.size(t) - 1, F.lit(8)),
            lambda s: F.array_join(F.slice(t, s + 1, 8), " ")))
    withp = docs.select("doc_id", F.array_join(paras, "\n\n").alias("text"))

    def force(df):
        df.write.format("noop").mode("overwrite").save()

    def best_of(fn):
        best = None
        for _ in range(REPEATS):
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        return best

    # warm-up both paths on a sample
    force(withp.sample(0.05, seed=7).select(
        "doc_id", F.md5("text").alias("h")))
    force(paragraph_dedup(withp.sample(0.05, seed=7), "doc_id", "text"))

    # map phase: the same per-row work paragraph_dedup's scan does
    # (split to paragraphs + md5 each) with NO exchange after it
    map_probe = withp.select(
        "doc_id",
        F.aggregate(
            F.transform(F.split("text", r"\n\n"), F.md5),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc
            + F.conv(F.substring(x, 1, 15), 16, 10).cast("bigint")
            % F.lit(1_000_000_007),
        ).alias("fp"))
    t_map = best_of(lambda: force(map_probe))
    t_full = best_of(lambda: force(paragraph_dedup(withp, "doc_id", "text")))
    print(json.dumps({
        "mode": mode, "n_docs": n_docs,
        "map_sec": round(t_map, 3),
        "full_sec": round(t_full, 3),
        "shuffle_sec": round(max(t_full - t_map, 0.0), 3),
    }))
    spark.stop()


def orchestrate() -> None:
    results = {}
    for mode in MODES:
        pin = ["taskset", "-c", "0-15"] if os.path.exists(
            "/usr/bin/taskset") else []
        out = subprocess.run(
            pin + [sys.executable, os.path.abspath(__file__),
                   "--worker", mode],
            capture_output=True, text=True, cwd=REPO)
        lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
        if out.returncode != 0 or not lines:
            print(f"{mode} FAILED:\n{out.stderr[-3000:]}", file=sys.stderr)
            continue
        results[mode] = json.loads(lines[-1])
        print(lines[-1])
    if len(results) == 2:
        a, b = results["local16"], results["cluster2x8"]
        summary = {
            "map_ratio_cluster_over_local":
                round(b["map_sec"] / a["map_sec"], 3),
            "shuffle_ratio_cluster_over_local":
                round(b["shuffle_sec"] / max(a["shuffle_sec"], 1e-9), 3),
            "full_ratio_cluster_over_local":
                round(b["full_sec"] / a["full_sec"], 3),
        }
        print(json.dumps(summary))
        with open(os.path.join(REPO, "BENCH", "cluster_split.json"),
                  "w") as f:
            json.dump({"results": results, "summary": summary}, f, indent=2)


if __name__ == "__main__":
    if len(sys.argv) > 2 and sys.argv[1] == "--worker":
        worker(sys.argv[2])
    else:
        orchestrate()
