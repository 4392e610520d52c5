"""Extraction benchmark: one workload, one driver process, ``local[nproc]``.

Usage, from the repository root::

    python3 perfbench/run.py --workload spans_map --seed 1 --seconds 20 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the ``end_to_end`` list of
``BENCHMARK.json``; with ``--trace 1`` they are its ``per_layer`` list,
from the probes in ``layers.py``.  Details of the run (input sizes,
output digest, check results, host-speed probe, pinned environment)
go to standard error and to ``.perfbench/runs/``.

A run: set up Spark (timed as ``setup_s``), build or reuse the seeded
corpus, run the output check (which is also the warm-up), then run
timed passes to the ``noop`` sink until ``--seconds`` have passed.
Everything the run writes stays under ``.perfbench/`` in the root.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
TMP = os.path.join(WORK, "tmp")

# the environment every run is pinned to (recorded in manifest.json)
PINNED = {
    "PYTHONHASHSEED": "0",
    "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
    "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
    "PYTHONPATH": ROOT,
    "TMPDIR": TMP,
    # no hsperfdata file under /tmp: the run writes only inside the root
    "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={TMP} -XX:-UsePerfData",
}

# overrides that would change the program's own session defaults
UNSET = ("SPARK_DRIVER_MEMORY", "SPARK_MASTER", "PYSPARK_SUBMIT_ARGS")


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _pin_env(argv) -> None:
    """Re-exec this process once with the pinned environment (hash
    seeding is fixed at interpreter start, so it cannot be set later)."""
    if all(os.environ.get(k) == v for k, v in PINNED.items()) and not any(
            k in os.environ for k in UNSET):
        return
    env = {k: v for k, v in os.environ.items() if k not in UNSET}
    env.update(PINNED)
    os.execve(sys.executable, [sys.executable, os.path.abspath(__file__),
                               *argv], env)


def host_calib_s() -> float:
    """Fixed single-thread pure-Python loop: host speed, information only."""
    t0 = time.perf_counter()
    s = 0
    for i in range(3_000_000):
        s += i * i % 7
    return time.perf_counter() - t0


def _identity(batches):
    yield from batches


def _input_size(path: str) -> dict:
    import pyarrow.parquet as pq

    files = [os.path.join(path, f) for f in sorted(os.listdir(path))
             if f.endswith(".parquet")]
    return {"turns": sum(pq.ParquetFile(f).metadata.num_rows for f in files),
            "bytes": sum(os.path.getsize(f) for f in files),
            "files": len(files)}


def _stop(spark, own_pid: int) -> None:
    """Stop Spark, end the JVM and its Python workers, and wait for
    every process this run started."""
    from pyspark import SparkContext

    from perfbench import procfs

    started = [p for p in procfs.tree(own_pid) if p != own_pid]
    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline:
            alive = [p for p in started if os.path.exists(f"/proc/{p}")]
            if not alive:
                break
            time.sleep(0.1)
        for p in started:
            if os.path.exists(f"/proc/{p}"):
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass


def _versions() -> dict:
    import platform

    import pyarrow
    import pyspark

    return {"python": platform.python_version(), "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__}


def run(args) -> dict:
    from perfbench import procfs

    pid = os.getpid()
    sampler = procfs.RssSampler(pid)
    sampler.start()

    from perfbench.tracer import Tracer

    tracer = Tracer()
    info: dict = {"workload": args.workload, "seed": args.seed,
                  "trace": args.trace, "env": PINNED, "versions": _versions()}
    spark = None
    try:
        with tracer.span("session"):
            with tracer.span("session.get_spark"):
                from paperslicer_spark.session import get_spark
                spark = get_spark(app_name=f"perfbench-{args.workload}")
            sc = spark.sparkContext
            sc.setLogLevel("ERROR")
            with tracer.span("session.first_job"):
                sc.setJobGroup("session.first_job", "first Python job")
                slots = sc.defaultParallelism
                (spark.range(0, slots, 1, slots)
                 .mapInArrow(_identity, "id long")
                 .write.format("noop").mode("overwrite").save())
                sc.setLocalProperty("spark.jobGroup.id", None)
        setup_s = procfs.start_age_s()
        return _measure(args, spark, tracer, sampler, setup_s, info)
    finally:
        if spark is not None:
            _stop(spark, pid)
        sampler.stop()
        os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
        stem = f"{args.workload}-s{args.seed}-t{args.trace}"
        with open(os.path.join(WORK, "runs", stem + ".json"), "w") as f:
            json.dump(info, f, indent=1, default=str)
        print("perfbench: " + json.dumps(info, default=str), file=sys.stderr)
        if args.trace:
            tracer.write(os.path.join(WORK, "runs", stem + ".trace.json"))


def _measure(args, spark, tracer, sampler, setup_s, info) -> dict:
    from perfbench import corpus, procfs
    from perfbench.workloads import (
        MIN_PASSES, WARMUP_PASSES, WORKLOADS, Check, noop)

    wl = WORKLOADS[args.workload]
    pid = os.getpid()
    cache = os.path.join(WORK, "cache")
    info["host.calib_s.before"] = host_calib_s()

    with tracer.span("corpus"):
        t0 = time.perf_counter()
        path = corpus.build(spark, cache, wl.kind, wl.n_docs, args.seed,
                            wl.files)
        info["corpus_s"] = time.perf_counter() - t0
    turns = spark.read.parquet(path)
    size = _input_size(path)
    inj = corpus.injected(wl.kind, wl.n_docs, args.seed)
    info["input"] = dict(
        size, conversations=wl.n_docs,
        skewed=(len(range(0, wl.n_docs, corpus.SKEW_EVERY))
                if wl.kind == "skew" else 0),
        injected_truncated=len(inj["truncated"]),
        injected_null_or_empty=len(inj["null_or_empty"]))

    with tracer.span("check"):
        try:
            check = wl.check(turns, wl.n_docs, args.seed)
        except Exception:  # noqa: BLE001 — a check that raises has failed
            traceback.print_exc()
            check = Check(items=1, failed=1)
    info["digest"] = check.digest
    info["check"] = dict(check.notes, items=check.items, failed=check.failed)

    passes = []
    if not args.trace:
        deadline = time.perf_counter() + args.seconds
        while True:
            c0 = procfs.cpu_s(pid)
            t0 = time.perf_counter()
            try:
                noop(wl.pipeline(turns))
                ok = True
            except Exception:  # noqa: BLE001 — a failed pass is counted
                traceback.print_exc()
                ok = False
            t1 = time.perf_counter()
            passes.append({"wall_s": t1 - t0, "cpu_s": procfs.cpu_s(pid) - c0,
                           "ok": ok})
            if t1 >= deadline and len(passes) >= WARMUP_PASSES + MIN_PASSES:
                break
    info["passes"] = passes
    info["host.calib_s.after"] = host_calib_s()

    attempted = len(passes) + check.items
    failed = sum(not p["ok"] for p in passes) + check.failed
    if check.failed:
        # a failed output check fails every pass of the same plan
        failed += sum(p["ok"] for p in passes)

    if args.trace:
        from perfbench import layers
        from perfbench.rest import Rest

        rest = Rest(spark.sparkContext)
        slice_path = corpus.build(spark, cache, wl.kind,
                                  min(wl.n_docs, layers.SLICE_DOCS),
                                  args.seed, 1)
        probe = layers.Probe(spark, rest, tracer, WORK, wl, turns,
                             spark.read.parquet(slice_path), args.seed)
        with tracer.span("layers"):
            metrics = layers.run(probe)
        # every job group's counters, split as in rest.py's five layers
        info["counters"] = dict(
            probe.counters, **{"session.first_job": rest.counters(
                "session.first_job")})
        metrics.update({
            "session.get_spark_s": tracer.duration("session.get_spark"),
            "session.first_job_s": tracer.duration("session.first_job"),
            "session.python_worker_init_s":
                info["counters"]["session.first_job"]["python.init_s"],
            "host.calib_s": statistics.mean(
                [info["host.calib_s.before"], info["host.calib_s.after"]]),
        })
        attempted += probe.items
        failed += probe.failed
        info["self_s"] = tracer.self_times()
    else:
        good = [p for p in passes[WARMUP_PASSES:] if p["ok"]] or passes
        rows = size["turns"]
        metrics = {
            "rows_per_s": statistics.median(rows / p["wall_s"] for p in good),
            "cpu_s_per_krow": sum(p["cpu_s"] for p in good)
                / (len(good) * rows / 1000),
            "peak_rss_mb": sampler.peak_mb,
            "setup_s": setup_s,
        }
    info["failed_share"] = failed / attempted
    info["setup_s"] = setup_s
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "paperslicer_spark",
                                       "session.py")):
        print(f"perfbench: no program sources under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    for d in (WORK, TMP, PINNED["SPARK_LOCAL_DIRS"]):
        os.makedirs(d, exist_ok=True)
    _pin_env(argv)
    sys.path[0] = ROOT  # not perfbench/: its module names are not unique

    result = run(args)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in result["metrics"]]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 1
    result["metrics"] = {m["name"]: {"value": float(result["metrics"][m["name"]]),
                                     "unit": m["unit"]} for m in wanted}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
