"""The traced run: one probe per layer, timed from outside.

Every probe calls the layer's public functions and runs its Spark jobs
in a job group of its own; the group's counters come from ``rest.py``.
Each call is a span of the run's ``Tracer``.

Every traced run probes every layer.  The layer whose job the workload
pass is (``Workload.pass_layer``) is probed on the whole corpus, the
others on its first ``SLICE_DOCS`` conversations (the same rows:
generation is per document index).

The workload pass runs twice, untraced and then traced.  The traced
pass's wall time is split into the self times of the layers it crosses:
``sources.scan_s``, ``arrow.identity_s``, the Python body (the pass's
``time to run Python workers`` beyond the identity probe's, per slot)
and, when the pass shuffles, ``operators.extract.repartition_s``.  The
rest is ``trace.unaccounted_s``.
"""

from __future__ import annotations

import html
import os
import random
import re
import shutil
import statistics
import time
from typing import Dict, List

from pyspark.sql import DataFrame, functions as F

from paperslicer_spark.extraction.merge import merge_table_entries
from paperslicer_spark.extraction.review import apply_review, should_apply
from paperslicer_spark.extraction.tei import parse_tei
from paperslicer_spark.functions.sections import canonical_section_name
from paperslicer_spark.operators.assemble import assemble_documents
from paperslicer_spark.operators.extract import (
    _fused_partitions, parse_turns_fused, sections_long)
from paperslicer_spark.operators.spans import (
    clean_turns, extract_turn_spans, turn_units)
from paperslicer_spark.plans.checkpoint import run_with_resume
from paperslicer_spark.sources.transcripts import assemble_payload

from perfbench.workloads import WARMUP_PASSES, noop

SLICE_DOCS = 1000
SAMPLE_CONVS = 100
CHECKPOINT_BUCKETS = 2
SKEW_TURNS = 64          # bench.py's assemble_documents skew threshold
MB = 2**20

_DIV_HEAD = re.compile(r"<div><head>([^<]*)</head>")


def identity(batches):
    yield from batches


def _cache_stats(batches):
    """One row per task: this worker's pid and its canonicalizer cache."""
    import os as _os

    import pyarrow as pa

    from paperslicer_spark.functions.sections import canonical_section_name

    for _ in batches:
        i = canonical_section_name.cache_info()
        yield pa.RecordBatch.from_pydict(
            {"pid": [_os.getpid()], "hits": [i.hits], "misses": [i.misses]})


class Probe:
    def __init__(self, spark, rest, tracer, work_dir: str, wl, turns,
                 slice_turns, seed: int):
        self.spark, self.sc = spark, spark.sparkContext
        self.rest, self.tr, self.work = rest, tracer, work_dir
        self.wl, self.seed = wl, seed
        self.turns, self.slice = turns, slice_turns
        self.slots = self.sc.defaultParallelism
        self.m: Dict[str, float] = {}
        self.counters: Dict[str, Dict[str, float]] = {}  # per job group
        self.items = self.failed = 0

    def job(self, name: str, action):
        """Run ``action`` under job group ``name``: (wall s, counters).
        The counters are also kept in ``self.counters`` for the run log."""
        with self.tr.span(name):
            self.sc.setJobGroup(name, name)
            try:
                t0 = time.perf_counter()
                self.result = action()
                wall = time.perf_counter() - t0
            finally:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
        self.counters[name] = self.rest.counters(name)
        return wall, self.counters[name]

    def input(self, layer: str):
        """(frame, conversations) a layer is probed on."""
        if layer == self.wl.pass_layer:
            return self.turns, self.wl.n_docs
        return self.slice, min(self.wl.n_docs, SLICE_DOCS)

    def verify(self, ok: bool) -> None:
        self.items += 1
        self.failed += not ok

    # -- every run -----------------------------------------------------------
    def passes(self) -> None:
        """Warm-up, untraced and traced pass of the workload, and the counters
        only the passes have: Arrow bytes, JVM GC time over both passes,
        worker cache hit ratio."""
        m, pipeline = self.m, self.wl.pipeline
        with self.tr.span("pass.warmup"):  # as in the untraced run
            for _ in range(WARMUP_PASSES):
                noop(pipeline(self.turns))
        gc0 = self.jvm_gc_s()
        with self.tr.span("pass.untraced"):
            t0 = time.perf_counter()
            noop(pipeline(self.turns))
            self.untraced = time.perf_counter() - t0
        self.traced, self.pc = self.job(
            "pass.traced", lambda: noop(pipeline(self.turns)))
        m["jvm.gc_s"] = self.jvm_gc_s() - gc0
        # read from the pass's own Python workers by tiny SQL tasks (an
        # RDD job would get workers of its own), one row per task
        n = self.slots * 2
        rows = (self.spark.range(0, n, 1, n)
                .mapInArrow(_cache_stats, "pid long, hits long, misses long")
                .collect())
        per_worker = {r.pid: (r.hits, r.misses) for r in rows}
        hits = sum(h for h, _ in per_worker.values())
        misses = sum(x for _, x in per_worker.values())
        m["functions.sections.cache_hit_ratio"] = hits / max(hits + misses, 1)
        m["arrow.mb_to_python"] = self.pc["arrow.sent_bytes"] / MB
        m["arrow.mb_from_python"] = self.pc["arrow.returned_bytes"] / MB

    def jvm_gc_s(self) -> float:
        """Collection time of every JVM garbage collector so far: the
        stages' jvmGcTime only counts collections inside tasks."""
        beans = (self.sc._jvm.java.lang.management.ManagementFactory
                 .getGarbageCollectorMXBeans())
        return sum(b.getCollectionTime() for b in beans) / 1e3

    def sources_and_arrow(self) -> None:
        m = self.m
        proj = self.turns.select("conv_id", "turn_idx", "text")
        self.scan_s, c = self.job("sources.scan", lambda: noop(proj))
        m["sources.scan_s"] = self.scan_s
        m["sources.input_mb"] = c["scan.bytes"] / MB
        m["sources.input_partitions"] = proj.rdd.getNumPartitions()
        ident_s, self.ident = self.job("arrow.identity", lambda: noop(
            proj.mapInArrow(identity, proj.schema)))
        m["arrow.identity_s"] = ident_s - self.scan_s

    def direct_sample(self) -> List:
        """Turns of a seeded sample of the slice's conversations."""
        n = min(self.wl.n_docs, SLICE_DOCS)
        pick = random.Random(f"layers:{self.seed}").sample(
            range(n), min(SAMPLE_CONVS, n))
        ids = [f"conv{i:08d}" for i in pick]
        return (self.slice.where(F.col("conv_id").isin(ids))
                .select("conv_id", "turn_idx", "text").collect())

    def trace_summary(self) -> None:
        m, python_s = self.m, (self.pc["python.run_s"]
                               - self.ident["python.run_s"]) / self.slots
        layers_s = self.scan_s + m["arrow.identity_s"] + python_s
        if self.wl.pass_layer == "operators.extract":  # the pass shuffles
            layers_s += m["operators.extract.repartition_s"]
        m["trace.overhead_s"] = self.traced - self.untraced
        m["trace.unaccounted_s"] = self.traced - layers_s
        m["trace.unaccounted_share"] = (self.traced - layers_s) / self.traced

    # -- per layer -------------------------------------------------------------
    def operators_spans(self, sample) -> None:
        m = self.m
        src, _ = self.input("operators.spans")
        if self.wl.pass_layer == "operators.spans":
            counters = self.pc  # the traced pass is this layer's job
        else:
            _, counters = self.job("operators.spans.job",
                                   lambda: noop(extract_turn_spans(src)))
        m["operators.spans.python_run_s"] = counters["python.run_s"]
        self.job("operators.spans.clean", lambda: clean_turns(src).agg(
            F.count("*"), F.sum("n_units"),
            F.sum((~F.col("parse_ok")).cast("int"))).first())
        n_turns, n_units, n_bad = self.result
        m["operators.spans.units_per_turn"] = n_units / max(n_turns, 1)
        m["operators.spans.unparseable_share"] = n_bad / max(n_turns, 1)
        texts = [r.text for r in sample if r.text is not None]
        with self.tr.span("operators.spans.turn_units"):
            reps = []
            for _ in range(3):
                t0 = time.perf_counter()
                for t in texts:
                    turn_units(t)
                reps.append(time.perf_counter() - t0)
        m["operators.spans.turn_units_us"] = (
            statistics.median(reps) / max(len(texts), 1) * 1e6)

    def functions_sections(self, sample) -> None:
        heads = [html.unescape(h) for r in sample if r.text
                 for h in _DIV_HEAD.findall(r.text)]
        with self.tr.span("functions.sections.canonical"):
            canonical_section_name.cache_clear()
            t0 = time.perf_counter()
            for h in heads:
                canonical_section_name(h)
            dt = time.perf_counter() - t0
        self.m["functions.sections.canonical_us"] = dt / max(len(heads), 1) * 1e6

    def extraction(self, sample) -> None:
        m = self.m
        convs: Dict[str, list] = {}
        for r in sorted(sample, key=lambda r: (r.conv_id, r.turn_idx)):
            if r.text:  # null/empty fragments are skipped by the program too
                convs.setdefault(r.conv_id, []).append(r.text)
        payloads = [assemble_payload(f) for f in convs.values()]
        tei = merge = review = 0.0
        errors = applied = 0
        with self.tr.span("extraction.direct"):
            for p in payloads:
                t0 = time.perf_counter()
                try:
                    rec = parse_tei(p, source_path="probe")
                except Exception:  # noqa: BLE001 — counted as the error share
                    errors += 1
                    tei += time.perf_counter() - t0
                    continue
                t1 = time.perf_counter()
                merge_table_entries(rec)
                t2 = time.perf_counter()
                if should_apply(rec):
                    apply_review(rec)
                    applied += 1
                t3 = time.perf_counter()
                tei += t1 - t0
                merge += t2 - t1
                review += t3 - t2
        n, ok = max(len(payloads), 1), max(len(payloads) - errors, 1)
        m["extraction.tei.parse_tei_ms"] = tei / n * 1e3
        m["extraction.tei.error_share"] = errors / n
        m["extraction.merge.merge_ms"] = merge / ok * 1e3
        m["extraction.review.review_ms"] = review / ok * 1e3
        m["extraction.review.applied_share"] = applied / ok

    def operators_extract(self) -> None:
        m = self.m
        src, n_conv = self.input("operators.extract")
        t = src.select("conv_id", "turn_idx", "text")
        is_pass = self.wl.pass_layer == "operators.extract"
        if is_pass:
            scan_s = self.scan_s
        else:
            scan_s, _ = self.job("operators.extract.scan", lambda: noop(t))
        shuf_s, _ = self.job("operators.extract.repartition", lambda: noop(
            t.repartition(_fused_partitions(t, None), "conv_id")
            .sortWithinPartitions("conv_id", "turn_idx", "text")))
        m["operators.extract.repartition_s"] = shuf_s - scan_s
        if is_pass:
            c = self.pc  # the traced pass is this layer's job
        else:
            _, c = self.job("operators.extract.fused", lambda: noop(
                sections_long(parse_turns_fused(src))))
        m["operators.extract.shuffle_write_mb"] = c["shuffle.write_bytes"] / MB
        m["operators.extract.python_run_s"] = c["python.run_s"]
        m["operators.extract.task_skew"] = c["task_skew"]
        m["operators.extract.records_per_conv"] = c["python.rows_out"] / n_conv

    def operators_assemble(self) -> None:
        m = self.m
        src, _ = self.input("operators.assemble")
        asm_s, c = self.job("operators.assemble.shuffle", lambda: noop(
            assemble_documents(src, skew_threshold=SKEW_TURNS)))
        m["operators.assemble.shuffle_s"] = asm_s
        m["operators.assemble.shuffle_write_mb"] = c["shuffle.write_bytes"] / MB
        m["operators.assemble.skewed_convs"] = (
            src.groupBy("conv_id").count()
            .where(F.col("count") > SKEW_TURNS).count())

    def plans_checkpoint(self) -> None:
        """``run_with_resume`` with ``run_extract.py``'s fused sections
        transform into a fresh directory, then a second call that must
        skip every bucket."""
        m, spark = self.m, self.spark
        src, _ = self.input("plans.checkpoint")
        out = os.path.join(self.work, "checkpoint")
        shutil.rmtree(out, ignore_errors=True)

        def transform(part):
            return sections_long(parse_turns_fused(part, review_mode=None))

        def resume():
            return run_with_resume(spark, src, out, transform,
                                   n_buckets=CHECKPOINT_BUCKETS)

        first_s, c = self.job("plans.checkpoint.run", resume)
        first = self.result
        skip_s, _ = self.job("plans.checkpoint.resume", resume)
        second = self.result
        manifest = spark.read.parquet(os.path.join(out, "_manifest")).count()
        in_bytes = sum(os.path.getsize(f.removeprefix("file:"))
                       for f in src.inputFiles())
        self.verify(len(first["ran"]) == CHECKPOINT_BUCKETS
                    and second["ran"] == []
                    and len(second["skipped"]) == CHECKPOINT_BUCKETS
                    and manifest == CHECKPOINT_BUCKETS)
        m["plans.checkpoint.bucket_s"] = first_s / CHECKPOINT_BUCKETS
        m["plans.checkpoint.jobs"] = c["jobs"]
        m["plans.checkpoint.scan_amplification"] = c["scan.bytes"] / in_bytes
        m["plans.checkpoint.write_mb"] = c["stages.output_bytes"] / MB
        m["plans.checkpoint.resume_skip_s"] = skip_s
        shutil.rmtree(out, ignore_errors=True)


def run(probe: Probe) -> Dict[str, float]:
    """Probe every layer; return the metrics."""
    tr = probe.tr
    with tr.span("layer.pass"):
        probe.passes()
    with tr.span("layer.sources+arrow"):
        probe.sources_and_arrow()
    sample = probe.direct_sample()
    steps = [("operators.spans", lambda: probe.operators_spans(sample)),
             ("functions.sections", lambda: probe.functions_sections(sample)),
             ("extraction", lambda: probe.extraction(sample)),
             ("operators.extract", probe.operators_extract),
             ("operators.assemble", probe.operators_assemble),
             ("plans.checkpoint", probe.plans_checkpoint)]
    for layer, step in steps:
        with tr.span(f"layer.{layer}"):
            step()
    probe.trace_summary()
    return probe.m

