"""Every public top-level def or class in ``paperslicer_spark/`` must be
named somewhere in non-test code, or sit in ``KEEP`` with its reason;
and no non-test module imports a name it never uses.

Spark-free: an AST scan, no import of the package. "Named" means a
``Name``, an ``Attribute`` or an imported alias — docstrings and
comments do not count. Code that only tests reach is deleted, not
kept for coverage; the entries marked "deletion deferred" are the
last of that code, queued on ROADMAP.md for the next deletion batch.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "paperslicer_spark"
NON_TEST = [PACKAGE, ROOT / "__spark_entry__.py", ROOT / "scripts",
            ROOT / "bench.py", ROOT / "perfbench"]

# qualified name -> why it stays without a non-test caller
KEEP = {
    # PaperSlicer features from the SURVEY §0 map
    "paperslicer_spark.operators.media.filter_media":
        "the reference's missing media/filters.py (W5 crop-vs-image)",
    "paperslicer_spark.operators.media.cap_per_document":
        "the reference's missing media/filters.py (W4 first-N cap)",
    "paperslicer_spark.operators.media.write_media_csv":
        "export_media.py CSV summary sink (K5)",
    "paperslicer_spark.operators.multimodal.validate_table_regions":
        "TableRegionValidator (SURVEY §2.11)",
    "paperslicer_spark.operators.resolver.ensure_abstract":
        "metadata/resolver.py abstract backfill (J3)",
    "paperslicer_spark.operators.sinks.write_records_json":
        "project.py per-document JSON sink (K1)",
    "paperslicer_spark.operators.sinks.write_records_jsonl_dedup":
        "project.py JSONL first-wins sink (K2)",
    "paperslicer_spark.operators.sinks.write_small_export":
        "project.py single aggregate JSON sink (K3)",
    "paperslicer_spark.operators.sinks.write_mapping_suggestions":
        "evaluate_corpus.py mapping-suggestion report (K6)",
    "paperslicer_spark.streaming.stateful_assemble.assemble_stream":
        "streaming document assembly over the extraction core",
    "paperslicer_spark.streaming.stream_extract.stream_turns":
        "the file-stream reader assemble_stream consumes",
    "paperslicer_spark.streaming.stateful_assemble.dedup_after":
        "the downstream remedy for assemble_stream's late re-emits",
    # helpers a fixture or invariant check needs
    "paperslicer_spark.fixtures.read_all":
        "read by the fixture-freeze test",
    "paperslicer_spark.sources.transcripts.write_local_corpus":
        "writes the pytest transcript corpus (tests/conftest.py)",
    "paperslicer_spark.operators.extract.check_conv_alignment":
        "the records == conversations layout check plans/checkpoint.py "
        "documents",
    "paperslicer_spark.operators.similarity.ivf_topk":
        "the live IVF trainer whose frozen centroids x15 replays",
    # the other half of a reached operator
    "paperslicer_spark.operators.dedup.exact_dedup":
        "keep-one form of exact_dup_groups (q06; SURVEY A7)",
    "paperslicer_spark.operators.sketch.hll_merge":
        "shard merge of hll_sketch, the property the sketch exists for",
    # deletion deferred: reached only by tests, removed in the next batch
    "paperslicer_spark.operators.curation.boilerplate_strip":
        "deletion deferred (test_boilerplate_kappa, test_r6_oracle_drafts)",
    "paperslicer_spark.operators.curation.mixture_waterfill":
        "deletion deferred (test_mixture, test_r6_oracle_drafts)",
    "paperslicer_spark.operators.curation.apply_mixture":
        "deletion deferred (test_mixture, test_r6_oracle_drafts)",
    "paperslicer_spark.operators.metrics.cohen_kappa":
        "deletion deferred (test_boilerplate_kappa, test_r6_oracle_drafts)",
    "paperslicer_spark.functions.sections.canonical_section_col":
        "deletion deferred (test_sections_mapping::test_spark_column_variant;"
        " its one non-test name was an unused import)",
}


def _py_files(path: Path):
    return [path] if path.is_file() else sorted(path.rglob("*.py"))


def _names_used(tree: ast.AST) -> set:
    used = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            used.add(node.id)
        elif isinstance(node, ast.Attribute):
            used.add(node.attr)
        elif isinstance(node, ast.alias):
            used.add(node.name.rsplit(".", 1)[-1])
    return used


def _public_defs():
    for path in _py_files(PACKAGE):
        module = ".".join(path.relative_to(ROOT).with_suffix("").parts)
        for node in ast.parse(path.read_text()).body:
            if (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.ClassDef))
                    and not node.name.startswith("_")):
                yield f"{module}.{node.name}", node.name


def test_every_public_def_is_reached_or_kept():
    used = set()
    for root in NON_TEST:
        for path in _py_files(root):
            used |= _names_used(ast.parse(path.read_text()))
    defs = dict(_public_defs())
    unreached = sorted(q for q, name in defs.items()
                       if name not in used and q not in KEEP)
    assert not unreached, (
        "public defs with no non-test caller — delete them, or add them "
        f"to KEEP with a reason: {unreached}")
    stale = sorted(q for q in KEEP if q not in defs or defs[q] in used)
    assert not stale, f"KEEP entries that are gone or now reached: {stale}"


# perfbench/ is the benchmark's own code and changes only with it
IMPORT_ROOTS = [r for r in NON_TEST if r.name != "perfbench"]


def _annotation_names(tree: ast.AST) -> set:
    """Names inside string annotations such as ``"pa.RecordBatch"``."""
    notes = []
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            args = node.args
            notes += [a.annotation for a in (
                args.posonlyargs + args.args + args.kwonlyargs
                + [args.vararg, args.kwarg]) if a is not None]
            notes.append(node.returns)
        elif isinstance(node, ast.AnnAssign):
            notes.append(node.annotation)
    names = set()
    for note in filter(None, notes):
        for c in ast.walk(note):
            if isinstance(c, ast.Constant) and isinstance(c.value, str):
                names |= {n.id for n in ast.walk(ast.parse(c.value, mode="eval"))
                          if isinstance(n, ast.Name)}
    return names


def _unused_imports(tree: ast.AST) -> list:
    bound = {}
    for node in ast.walk(tree):
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            if getattr(node, "module", None) == "__future__":
                continue
            for alias in node.names:
                bound[alias.asname or alias.name.split(".")[0]] = node.lineno
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    used |= _annotation_names(tree)
    return sorted((line, name) for name, line in bound.items()
                  if name not in used)


def test_no_unused_imports():
    unused = [f"{path.relative_to(ROOT)}:{line} {name}"
              for root in IMPORT_ROOTS for path in _py_files(root)
              for line, name in _unused_imports(ast.parse(path.read_text()))]
    assert not unused, f"imported but never used: {unused}"
