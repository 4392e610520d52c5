"""Canonical section-heading mapping.

Behavioural parity target: ``paperslicer/utils/sections_mapping.py``
(reference: ``_sanitize_heading`` :52-59, ``canonical_section_name``
:306-345, ``EXACT_MAP`` :62-303, ``NON_CONTENT_KEYS`` :26-48).
The mapping *table* is public config checked in as
``mapping_data.json``; the logic below is a fresh implementation.

Two execution paths are provided:

- :func:`canonical_section_name` — plain Python, used inside the
  Arrow-batched parse UDF (the hot path already pays one Python
  transition; a dict lookup per heading is cheap and keeps exact
  Python ``str.lower``/regex semantics).
- :func:`canonical_section_col` — a pure Spark Column expression
  (regexp chain + broadcast-sized literal map + rule cascade) for
  workloads where headings are already a column and we want to stay
  inside whole-stage codegen.
"""

from __future__ import annotations

import json
import re
from functools import lru_cache
from importlib import resources
from typing import Dict, List


@lru_cache(maxsize=1)
def _data() -> dict:
    raw = (
        resources.files("paperslicer_spark.functions")
        .joinpath("mapping_data.json")
        .read_text(encoding="utf-8")
    )
    return json.loads(raw)


def exact_map() -> Dict[str, str]:
    return _data()["exact_map"]


def non_content_keys() -> frozenset:
    return frozenset(_data()["non_content_keys"])


def canonical_keys() -> frozenset:
    return frozenset(_data()["canonical_keys"])


def methods_keywords() -> List[str]:
    return _data()["methods_keywords"]


def intro_keywords() -> List[str]:
    return _data()["intro_keywords"]


# --- leading bullets / pipes / dashes, then roman or decimal numbering
_LEAD_PUNCT = re.compile(r"^[|>•\-–—\s]+")
_LEAD_NUMBERING = re.compile(r"^(?:[ivxlcdm]+\.|\d+(?:\.\d+)*\.?)[\s\-:]*", re.I)
_MULTISPACE = re.compile(r"\s+")


def sanitize_heading(name: str) -> str:
    """Lowercase, strip list markers and numbering, collapse spaces."""
    s = (name or "").strip().lower()
    s = _LEAD_PUNCT.sub("", s)
    s = _LEAD_NUMBERING.sub("", s)
    s = _MULTISPACE.sub(" ", s)
    return s.strip()


@lru_cache(maxsize=65536)
def canonical_section_name(name: str) -> str:
    """Map a raw heading to its canonical IMRaD key.

    Order of rules matters and mirrors the reference exactly:
    exact table hit, results+discussion composite, methods keywords,
    intro keywords, conclusions, results, discussion, fallback
    snake_case of the sanitized heading.

    Memoized: headings draw from a small vocabulary, and the per-call
    cost (3 regex passes + keyword scans) was ~24% of the span-path
    parse profile. Pure string→string, so the bounded cache is safe
    in reused executor workers.
    """
    n = sanitize_heading(name)
    if not n:
        return ""
    hit = exact_map().get(n)
    if hit is not None:
        return hit
    if "results" in n and "discussion" in n:
        return "results_and_discussion"
    if any(k in n for k in methods_keywords()):
        return "materials_and_methods"
    if any(k in n for k in intro_keywords()):
        return "introduction"
    if "conclusion" in n or "clinical significance" in n:
        return "conclusions"
    if "result" in n:
        return "results"
    if "discussion" in n or "limitation" in n:
        return "discussion"
    return n.replace(" ", "_")


# ---------------------------------------------------------------------------
# Spark Column variant (JVM-side; used by queries that already have a
# heading column and want to avoid any Python transition).
# ---------------------------------------------------------------------------

def sanitize_heading_col(col):
    """Spark Column version of :func:`sanitize_heading`.

    NOTE: Java regex ``\\s`` differs from Python ``str.split`` on exotic
    Unicode whitespace; headings in this domain are ASCII-ish, and the
    parity suite covers the difference. The UDF path is authoritative
    for exact-equality workloads.
    """
    from pyspark.sql import functions as F

    s = F.lower(F.trim(col))
    s = F.regexp_replace(s, r"^[|>•\-–—\s]+", "")
    s = F.regexp_replace(s, r"(?i)^(?:[ivxlcdm]+\.|\d+(?:\.\d+)*\.?)[\s\-:]*", "")
    s = F.regexp_replace(s, r"\s+", " ")
    return F.trim(s)


def canonical_headings(spark, df, head_col: str = "head"):
    """Broadcast-join variant of :func:`canonical_section_col`.

    The ~220-entry exact table becomes a broadcast dimension DataFrame
    (reference J1, SURVEY.md §2.3) instead of a 448-literal
    ``create_map`` — the literal map is semantically identical but its
    giant expression tree costs seconds of Catalyst/codegen time per
    query, while a broadcast hash join plans in milliseconds and is the
    shape that scales to bigger mapping tables.

    Returns ``df`` with an added ``key`` column.
    """
    import pandas as pd
    from pyspark.sql import functions as F

    # pandas → Arrow-backed LocalRelation: a plain Python list would
    # become an ExistingRDD scan that needs Python workers at exec time
    mapping = spark.createDataFrame(
        pd.DataFrame(list(exact_map().items()),
                     columns=["n_exact", "exact_key"]))
    n = sanitize_heading_col(F.col(head_col))
    out = df.withColumn("_n", n).join(
        F.broadcast(mapping), F.col("_n") == F.col("n_exact"), "left")
    nn = F.col("_n")

    def _contains_any(words):
        cond = F.lit(False)
        for w in words:
            cond = cond | F.contains(nn, F.lit(w))
        return cond

    cascade = (
        F.when(F.contains(nn, F.lit("results")) & F.contains(nn, F.lit("discussion")),
               "results_and_discussion")
        .when(_contains_any(methods_keywords()), "materials_and_methods")
        .when(_contains_any(intro_keywords()), "introduction")
        .when(F.contains(nn, F.lit("conclusion"))
              | F.contains(nn, F.lit("clinical significance")), "conclusions")
        .when(F.contains(nn, F.lit("result")), "results")
        .when(F.contains(nn, F.lit("discussion"))
              | F.contains(nn, F.lit("limitation")), "discussion")
        .otherwise(F.replace(nn, F.lit(" "), F.lit("_")))
    )
    key = F.when(nn == "", "").otherwise(F.coalesce(F.col("exact_key"), cascade))
    return out.withColumn("key", key).drop("_n", "n_exact", "exact_key")


def canonical_section_col(col):
    """Spark Column version of :func:`canonical_section_name`.

    The ~220-entry exact table becomes a literal ``create_map`` (tiny,
    broadcast into the plan as a constant); the keyword cascade becomes
    ordered ``when`` branches, preserving reference rule order.
    """
    from pyspark.sql import functions as F
    from itertools import chain

    n = sanitize_heading_col(col)
    mapping = F.create_map(
        *[F.lit(x) for x in chain.from_iterable(exact_map().items())]
    )
    exact_hit = mapping[n]

    def _contains_any(words):
        cond = F.lit(False)
        for w in words:
            cond = cond | F.contains(n, F.lit(w))
        return cond

    cascade = (
        F.when(F.contains(n, F.lit("results")) & F.contains(n, F.lit("discussion")),
               "results_and_discussion")
        .when(_contains_any(methods_keywords()), "materials_and_methods")
        .when(_contains_any(intro_keywords()), "introduction")
        .when(F.contains(n, F.lit("conclusion"))
              | F.contains(n, F.lit("clinical significance")), "conclusions")
        .when(F.contains(n, F.lit("result")), "results")
        .when(F.contains(n, F.lit("discussion"))
              | F.contains(n, F.lit("limitation")), "discussion")
        .otherwise(F.replace(n, F.lit(" "), F.lit("_")))
    )
    return F.when(n == "", "").otherwise(F.coalesce(exact_hit, cascade))
