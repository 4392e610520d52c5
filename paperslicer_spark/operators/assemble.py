"""Turns → documents: order-stable, skew-defused payload assembly.

The reference processes whole documents (one PDF → one TEI); our input
is the transcripts table where a document's markup is split across
turns (FIXTURES.md §1). This stage reassembles per-conversation
payloads with:

- **stable turn ordering** enforced by sorting position-tagged structs
  (never bare ``collect_list`` — its order is nondeterministic under
  parallel execution; SURVEY.md §4.4);
- **skew-split salting** (north_rule): a cheap per-conversation turn
  count first identifies the skewed tail (conversations with 100-1000×
  the median turn count); only THOSE go through the two-phase salted
  aggregation — pre-concatenation per ``(conv_id, turn_block)`` so no
  single reducer materializes a 10^5-row group — while the uniform
  bulk takes the direct one-shuffle path. Salting everything would
  double the shuffled payload bytes for no benefit (measured 20×
  slower at bench scale);
- everything JVM-side (built-in higher-order functions, no UDF) so the
  whole stage stays in Tungsten until the parse UDF.

Envelope contract (kept in sync with sources/transcripts.py
``assemble_payload``): fragments classified by prefix into header /
facsimile / body / back, wrapped as
``<TEI xmlns>{header}{facs}<text><body>{body}</body>{back}</text></TEI>``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from paperslicer_spark.sources.transcripts import ENVELOPE_OPEN

_CLASSES = [
    ("header", "<teiHeader"),
    ("facs", "<facsimile"),
    ("back", "<back"),
]


def _classify(col):
    expr = F.lit("body")
    for name, prefix in _CLASSES:
        expr = F.when(F.startswith(col, F.lit(prefix)), F.lit(name)).otherwise(expr)
    return expr


def _ordered_concat(pairs_col):
    """array<struct<pos,text>> → text concatenated in pos order."""
    return F.array_join(
        F.transform(F.array_sort(pairs_col), lambda s: s.getField("text")), ""
    )


def _per_class(t: DataFrame) -> DataFrame:
    """(conv_id, frag_class, pos, text) → one row per conv with the
    four class concatenations, ordered by pos within each class."""
    return t.groupBy("conv_id").agg(
        *[
            _ordered_concat(
                F.collect_list(
                    F.when(F.col("frag_class") == name, F.struct("pos", "text"))
                )
            ).alias(name)
            for name in ("header", "facs", "back", "body")
        ]
    )


def _salted_blocks(t: DataFrame, block: int) -> DataFrame:
    """Phase 1 for skewed conversations: pre-concatenate per
    (conv_id, class, turn block) so the final per-conv group is tiny."""
    return (
        t.groupBy(
            "conv_id",
            "frag_class",
            (F.col("pos") / F.lit(block)).cast("int").alias("blk"),
        )
        .agg(
            _ordered_concat(
                F.collect_list(F.struct("pos", "text"))
            ).alias("text"),
        )
        .select("conv_id", "frag_class", F.col("blk").alias("pos"), "text")
    )


def assemble_documents(turns: DataFrame,
                       skew_threshold: int | None = None) -> DataFrame:
    """Assemble ``(conv_id, payload)`` from transcript turns — with
    ``parse_documents`` the parity reference of the fused extraction
    paths (operators/extract.py), which assemble inside their parse UDF
    instead.

    ``skew_threshold``: when set, conversations with more than this
    many turns are routed through the salted two-phase path in blocks
    of ``skew_threshold`` turns; the rest go direct.
    """
    t = turns.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("pos"),
        _classify(F.col("text")).alias("frag_class"),
        "text",
    ).where(F.col("text").isNotNull() & (F.length("text") > 0))

    if skew_threshold:
        # Skew probe over RAW turns, not the text-filtered view: the
        # routing decision doesn't change the output (salted and direct
        # paths produce identical payloads — parity-tested), and raw
        # count >= non-empty count so routing stays conservative. The
        # win: this pass prunes to a conv_id-ONLY parquet scan instead
        # of decompressing every payload byte a second time just to
        # evaluate the length(text) > 0 filter (guide §6: check
        # ReadSchema; the count pass read [conv_id, text] before).
        skewed_ids = (
            turns.groupBy("conv_id").agg(F.count("*").alias("_n"))
            .where(F.col("_n") > skew_threshold)
            .select("conv_id", F.lit(True).alias("_skew"))
        )
        flagged = t.join(F.broadcast(skewed_ids), "conv_id", "left")
        normal = flagged.where(F.col("_skew").isNull()).drop("_skew")
        skewed = flagged.where(F.col("_skew").isNotNull()).drop("_skew")
        per_class = _per_class(normal).unionByName(
            _per_class(_salted_blocks(skewed, skew_threshold)))
    else:
        per_class = _per_class(t)

    payload = F.concat(
        F.lit(ENVELOPE_OPEN),
        F.col("header"),
        F.col("facs"),
        F.lit("<text><body>"),
        F.col("body"),
        F.lit("</body>"),
        F.col("back"),
        F.lit("</text></TEI>"),
    )
    return per_class.select("conv_id", payload.alias("payload"))
