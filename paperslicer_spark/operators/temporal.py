"""Temporal operators Spark lacks natively: grouped as-of join.

The task brief's canonical "custom operator" example — align each left
row with the most recent right row at or before it, per key (pandas
``merge_asof`` / DuckDB ``ASOF JOIN`` semantics, kdb ``aj``).

Spark-first design: NOT a join at all. Joins need an equi-key, and a
naive ``left.ts >= right.ts`` theta-join is a per-key cross product.
Instead both sides union into one event stream tagged by side, ONE
window per key ordered by (ts, side, tiebreak) carries the latest
right row forward (``last_value(..., ignoreNulls=True)`` over rows
UNBOUNDED PRECEDING → CURRENT ROW), and the left rows are filtered
back out with their carried match attached.

Scale shape: a single hash shuffle on the key (the window), linear in
|left| + |right| — no fan-out, no range-bucket tuning. Skewed keys
cost what any per-key window costs; the payload carried through the
window is one struct per row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def asof_join(left: DataFrame, right: DataFrame, on: str,
              ts_col: str = "ts", right_cols: list[str] | None = None,
              suffix: str = "_right",
              strict: bool = False) -> DataFrame:
    """For every ``left`` row, attach the latest ``right`` row with
    ``right.ts <= left.ts`` (``strict=True``: ``<``) sharing ``on``.

    Returns all ``left`` columns plus ``right_cols`` (default: every
    non-key, non-ts right column) renamed with ``suffix``, plus
    ``{ts_col}{suffix}`` — all NULL when no prior right row exists.

    Ties: a right row at exactly ``left.ts`` matches (unless
    ``strict``); among right rows with identical ts the LAST in the
    window's deterministic order wins (ordered by every carried
    column, so the result is stable across runs/cluster sizes).
    """
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in (on, ts_col)]
    carried = [ts_col] + right_cols

    lhs = left.select(
        F.col(on), F.col(ts_col).alias("_ts"),
        F.lit(1).alias("_side"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_l"),
        F.lit(None).cast(
            right.select(F.struct(*[F.col(c) for c in carried])
                         .alias("s")).schema["s"].dataType
        ).alias("_r"),
    )
    rhs = right.select(
        F.col(on), F.col(ts_col).alias("_ts"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(lhs.schema["_l"].dataType).alias("_l"),
        F.struct(*[F.col(c) for c in carried]).alias("_r"),
    )
    # order: ts, then right-before-left at equal ts (so an exact-ts
    # right row is visible to the left row), then the right payload
    # itself as a deterministic tiebreak between equal-ts right rows.
    # strict mode flips the side order so equal-ts rights sort AFTER
    # the left row and are not yet visible to it.
    side_order = F.col("_side").desc() if strict else F.col("_side").asc()
    w = (
        Window.partitionBy(on)
        .orderBy(F.col("_ts").asc(), side_order, F.col("_r").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = (
        lhs.unionByName(rhs)
        .withColumn("_m", F.last("_r", ignorenulls=True).over(w))
        .where(F.col("_side") == 1)
    )
    out_cols = [F.col(f"_l.{c}").alias(c) for c in left.columns]
    out_cols.append(F.col(f"_m.{ts_col}").alias(f"{ts_col}{suffix}"))
    out_cols.extend(F.col(f"_m.{c}").alias(f"{c}{suffix}")
                    for c in right_cols)
    return matched.select(*out_cols)


def range_join(left: DataFrame, right: DataFrame, on: str,
               ts_col: str = "ts", lower: float = 0.0,
               upper: float = 60.0,
               right_cols: list[str] | None = None,
               suffix: str = "_right") -> DataFrame:
    """Interval join: every (left, right) pair sharing ``on`` with
    ``right.ts - left.ts`` in ``[lower, upper]`` (seconds) — "errors
    within 60 s after a click", sensor alignment, etc.

    Spark planks a plain ``l.ts BETWEEN r.ts - u AND r.ts - l``
    condition as BroadcastNestedLoopJoin (or a per-key cross product
    under the equi-key) — quadratic in the hot key. This implements
    the standard BUCKETIZED range join: both sides get a
    ``floor(ts / width)`` bucket with ``width = upper - lower``; a
    right row can only match left rows in its own or the previous
    bucket, so the right side is duplicated into those two buckets
    and the join becomes a pure equi-join on (key, bucket) — 2x the
    right rows shuffled, zero fan-out beyond true matches plus
    same-bucket candidates, then the exact interval predicate filters
    residuals. Candidate count per bucket is bounded by the data's
    rate x width, independent of total size.

    All bucket and interval arithmetic is INTEGER epoch-microseconds
    (round-4 ADVICE): seconds-as-double made sub-second deltas that
    land exactly on a bound inexact by ~1 ulp, inconsistent with the
    integer-µs x44 oracle. ``lower``/``upper`` are rounded to whole µs.
    """
    assert upper > lower
    lower_us = int(round(lower * 1_000_000))
    upper_us = int(round(upper * 1_000_000))
    width_us = upper_us - lower_us
    assert width_us > 0
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in (on, ts_col)]

    def _epoch_us(col):
        # integer epoch µs; TIMESTAMP_NTZ needs the TIMESTAMP route
        # (identity under the session's UTC timezone)
        return F.unix_micros(col.cast("timestamp"))

    def _floordiv(a, b: int):
        # exact bigint floor division (Spark's `div` truncates toward
        # zero, wrong for negative pre-epoch values; pmod is ≥0)
        return ((a - F.pmod(a, F.lit(b))) / F.lit(b)).cast("bigint")

    lts = _epoch_us(F.col(ts_col))
    l = left.withColumn("_bkt", _floordiv(lts + lower_us, width_us))
    # right row at ts matches left rows with left.ts in
    # [ts - upper, ts - lower] — an interval of length `width`, which
    # spans at most two buckets of the left's shifted grid
    rts = _epoch_us(F.col(ts_col))
    r = right.select(
        F.col(on), rts.alias("_rts"),
        F.struct(*[F.col(c) for c in [ts_col] + right_cols]).alias("_r"),
    )
    # the two candidate buckets are floor(r/width)-1 and floor(r/width)
    # — always distinct, so each true (l, r) pair joins exactly once
    # (l lives in exactly one bucket) and no dedup pass is needed
    rb = _floordiv(F.col("_rts") - upper_us + lower_us, width_us)
    r2 = r.select(
        on, "_rts", "_r",
        F.explode(F.array(rb, rb + 1)).alias("_bkt"),
    )
    delta = F.col("_rts") - _epoch_us(F.col(ts_col))
    out_cols = [F.col(c) for c in left.columns]
    out_cols.append(F.col(f"_r.{ts_col}").alias(f"{ts_col}{suffix}"))
    out_cols.extend(F.col(f"_r.{c}").alias(f"{c}{suffix}")
                    for c in right_cols)
    return (
        l.join(r2, [on, "_bkt"])
        .where((delta >= lower_us) & (delta <= upper_us))
        .select(*out_cols)
    )


def rolling_agg(df: DataFrame, key_col: str, ts_col: str, value_col: str,
                window_seconds: float = 3600.0) -> DataFrame:
    """Per-key trailing-window aggregates: for every event, the count /
    sum / mean of ``value_col`` over the preceding ``window_seconds``
    (inclusive of the current row) for the same key — the standard
    "trailing 1-hour activity" time-series feature.

    Implemented as ONE range-frame window (``RANGE BETWEEN w PRECEDING
    AND CURRENT ROW`` over integer epoch-µs), so Spark's spillable
    window operator streams each key's events in time order with a
    sliding frame — no self-join, no per-event scan fan-out. One
    shuffle on the key. The same hot-key caveat as asof_join applies
    (one key = one task's frame walk); BENCH/temporal_skew.json
    quantifies it.
    """
    from pyspark.sql import Window

    w_us = int(round(window_seconds * 1_000_000))
    ts_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = (
        Window.partitionBy(key_col).orderBy(ts_us.cast("long"))
        .rangeBetween(-w_us, Window.currentRow)
    )
    return df.select(
        "*",
        F.count("*").over(w).alias("w_count"),
        F.round(F.sum(F.col(value_col).cast("double")).over(w), 6)
        .alias("w_sum"),
        F.round(F.avg(F.col(value_col).cast("double")).over(w), 6)
        .alias("w_mean"),
    )


def funnel_steps(df: DataFrame, user_col: str, ts_col: str,
                 type_col: str, steps: list[str]) -> DataFrame:
    """Ordered funnel analysis: how many users reach each step in order.

    Step k counts a user iff an event of type ``steps[k]`` happened
    STRICTLY after the user's earliest qualifying step-(k-1) event
    (the standard product-analytics funnel; same-timestamp ties do not
    advance the funnel — documented, both engines agree).

    Shape: the step-k time is a full-partition ``min(when(...))``
    window chained on the step-(k-1) column — all k windows partition
    on ``user_col``, so Catalyst plans ONE exchange + one sort and
    stacks the Window operators on it; the per-user relation then
    aggregates to ``len(steps)`` rows.  No self-joins, no per-user
    arrays, no k passes over the corpus.

    Output: ``(step, step_name, n_users)`` with step 1-based.
    """
    w = Window.partitionBy(user_col)
    cur = df.select(F.col(user_col), F.col(ts_col).alias("_ts"),
                    F.col(type_col).alias("_ty"))
    prev = None
    for i, s in enumerate(steps):
        cond = F.col("_ty") == s
        if prev is not None:
            cond = cond & (F.col("_ts") > F.col(prev))
        cur = cur.withColumn(f"_t{i}",
                             F.min(F.when(cond, F.col("_ts"))).over(w))
        prev = f"_t{i}"
    per_user = cur.groupBy(user_col).agg(
        *[F.max(f"_t{i}").alias(f"_t{i}") for i in range(len(steps))])
    counts = per_user.agg(*[
        F.count(f"_t{i}").alias(f"_c{i}") for i in range(len(steps))])
    rows = F.array(*[
        F.struct(F.lit(i + 1).cast("bigint").alias("step"),
                 F.lit(s).alias("step_name"),
                 F.col(f"_c{i}").alias("n_users"))
        for i, s in enumerate(steps)])
    return (counts.select(F.explode(rows).alias("r"))
            .select("r.step", "r.step_name", "r.n_users"))


def retention_cohorts(df: DataFrame, user_col: str, ts_col: str,
                      type_col: str,
                      cohort_event: str = "signup") -> DataFrame:
    """Weekly retention-cohort matrix.

    Cohort = Monday-truncated week of the user's FIRST
    ``cohort_event``; a user is retained in week offset k if they have
    ANY event in cohort_week + k.  Pre-cohort activity is excluded.
    Users without a cohort event are excluded.

    Shape: one aggregate for the (small, n_users-sized) cohort
    relation, one ``distinct`` over (user, week) — both shuffle on
    ``user_col`` so the join is co-partitioned; week arithmetic is
    exact integer days/7 (both truncations are Monday midnight).
    Output: ``(cohort_week date, week_offset, n_users)``.
    """
    cohort = (df.where(F.col(type_col) == cohort_event)
              .groupBy(user_col)
              .agg(F.date_trunc("week", F.min(ts_col)).alias("_cw")))
    active = (df.select(F.col(user_col),
                        F.date_trunc("week", F.col(ts_col)).alias("_w"))
              .distinct())
    j = active.join(cohort, user_col).where(F.col("_w") >= F.col("_cw"))
    return (j.groupBy(
        F.col("_cw").cast("date").alias("cohort_week"),
        (F.datediff("_w", "_cw") / 7).cast("bigint").alias("week_offset"))
        .agg(F.count_distinct(F.col(user_col)).alias("n_users")))


def transition_counts(df: DataFrame, key_col: str, ts_col: str,
                      state_col: str,
                      tiebreak_cols: list[str] | None = None) -> DataFrame:
    """First-order Markov transition matrix over per-key event streams.

    For each key's events in (``ts_col``, ``tiebreak_cols``) order,
    count consecutive (state -> next state) pairs and the row-
    normalized transition probability.  The ordering MUST be total —
    pass a unique tiebreaker (e.g. event_id) or same-timestamp rows
    make the lead() pairing engine-dependent.

    Shape: one exchange on ``key_col`` for the lead() window, one
    (states²-sized) aggregate, and the row-normalizing sum is a window
    over that tiny relation — never a broadcast-back of its own
    aggregate (the measured bm25 re-scan trap).  Probability is the
    single IEEE division, rounded to 9 dp.

    Output: ``(from_state, to_state, n, p)``.
    """
    order = [F.col(ts_col)] + [F.col(c) for c in (tiebreak_cols or [])]
    w = Window.partitionBy(key_col).orderBy(*order)
    nxt = F.lead(state_col).over(w)
    pairs = (df.select(F.col(state_col).alias("from_state"),
                       nxt.alias("to_state"))
             .where(F.col("to_state").isNotNull()))
    counts = pairs.groupBy("from_state", "to_state").agg(
        F.count("*").alias("n"))
    tot = F.sum("n").over(Window.partitionBy("from_state"))
    return counts.select(
        "from_state", "to_state", "n",
        F.round(F.col("n") / tot, 9).alias("p"))


def session_durations(df: DataFrame, key_col: str, ts_col: str,
                      gap_us: int = 1_800_000_000,
                      tiebreak_cols: list[str] | None = None) -> DataFrame:
    """Sessionize per-key event streams and emit one row per session.

    A session breaks when the gap to the previous event exceeds
    ``gap_us`` (integer epoch-µs end-to-end — the range_join round-4
    lesson; sub-second gaps stay exact).  Output: ``(key, session_id,
    dur_us, n_events)`` where session_id is the per-key 1-based break
    cumsum and dur_us = last - first event µs (0 for singletons).

    One exchange on ``key_col``: the lag window, the cumsum window and
    the session aggregate all share it.  The output relation is
    n_sessions-sized — the cheap input exact global percentiles or
    histograms then run on (x85 composes it with
    ``metrics.exact_percentiles``).
    """
    ties = [F.col(c) for c in (tiebreak_cols or [])]
    base = df.select(
        F.col(key_col),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_us"),
        *ties)
    # ordering by the integer µs is the same total preorder as ts
    w = Window.partitionBy(key_col).orderBy(F.col("_us"), *ties)
    gap = F.col("_us") - F.lag("_us").over(w)
    new_s = F.when(gap.isNull() | (gap > gap_us), 1).otherwise(0)
    sid = F.sum(new_s).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (base.withColumn("session_id", sid.cast("bigint"))
            .groupBy(key_col, "session_id")
            .agg((F.max("_us") - F.min("_us")).alias("dur_us"),
                 F.count("*").alias("n_events")))


def rate_anomaly(df: DataFrame, key_col: str, ts_col: str,
                 trailing_hours: int = 24,
                 min_baseline: int = 12) -> DataFrame:
    """Trailing z-score anomaly detection on per-key hourly event
    rates — the ingest-monitoring alarm ("this source's crawl rate
    just spiked 5 sigmas vs its trailing day") a pipeline watches
    before bad data floods a mix.

    Per (key, hour): the hourly count ``c`` and its z-score against
    the trailing ``trailing_hours`` buckets (EXCLUDING the current
    one — the baseline must not contain the point under test).
    Buckets with fewer than ``min_baseline`` trailing points or zero
    baseline variance get NULL z.

    Determinism: the baseline enters as integer sums over a RANGE
    frame on the integer epoch-hour — ``z = (n·c - s) /
    sqrt(n·ss - s²)`` (the population-z identity cleared of
    divisions), so both engines compute one IEEE sqrt + one IEEE
    division over EXACT bigint inputs; round(6).  Never a
    stddev/variance aggregate, whose summation order is
    engine-internal.

    Scale: one map-side-combined (key, hour) count — the corpus
    collapses to key×hours rows before any window — then ONE
    range-frame window on the same key exchange.  Hot keys cost one
    frame walk over their OWN hour count (bounded by the time span,
    not the event volume).
    """
    from pyspark.sql import Window

    # integer floor-div via pmod (the pinned range_join trick): the
    # numerator is an exact multiple, so the one double division is
    # exact — never a truncated fractional quotient near a boundary
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    hour = ((us - F.pmod(us, F.lit(3_600_000_000)))
            / F.lit(3_600_000_000)).cast("long")
    hc = (df.select(F.col(key_col).alias("key"), hour.alias("hr"))
          .groupBy("key", "hr").agg(F.count("*").alias("c")))
    w = (Window.partitionBy("key").orderBy("hr")
         .rangeBetween(-trailing_hours, -1))
    n = F.count("*").over(w)
    s = F.sum("c").over(w)
    ss = F.sum(F.col("c") * F.col("c")).over(w)
    var_num = n * ss - s * s
    z = F.when(
        (n >= min_baseline) & (var_num > 0),
        F.round((n * F.col("c") - s)
                / F.sqrt(var_num.cast("double")), 6))
    return hc.select("key", "hr", "c", n.alias("n_base"),
                     s.alias("s_base"), z.alias("z"))
