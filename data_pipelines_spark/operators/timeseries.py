"""Time-series regularization: resample-to-grid, gap fill, and
interpolation.

The reference's domain is gridded weather series (daily discharge per
cell, `utils/flood/transforms.py`; yearly rasters, `assets/*`), where
the time axis arrives dense by construction. A general engine needs the
inverse operator set for *irregular* series — the hypertable/rollup
family: bucket events onto a fixed interval grid, materialize empty
buckets, then carry values across gaps (forward fill) or reconstruct
them (linear interpolation). These are the standard TimescaleDB
`time_bucket_gapfill`/`locf`/`interpolate` semantics re-expressed as
Spark dataflows.

Scale shape (100 TB): :func:`resample` is the only full-data shuffle
(one groupBy on (keys, bucket)); the grid is generated per key with
``sequence``+``explode`` from a key-grained span aggregate — grid size
is keys × span/interval, never a function of event count — and the
gap-join and both window passes move key-grained frames partitioned by
key. Nothing here sorts or collects globally; per-key window state is
bounded by span/interval.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def bucket_epoch(ts: Column | str, interval_sec: int) -> Column:
    """Epoch-aligned bucket start, as BIGINT epoch seconds.

    Pure integer arithmetic on epoch MICROseconds (``us - us % step``)
    so any engine (Spark, DuckDB, a SQL oracle) reproduces bucket
    assignment bit-for-bit even for sub-second timestamps — no
    time_bucket-origin, float-division, or timezone-rendering
    ambiguity.
    """
    us = F.unix_micros(F.col(ts) if isinstance(ts, str) else ts)
    step = F.lit(int(interval_sec) * 1_000_000).cast("long")
    bucket_us = us - F.pmod(us, step)
    return (bucket_us / F.lit(1_000_000)).cast("long")


def resample(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    interval_sec: int,
    dense: bool = True,
    watermark: str = "2 hours",
    max_gap_buckets: int | None = 1_000_000,
) -> DataFrame:
    """Aggregate an irregular series onto a fixed-interval grid.

    Output grain: one row per (keys, bucket_epoch) with ``n_events``
    (BIGINT, 0 on gap buckets) and ``sum_value`` (DOUBLE via an exact
    DECIMAL sum; NULL on gap buckets). With ``dense=True`` every bucket
    between each key's first and last event is materialized
    (TimescaleDB ``time_bucket_gapfill``): the per-key span comes from
    a key-grained aggregate and expands via ``sequence``+``explode`` —
    a narrow generate, not a join against a global calendar, so sparse
    and long-lived keys coexist without a blowup.

    Works on a STREAMING frame too (``dense=False`` only — a dense
    grid needs the key's full span): the bucket comes from a
    watermarked ``window()`` group so Spark can evict state past the
    horizon — grouping on a derived bucket column would accumulate
    state forever. ``window()`` buckets are epoch-aligned exactly like
    the integer arithmetic, so batch and stream emit identical rows on
    bounded input (tested).

    ``max_gap_buckets`` is the runaway-grid guard (same shape as
    ``interval_join``'s ``max_bins_per_interval``): one key whose
    neighbouring events sit a pathological span apart — a decade at
    1-second resolution is ~3e8 gap rows from a SINGLE generate —
    would funnel that whole explode into one task. Any single gap
    needing more than this many materialized buckets raises
    executor-side with the offending bucket in the message; ``None``
    disables (caller asserts the span/interval ratio is bounded).
    """
    keys = list(key_cols)
    aggs = [
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col(value_col).cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_value"),
    ]
    if df.isStreaming:
        if dense:
            raise ValueError(
                "dense grids need the full key span; use dense=False on streams"
            )
        win = F.window(F.col(ts_col), f"{int(interval_sec)} seconds")
        return (
            df.withWatermark(ts_col, watermark)
            .groupBy(win.alias("__w"), *keys)
            .agg(*aggs)
            .select(
                *keys,
                (F.unix_micros(F.col("__w.start")) / F.lit(1_000_000))
                .cast("long")
                .alias("bucket_epoch"),
                "n_events",
                "sum_value",
            )
        )
    bucketed = (
        df.withColumn("bucket_epoch", bucket_epoch(ts_col, interval_sec))
        .groupBy(*keys, "bucket_epoch")
        .agg(*aggs)
    )
    if not dense:
        return bucketed

    # Gap materialization in ONE pass over the bucket aggregate: each
    # row generates itself plus the empty buckets up to its successor
    # (lead() per key). The naive span-aggregate + grid + left-join
    # formulation reads and aggregates the fact table TWICE (Spark does
    # not share unpersisted subplans across join branches — measured as
    # 2 parquet scans); this shape is one scan, one fact-sized shuffle,
    # then only aggregate-sized work: a key-partitioned window and a
    # narrow generate. Gap rows are bounded by span/interval per key,
    # exactly the dense-grid size.
    w = Window.partitionBy(*keys).orderBy("bucket_epoch")
    step = F.lit(int(interval_sec)).cast("long")
    stepped = bucketed.withColumn("__nxt", F.lead("bucket_epoch").over(w))
    seq = F.sequence(
        F.col("bucket_epoch"),
        F.coalesce(F.col("__nxt") - step, F.col("bucket_epoch")),
        step,
    )
    if max_gap_buckets is not None:
        gap = F.coalesce(F.col("__nxt") - F.col("bucket_epoch"), F.lit(0))
        seq = F.when(
            gap <= F.lit(int(max_gap_buckets)) * step, seq
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "resample: one gap needs more than "
                        f"{max_gap_buckets} buckets of {interval_sec}s "
                        "(bucket_epoch="
                    ),
                    F.col("bucket_epoch").cast("string"),
                    F.lit(", next="),
                    F.col("__nxt").cast("string"),
                    F.lit(
                        "); widen interval_sec, split the key, or raise "
                        "max_gap_buckets"
                    ),
                )
            ).cast("array<long>")
        )
    own = F.col("__grid") == F.col("bucket_epoch")
    return (
        stepped.withColumn("__grid", F.explode(seq))
        .select(
            *keys,
            F.col("__grid").alias("bucket_epoch"),
            F.when(own, F.col("n_events")).otherwise(F.lit(0)).alias("n_events"),
            F.when(own, F.col("sum_value")).alias("sum_value"),
        )
    )


def resample_filled(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    interval_sec: int,
    interp_col: str = "interp_value",
    locf_col: str = "ffill_value",
    max_gap_buckets: int | None = 1_000_000,
) -> DataFrame:
    """Dense :func:`resample` + :func:`forward_fill` + linear
    interpolation fused into ONE pass — same output as

        dense = resample(df, keys, ts, value, interval)
        interpolate_linear(dense, keys, "bucket_epoch", "sum_value",
                           interp_col, locf_col=locf_col)

    but with every fill input resolved at BUCKET grain, before the gap
    explode (guide §2.3/§2.4). The composed form re-sorts the DENSE
    grid after the generate and runs two more window passes over it —
    at scale the dense grid is keys × span/interval rows, each paying
    a sort plus four running aggregates. Here the interpolation
    neighbours are per-bucket window values (lead + last/first over the
    bucket aggregate, one sort, sharing the exchange the gap explode
    already needed), and every generated grid row computes its fills
    ROW-LOCALLY from the five carried columns. Nothing downstream of
    the generate shuffles, sorts, or windows.

    Exact-equivalence argument (per dense-grid row at position g,
    generated by bucket row R with successor position nxt):

    - own row (g == R.bucket): prev-non-null-at-or-before and
      first-non-null-at-or-after g are the SAME window values computed
      at R (frames include R itself for prev; for next, a non-null R
      supplies its own value via the pass-through branch and a null R
      reduces the at-or-after frame to strictly-after — ``__nv/__nt``).
    - gap row (R.bucket < g < nxt): no observations exist in
      (R.bucket, g], so prev-non-null ≤ g equals prev-non-null ≤
      R.bucket (``__pv/__pt``); the first row after position g is at
      nxt, so next-non-null ≥ g equals first-non-null strictly after R
      (``__nv/__nt``).

    The lerp is the byte-identical expression tree of
    :func:`interpolate_linear` (same casts, same operand order, same
    ``t_next == t_prev`` guard), so results are bit-for-bit equal —
    including all-NULL observed buckets, leading/trailing gaps, and
    single-observation keys (pinned in tests/test_timeseries.py).
    """
    if df.isStreaming:
        raise ValueError(
            "resample_filled needs each key's full span; use "
            "resample(dense=False) on streams"
        )
    keys = list(key_cols)
    bucketed = resample(
        df, keys, ts_col, value_col, interval_sec, dense=False
    )
    v = F.col("sum_value")
    t = F.col("bucket_epoch").cast("double")
    obs_t = F.when(v.isNotNull(), t)
    w = Window.partitionBy(*keys).orderBy("bucket_epoch")
    w_prev = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_after = w.rowsBetween(1, Window.unboundedFollowing)
    stepped = bucketed.select(
        *keys,
        "bucket_epoch",
        "n_events",
        "sum_value",
        F.lead("bucket_epoch").over(w).alias("__nxt"),
        F.last(v, ignorenulls=True).over(w_prev).alias("__pv"),
        F.last(obs_t, ignorenulls=True).over(w_prev).alias("__pt"),
        F.first(v, ignorenulls=True).over(w_after).alias("__nv"),
        F.first(obs_t, ignorenulls=True).over(w_after).alias("__nt"),
    )
    step = F.lit(int(interval_sec)).cast("long")
    seq = F.sequence(
        F.col("bucket_epoch"),
        F.coalesce(F.col("__nxt") - step, F.col("bucket_epoch")),
        step,
    )
    if max_gap_buckets is not None:
        gap = F.coalesce(F.col("__nxt") - F.col("bucket_epoch"), F.lit(0))
        seq = F.when(
            gap <= F.lit(int(max_gap_buckets)) * step, seq
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "resample: one gap needs more than "
                        f"{max_gap_buckets} buckets of {interval_sec}s "
                        "(bucket_epoch="
                    ),
                    F.col("bucket_epoch").cast("string"),
                    F.lit(", next="),
                    F.col("__nxt").cast("string"),
                    F.lit(
                        "); widen interval_sec, split the key, or raise "
                        "max_gap_buckets"
                    ),
                )
            ).cast("array<long>")
        )
    own = F.col("__grid") == F.col("bucket_epoch")
    g = F.col("__grid").cast("double")
    pv, pt = F.col("__pv"), F.col("__pt")
    nv, nt = F.col("__nv"), F.col("__nt")
    # Byte-identical lerp tree to interpolate_linear's (guard first,
    # same operand order) — g is the dense row's order position.
    lerp = F.when(nt == pt, pv).otherwise(
        pv + (nv - pv) * (g - pt) / (nt - pt)
    )
    gap_value = F.when(own, F.col("sum_value"))
    return (
        stepped.withColumn("__grid", F.explode(seq))
        .select(
            *keys,
            F.col("__grid").alias("bucket_epoch"),
            F.when(own, F.col("n_events")).otherwise(F.lit(0)).alias("n_events"),
            gap_value.alias("sum_value"),
            pv.alias(locf_col),
            F.when(gap_value.isNotNull(), gap_value.cast("double"))
            .otherwise(lerp)
            .alias(interp_col),
        )
    )


def forward_fill(
    df: DataFrame,
    key_cols: Sequence[str],
    order_col: str,
    value_col: str,
    out_col: str | None = None,
) -> DataFrame:
    """Last-observation-carried-forward (TimescaleDB ``locf``).

    ``last(ignorenulls)`` over an UNBOUNDED PRECEDING row frame — one
    window pass, linear per-key state, no self-join. Rows before the
    first observation stay NULL.
    """
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(
        out_col or f"{value_col}_ffill",
        F.last(value_col, ignorenulls=True).over(w),
    )


def interpolate_linear(
    df: DataFrame,
    key_cols: Sequence[str],
    order_col: str,
    value_col: str,
    out_col: str | None = None,
    locf_col: str | None = None,
) -> DataFrame:
    """Linear interpolation across NULL gaps (TimescaleDB
    ``interpolate``).

    Two window passes per key — last non-null (value, position) at or
    before, first non-null at or after — then the lerp
    ``prev + (next - prev) * (t - t_prev) / (t_next - t_prev)`` in
    plain double arithmetic (reproducible bit-for-bit by any IEEE-754
    engine evaluating the same expression). Non-gap rows pass their
    value through; rows before the first / after the last observation
    stay NULL.

    Duplicate ``order_col`` values: a gap row sharing its position with
    an observation takes that observation's value (the ``t_next ==
    t_prev`` guard — without it the lerp divides by zero, which ABORTS
    the whole query under ANSI mode rather than yielding NULL). The
    intended grain is still one row per (keys, position) —
    :func:`resample` output; with several distinct observations at one
    position the window tie order decides which value carries.

    ``locf_col``: also emit the forward-filled value under this name.
    It is BY DEFINITION the interpolation's own last-non-null-at-or-
    before input (``__pv`` below, the exact expression
    :func:`forward_fill` computes), so callers that want both fills get
    locf for free — Catalyst does not deduplicate repeated window
    expressions inside one Window node, so a separate
    :func:`forward_fill` pass paid one extra running aggregate over the
    full frame for an identical column (guide §2.3; measured on the
    resample headline query).
    """
    out = out_col or f"{value_col}_interp"
    v = F.col(value_col)
    t = F.col(order_col).cast("double")
    w_prev = (
        Window.partitionBy(*key_cols)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy(*key_cols)
        .orderBy(order_col)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_t = F.when(v.isNotNull(), t)
    # Materialize the four window values as named columns FIRST:
    # Catalyst does not dedup repeated window expressions inside one
    # Window node, so inlining them into the guarded lerp evaluated 9
    # running first/last aggregates per row instead of 4 (measured ~25%
    # on the resample headline query). Column references are free.
    tmp = df.select(
        "*",
        F.last(v, ignorenulls=True).over(w_prev).alias("__pv"),
        F.last(obs_t, ignorenulls=True).over(w_prev).alias("__pt"),
        F.first(v, ignorenulls=True).over(w_next).alias("__nv"),
        F.first(obs_t, ignorenulls=True).over(w_next).alias("__nt"),
    )
    pv, pt = F.col("__pv"), F.col("__pt")
    nv, nt = F.col("__nv"), F.col("__nt")
    lerp = F.when(nt == pt, pv).otherwise(
        pv + (nv - pv) * (t - pt) / (nt - pt)
    )
    res = tmp.withColumn(
        out,
        F.when(v.isNotNull(), v.cast("double")).otherwise(lerp),
    )
    if locf_col is not None:
        res = res.withColumn(locf_col, pv)
    return res.drop("__pv", "__pt", "__nv", "__nt")
