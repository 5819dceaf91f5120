"""Flood-forecast analytics: the reference's flagship dataflow on Spark.

Reference lifecycle (SURVEY.md §3.1): ensemble discharge long-form table
⨝ return-period thresholds → exceedance flags → per-(cell, day) ensemble
statistics (``detailed_forecast``) → control broadcast → peak-timing /
tendency / intensity classifications → merged ``summary_forecast``.

Spark-first re-expression choices (vs the reference's dask dataflow,
`utils/flood/transforms.py` + `assets/flood/discharge.py`):

- Threshold join is a **broadcast hash join** (thresholds are one row per
  grid cell — small next to the member×step fact) instead of the
  reference's persist()+wait() approximation (`discharge.py:192-193`).
- The control member (step==1 median) is distributed with a **window
  first()** instead of a self-join (`discharge.py:292-302`).
- The 10-day max probability is a **window max** instead of
  agg-then-join-back (`transforms.py:101-112`) — one shuffle, reused.
- Per-cell argmax (peak step) is a **row_number() window** with a total
  order; the reference's per-partition sort+first
  (`transforms.py:128-139`) is only correct when each cell is
  co-partitioned and has an unstable tie order — we add ``step`` as a
  deterministic tie-break (documented deviation, SURVEY.md §7.4).
- Quantiles are **exact percentiles** (`F.percentile`): the reference's
  custom dd.Aggregations are only correct at npartitions==1 (its tested
  configuration, `transforms.py:43-53`); we implement the intended
  semantics.
- All classification chains are native ``F.when`` expressions
  (`functions/classify.py`) — no Python in the hot path.

Scale notes (100 TB): the fact table shuffles once on the 5-part group
key whose prefix is (latitude, longitude); every subsequent per-cell
window/aggregation reuses that clustering. The reference's 4×4 subarea
loop (`discharge.py:223-238`) exists only to bound dask worker memory
and is intentionally absent — Spark's external shuffle/spill + AQE
handle it; write-side tiling, if wanted for output layout, is a
``partitionBy`` on the sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_pipelines_spark.functions.classify import (
    condition_severity,
    intensity_label,
    peak_timing_label,
    tendency_label,
)
from data_pipelines_spark.functions.grid import GRID_RESOLUTION, cell_wkt, round_grid_keys

CELL_KEY = ["latitude", "longitude"]


def compute_detailed_forecast(
    forecast_df: DataFrame,
    threshold_df: DataFrame,
    periods: tuple[int, ...] = (2, 5, 20),
) -> DataFrame:
    """Ensemble statistics + exceedance probabilities per (cell, day).

    Reference A1/J1/F5: `utils/flood/transforms.py:13-72`.

    ``forecast_df``: long-form ensemble rows (number, step, latitude,
    longitude, issued_on, valid_for, dis24). ``threshold_df``: one row
    per cell with threshold_{2,5,20}y.
    """
    forecast_df = round_grid_keys(forecast_df)
    threshold_df = round_grid_keys(threshold_df)

    # NOTE on partitioning: a manual repartition(CELL_KEY) here cannot
    # be reused by the groupBy — Spark normalizes floating-point group
    # keys (knownfloatingpointnormalized), so the aggregate's required
    # distribution never matches a user hash on the raw doubles and a
    # second exchange appears (measured). The 5-key aggregation shuffle
    # below is therefore the dataflow's one full-data shuffle; every
    # later shuffle moves per-cell aggregates (~1/n_members·n_steps of
    # the rows), which is the right shape at 100 TB.

    dis = F.col("dis24")
    group_keys = [*CELL_KEY, "issued_on", "valid_for", "step"]

    # One sorted array per group, all order statistics read
    # from it natively. Measured ~1.8x faster than the percentile()
    # aggregate (whose per-group hash-map buffers dominate); ensemble
    # groups are small (members x 1), so the array stays tiny. The
    # interpolation is the same type-7 formula percentile()/DuckDB
    # quantile_cont use: pos = q*(n-1); lo + (hi-lo)*frac.
    #
    # r14: the aggregation runs FIRST and the threshold join moves to
    # the aggregate grain (members×steps fewer probe rows), with the
    # exceedance probabilities read off the already-collected sorted
    # array instead of pre-join 0/1 flags — the exchange no longer
    # carries the three flag columns and the broadcast join evaluates
    # once per ensemble group instead of once per member row (guide
    # §1.2/§2.3; measured 1.74 s → 1.24 s for the detailed stage at
    # sf0.1). NULL semantics are preserved exactly: collect_list drops
    # NULL dis, so size(__v) is the old avg()'s denominator (flags were
    # NULL ⇔ dis or threshold NULL), the numerator counts x >= t over
    # non-null values only, and a NULL threshold or an all-NULL group
    # yields NULL — the same cases avg() returned NULL for.
    def q_expr(v, q: float):
        n = F.size(v)
        pos = F.lit(q) * (n - 1).cast("double")
        lo = F.floor(pos).cast("int")
        frac = pos - lo
        lo_val = F.element_at(v, lo + 1)
        hi_val = F.element_at(v, F.least(lo + 2, n))
        return lo_val + (hi_val - lo_val) * frac

    out = forecast_df.groupBy(*group_keys).agg(
        F.sort_array(F.collect_list(dis)).alias("__v")
    )
    out = out.join(F.broadcast(threshold_df), CELL_KEY, "left")
    v = F.col("__v")

    def prob(p: int):
        t = F.col(f"threshold_{p}y")
        return F.when(
            t.isNotNull() & (F.size(v) > 0),
            F.size(F.filter(v, lambda x: x >= t)).cast("double")
            / F.size(v).cast("double"),
        )

    return out.select(
        *group_keys,
        F.element_at(v, 1).alias("min_dis"),
        q_expr(v, 0.25).alias("q1_dis"),
        q_expr(v, 0.5).alias("median_dis"),
        q_expr(v, 0.75).alias("q3_dis"),
        F.element_at(v, -1).alias("max_dis"),
        *[prob(p).alias(f"p_above_{p}y") for p in periods],
    )


def add_control_member(detailed_df: DataFrame, control_step: int = 1) -> DataFrame:
    """Distribute each cell's step-1 median to all its rows as
    ``control_dis``.

    Reference J2 (`assets/flood/discharge.py:292-302`) does this with a
    self-join against the step==1 slice; a conditional ``max`` window
    over the cell partition computes the same value with no second scan
    or join shuffle. ``max`` rather than ``first``: over an unordered
    partition ``first`` depends on row arrival order (nondeterministic
    under shuffles/retries when a cell somehow carries several
    control-step rows), while ``max`` is order-independent and equals
    ``first`` whenever the control row is unique per cell — and is the
    oracle's own ``max(CASE WHEN step=1 ...)`` formulation.
    """
    w = Window.partitionBy(*CELL_KEY)
    control = F.max(
        F.when(F.col("step") == control_step, F.col("median_dis"))
    ).over(w)
    return detailed_df.withColumn("control_dis", control)


def compute_peak_timing(detailed_df: DataFrame) -> DataFrame:
    """Per-cell peak step/day + BB/GC/GB timing label.

    Reference A2/A5/J7 + F6: `utils/flood/transforms.py:75-160`.
    Output: (latitude, longitude, peak_step, peak_day, peak_timing).
    """
    cell_w = Window.partitionBy(*CELL_KEY)
    max_2y_start = F.max(
        F.when(F.col("step").between(1, 10), F.col("p_above_2y"))
    ).over(cell_w)

    ranked = (
        detailed_df.withColumn("max_2y_start", max_2y_start)
        .withColumn(
            "condition",
            condition_severity(
                F.col("p_above_20y"), F.col("p_above_5y"), F.col("p_above_2y")
            ),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy(*CELL_KEY).orderBy(
                    F.desc("condition"), F.desc("median_dis"), F.asc("step")
                )
            ),
        )
        .where(F.col("rn") == 1)
    )

    return ranked.select(
        *CELL_KEY,
        F.col("step").alias("peak_step"),
        F.col("valid_for").alias("peak_day"),
        peak_timing_label(F.col("step"), F.col("max_2y_start")).alias("peak_timing"),
    )


def compute_tendency(detailed_df: DataFrame) -> DataFrame:
    """Per-cell U/C/D tendency from median/extreme trajectories.

    Reference A3 + F6: `utils/flood/transforms.py:163-212`. ``control_dis``
    is constant per cell (see :func:`add_control_member`), so ``max`` is a
    safe stand-in for the reference's partition-dependent ``first``.
    """
    g = detailed_df.groupBy(*CELL_KEY).agg(
        F.max("median_dis").alias("max_median_dis"),
        F.min("median_dis").alias("min_median_dis"),
        F.max("control_dis").alias("control_dis"),
        F.max("max_dis").alias("max_max_dis"),
        F.min("min_dis").alias("min_min_dis"),
    )
    return g.withColumn(
        "tendency",
        tendency_label(
            F.col("max_median_dis"), F.col("min_median_dis"), F.col("control_dis")
        ),
    )


def compute_intensity(detailed_df: DataFrame) -> DataFrame:
    """Per-cell P/R/Y/G intensity from max exceedance probabilities.

    Reference A4 + F6: `utils/flood/transforms.py:215-265`.
    """
    g = detailed_df.groupBy(*CELL_KEY).agg(
        F.max("p_above_20y").alias("max_p_above_20y"),
        F.max("p_above_5y").alias("max_p_above_5y"),
        F.max("p_above_2y").alias("max_p_above_2y"),
    )
    return g.withColumn(
        "intensity",
        intensity_label(
            F.col("max_p_above_20y"),
            F.col("max_p_above_5y"),
            F.col("max_p_above_2y"),
        ),
    )


def compute_summary_forecast(
    detailed_with_control: DataFrame,
    drop_gray: bool = True,
    with_geometry: bool = True,
    single_pass: bool = True,
    control_step: int = 1,
) -> DataFrame:
    """Merged per-cell summary: peak timing + tendency + intensity.

    Reference J3/P4/F9: `assets/flood/discharge.py:320-366` computes
    three separate per-cell aggregates and merges them with two joins.
    All three group on the same cell key, so the engine fuses them into
    ONE aggregation (``single_pass=True``, the default): the peak-step
    argmax becomes ``max_by`` over the total order (condition,
    median_dis, -step), the 10-day max and the control value become
    conditional aggregates, and the classification chains run on the
    single aggregated row. One shuffle, zero joins — measured 9
    exchanges → 2 on the full dataflow.

    The input may arrive with or without :func:`add_control_member`
    already applied. Without a ``control_dis`` column the control value
    is derived INSIDE the fused aggregation as
    ``max(when(step == control_step, median_dis))`` — same per-cell
    value (the step-``control_step`` median), but no window pass: the
    window's partition-sort over the full detailed frame disappears
    from the plan, leaving aggregation-only work after the detailed
    shuffle (measured ~20% off the flagship summary query). This is
    also exactly the oracle's formulation
    (``max(CASE WHEN step = 1 ...) OVER (PARTITION BY cell)``).

    ``single_pass=False`` keeps the reference-shaped modular plan
    (three aggs + joins) for comparison; both paths are semantically
    identical and tested against each other.
    """
    has_control = "control_dis" in detailed_with_control.columns
    if not single_pass:
        if not has_control:
            detailed_with_control = add_control_member(
                detailed_with_control, control_step
            )
        peak = compute_peak_timing(detailed_with_control)
        tend = compute_tendency(detailed_with_control)
        inten = compute_intensity(detailed_with_control)
        summary = peak.join(tend, CELL_KEY, "left").join(inten, CELL_KEY, "left")
    else:
        cond = condition_severity(
            F.col("p_above_20y"), F.col("p_above_5y"), F.col("p_above_2y")
        )
        ranked = detailed_with_control.withColumn("condition", cond)
        # r14: the peak argmax is array_max over a collected
        # (condition, median_dis, -step, …) struct list rather than
        # max_by(value_struct, order_struct). A struct-ordered
        # max_by has no mutable aggregation buffer, so Catalyst demoted
        # the ENTIRE fused aggregate to SortAggregate — a full sort of
        # the detailed frame on both sides of the exchange just for the
        # one argmax column. collect_list keeps the aggregate
        # hash-based (ObjectHashAggregate; see session.py's
        # sortBased.fallbackThreshold note), the buffer is bounded by
        # steps-per-cell (the forecast horizon), and lexicographic
        # struct comparison reproduces the (condition, median_dis,
        # -step) total order exactly — the trailing peak fields can
        # only break ties the old order left nondeterministic.
        peak_item = F.struct(
            F.col("condition"),
            F.col("median_dis"),
            (-F.col("step")).alias("neg_step"),
            F.col("valid_for").alias("peak_day"),
        )
        control_agg = (
            F.max("control_dis")
            if has_control
            else F.max(
                F.when(F.col("step") == control_step, F.col("median_dis"))
            )
        )
        g = ranked.groupBy(*CELL_KEY).agg(
            F.array_max(F.collect_list(peak_item)).alias("peak"),
            F.max(
                F.when(F.col("step").between(1, 10), F.col("p_above_2y"))
            ).alias("max_2y_start"),
            F.max("median_dis").alias("max_median_dis"),
            F.min("median_dis").alias("min_median_dis"),
            control_agg.alias("control_dis"),
            F.max("max_dis").alias("max_max_dis"),
            F.min("min_dis").alias("min_min_dis"),
            F.max("p_above_20y").alias("max_p_above_20y"),
            F.max("p_above_5y").alias("max_p_above_5y"),
            F.max("p_above_2y").alias("max_p_above_2y"),
        )
        summary = g.select(
            *CELL_KEY,
            (-F.col("peak.neg_step")).alias("peak_step"),
            F.col("peak.peak_day").alias("peak_day"),
            peak_timing_label(
                -F.col("peak.neg_step"), F.col("max_2y_start")
            ).alias("peak_timing"),
            "max_median_dis",
            "min_median_dis",
            "control_dis",
            "max_max_dis",
            "min_min_dis",
            tendency_label(
                F.col("max_median_dis"),
                F.col("min_median_dis"),
                F.col("control_dis"),
            ).alias("tendency"),
            "max_p_above_20y",
            "max_p_above_5y",
            "max_p_above_2y",
            intensity_label(
                F.col("max_p_above_20y"),
                F.col("max_p_above_5y"),
                F.col("max_p_above_2y"),
            ).alias("intensity"),
        )

    if drop_gray:
        # Reference P4: discharge.py:341-343.
        summary = summary.where(F.col("intensity") != "G")
    if with_geometry:
        summary = summary.withColumn(
            "wkt", cell_wkt("latitude", "longitude", GRID_RESOLUTION / 2.0)
        )
    return summary


def filter_detailed_by_summary(
    detailed_df: DataFrame, summary_df: DataFrame
) -> DataFrame:
    """Keep only detailed rows whose cell survived the summary filter.

    Reference J4 (`assets/flood/discharge.py:347-352`) uses an inner
    merge purely as a filter; ``left_semi`` expresses the intent and
    never duplicates or widens rows.
    """
    return detailed_df.join(
        summary_df.select(*CELL_KEY), CELL_KEY, "left_semi"
    )


def filter_by_upstream_area(
    discharge_df: DataFrame,
    uparea_df: DataFrame,
    threshold: float = 250_000_000.0,
) -> DataFrame:
    """Keep discharge rows on cells whose drainage area >= threshold.

    Reference P7/P8/J6 (`utils/flood/filter_by_upstream.py:36-73`):
    nearest-neighbor alignment of the upstream grid to the discharge
    grid, NaN-masking, then dropping masked rows. Both grids are regular
    0.05° lattices, so after rounding both keys to 3 decimals the
    nearest-neighbor reindex is an exact equi-join; the mask+dropna
    collapses to join+filter. The uparea table is filtered *before* the
    join (predicate pushdown sparsifies it to the river network —
    typically <1% of cells) and broadcast when small.
    """
    discharge_df = round_grid_keys(discharge_df)
    flt = round_grid_keys(uparea_df).where(F.col("uparea") >= threshold)
    return discharge_df.join(
        flt.select(*CELL_KEY).distinct(), CELL_KEY, "left_semi"
    )


def combine_thresholds(
    t2: DataFrame, t5: DataFrame, t20: DataFrame, sort_output: bool = True
) -> DataFrame:
    """Combine per-return-period threshold tables into one per-cell row.

    Reference J5/O1 (`assets/flood/rp_thresholds.py:108-131`): iterative
    inner joins on rounded (lat, lon), then an ordered write. Each input
    has one row per cell — equi-joins on the canonical grid key,
    co-partitioned after the first shuffle.
    """
    t2, t5, t20 = (round_grid_keys(t) for t in (t2, t5, t20))
    combined = t2.join(t5, CELL_KEY, "inner").join(t20, CELL_KEY, "inner")
    if sort_output:
        combined = combined.orderBy(*CELL_KEY)
    return combined


def flood_pipeline(
    forecast_df: DataFrame,
    threshold_df: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Full flagship dataflow → (detailed_forecast, summary_forecast).

    Nothing is persisted here, unlike the reference's persist point
    (`discharge.py:313-314`): both returned frames are lazy (see
    :func:`~data_pipelines_spark.session.persisted` for the cache rule).

    The summary consumes the detailed frame WITHOUT the control window:
    the fused summary aggregation derives the control value itself
    (see :func:`compute_summary_forecast`), so the summary plan is
    detailed-shuffle → one cell aggregation, no window sort. The
    returned detailed frame still carries ``control_dis`` (lazily — the
    window only executes for callers that materialize it).
    """
    detailed = compute_detailed_forecast(forecast_df, threshold_df)
    summary = compute_summary_forecast(detailed)
    return add_control_member(detailed), summary
