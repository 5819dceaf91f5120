"""Flood classification chains as native Catalyst expressions.

The reference implements these as numpy ``np.where`` chains inside
``map_partitions`` pandas UDFs (`utils/flood/transforms.py:114-122,
144-154,197-208,247-261`). Every one is a pure scalar expression, so the
engine expresses them as chained ``F.when`` — they stay JVM-side inside
whole-stage codegen instead of crossing into Python per batch.

Label codes follow `utils/flood/config.py:16-22`:
tendency U/C/D, intensity P/R/Y/G, peak timing BB/GC/GB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SEVERITY_THRESHOLD = 0.30  # probability band boundary, transforms.py:115-121,249-257
TENDENCY_UP_MULT = 1.10    # transforms.py:199
TENDENCY_DOWN_MULT = 0.90  # transforms.py:202


def condition_severity(p20: Column, p5: Column, p2: Column) -> Column:
    """Severity rank 4/3/2/1 from exceedance probabilities.

    Reference `utils/flood/transforms.py:114-122`.
    """
    t = SEVERITY_THRESHOLD
    return (
        F.when(p20 >= t, F.lit(4))
        .when(p5 >= t, F.lit(3))
        .when(p2 >= t, F.lit(2))
        .otherwise(F.lit(1))
    )


def peak_timing_label(peak_step: Column, max_2y_start: Column) -> Column:
    """BB / GC / GB border-color classification.

    Reference `utils/flood/transforms.py:144-154`: BB iff peak in the
    first 3 steps and the 10-day max 2y-probability >= 0.30; GC iff the
    peak is beyond day 10 while that probability < 0.30; else GB.
    """
    t = SEVERITY_THRESHOLD
    return (
        F.when(peak_step.isin(1, 2, 3) & (max_2y_start >= t), F.lit("BB"))
        .when((peak_step > 10) & (max_2y_start < t), F.lit("GC"))
        .otherwise(F.lit("GB"))
    )


def tendency_label(
    max_median_dis: Column, min_median_dis: Column, control_dis: Column
) -> Column:
    """U (increasing) / D (decreasing) / C (stagnant).

    Reference `utils/flood/transforms.py:197-208`. Boundary semantics
    (unit-tested in the reference): max_median exactly 1.10x control is
    NOT increasing (strict >); min_median exactly 0.90x control IS
    decreasing (<=) provided max_median <= 1.10x control.
    """
    up = control_dis * TENDENCY_UP_MULT
    down = control_dis * TENDENCY_DOWN_MULT
    return (
        F.when(max_median_dis > up, F.lit("U"))
        .when((min_median_dis <= down) & (max_median_dis <= up), F.lit("D"))
        .otherwise(F.lit("C"))
    )


def intensity_label(
    max_p_above_20y: Column, max_p_above_5y: Column, max_p_above_2y: Column
) -> Column:
    """P / R / Y / G color classification.

    Reference `utils/flood/transforms.py:247-261`; precedence P>R>Y>G
    with inclusive 0.30 boundaries.
    """
    t = SEVERITY_THRESHOLD
    return (
        F.when(max_p_above_20y >= t, F.lit("P"))
        .when(max_p_above_5y >= t, F.lit("R"))
        .when(max_p_above_2y >= t, F.lit("Y"))
        .otherwise(F.lit("G"))
    )
