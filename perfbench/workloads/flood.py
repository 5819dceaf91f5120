"""flood_forecast: the GloFAS dataflow, discharge ⨝ thresholds →
ensemble quantiles → per-cell classification, written as parquet.

Inputs follow FIXTURES.md F1/F3: ensemble members × lead days × 0.05°
cells of daily discharge, and one row of increasing 2/5/20-year
return-period thresholds per cell. Each cell gets a hydrograph shape
(a peak early, mid-horizon or late, a flat series, or a recession) and
thresholds placed against its peak so that every intensity, tendency
and peak-timing label occurs.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 51 members x 30 lead days x 2000 cells = 3.06 M rows: a 24 MB file
# that Spark reads in three splits, so every stage of the dataflow runs
# one task per local thread (see README.md).
MEMBERS = 51
STEPS = 30
GRID_ROWS = 40
GRID_COLS = 50
ISSUED = dt.date(2024, 6, 1)
SEV = 0.30
# Thresholds as multiples of each cell's peak ensemble median, by the
# intensity the cell is meant to reach (P, R, Y, G).
THRESHOLD_MULT = np.array(
    [[0.60, 0.75, 0.90], [0.70, 0.90, 3.0], [0.90, 3.0, 5.0], [3.0, 5.0, 8.0]]
)
LABEL_COLS = ("peak_step", "peak_timing", "tendency", "intensity")
STAT_COLS = ("min_dis", "q1_dis", "median_dis", "q3_dis", "max_dis")
PROB_COLS = ("p_above_2y", "p_above_5y", "p_above_20y")


def cells() -> tuple[np.ndarray, np.ndarray]:
    i, j = np.divmod(np.arange(GRID_ROWS * GRID_COLS), GRID_COLS)
    lat = np.round(5.725 - 0.05 * i, 3)
    lon = np.round(28.975 + 0.05 * j, 3)
    return lat, lon


def generate(seed: int, in_dir: str) -> dict:
    """Write discharge.parquet and thresholds.parquet; return the arrays
    the reference needs."""
    rng = np.random.default_rng(seed)
    lat, lon = cells()
    n = lat.size
    steps = np.arange(1, STEPS + 1)
    base = rng.uniform(50.0, 500.0, n)
    shape = rng.integers(0, 5, n)  # peak at 2 / 6 / 13, flat, recession
    peak_at = np.array([2, 6, 13, 7, 1])[shape]
    amp = np.where(shape < 3, rng.uniform(0.3, 0.8, n), 0.03)
    bump = np.exp(-(((steps[None, :] - peak_at[:, None]) / 2.0) ** 2))
    median = base[:, None] * (1.0 + amp[:, None] * bump)
    recession = 1.0 - 0.25 * (steps - 1) / (STEPS - 1)
    median[shape == 4] = base[shape == 4, None] * recession[None, :]
    spread = rng.uniform(0.05, 0.25, n)
    z = rng.standard_normal((MEMBERS, n, STEPS))
    dis = median[None] * (1.0 + spread[None, :, None] * z)  # member, cell, step

    intensity_target = rng.integers(0, 4, n)
    thresholds = median.max(axis=1)[:, None] * THRESHOLD_MULT[intensity_target]

    # Long form in GloFAS flattening order: number, step, latitude, longitude.
    num = np.repeat(np.arange(MEMBERS), STEPS * n)
    step_col = np.tile(np.repeat(steps, n), MEMBERS)
    cell_idx = np.tile(np.arange(n), MEMBERS * STEPS)
    flat = dis.transpose(0, 2, 1).reshape(-1)
    issued = np.full(num.size, ISSUED)
    valid = np.array([ISSUED + dt.timedelta(days=int(s)) for s in steps])
    os.makedirs(in_dir, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "number": pa.array(num, pa.int64()),
                "step": pa.array(step_col, pa.int64()),
                "latitude": lat[cell_idx],
                "longitude": lon[cell_idx],
                "issued_on": pa.array(issued, pa.date32()),
                "valid_for": pa.array(valid[step_col - 1], pa.date32()),
                "dis24": flat,
            }
        ),
        os.path.join(in_dir, "discharge.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "latitude": lat,
                "longitude": lon,
                "threshold_2y": thresholds[:, 0],
                "threshold_5y": thresholds[:, 1],
                "threshold_20y": thresholds[:, 2],
            }
        ),
        os.path.join(in_dir, "thresholds.parquet"),
    )
    return {"lat": lat, "lon": lon, "dis": dis, "thresholds": thresholds}


def reference_detailed(dis: np.ndarray, thresholds: np.ndarray) -> dict:
    """Per (cell, step) ensemble statistics over the member axis, with
    numpy's linear (type 7) quantiles — the definition DuckDB's
    ``quantile_cont`` uses."""
    q = np.quantile(dis, [0.0, 0.25, 0.5, 0.75, 1.0], axis=0)  # 5, cell, step
    out = dict(zip(STAT_COLS, q))
    for k, col in enumerate(PROB_COLS):
        out[col] = (dis >= thresholds[None, :, k, None]).mean(axis=0)
    return out


def reference_labels(det: dict) -> dict:
    """FIXTURES.md F4 rules, one label set per cell."""
    med = det["median_dis"]
    p2, p5, p20 = (det[c] for c in PROB_COLS)
    n, steps = med.shape
    control = med[:, 0]
    max_med, min_med = med.max(axis=1), med.min(axis=1)
    up, down = control * 1.10, control * 0.90
    tendency = np.where(
        max_med > up, "U", np.where((min_med <= down) & (max_med <= up), "D", "C")
    )
    mp2, mp5, mp20 = p2.max(axis=1), p5.max(axis=1), p20.max(axis=1)
    intensity = np.where(
        mp20 >= SEV, "P", np.where(mp5 >= SEV, "R", np.where(mp2 >= SEV, "Y", "G"))
    )
    cond = np.where(p20 >= SEV, 4, np.where(p5 >= SEV, 3, np.where(p2 >= SEV, 2, 1)))
    step_no = np.arange(1, steps + 1)
    peak = np.array(
        [max(zip(cond[c], med[c], -step_no))[2] * -1 for c in range(n)]
    )
    max2_start = p2[:, :10].max(axis=1)
    timing = np.where(
        np.isin(peak, (1, 2, 3)) & (max2_start >= SEV),
        "BB",
        np.where((peak > 10) & (max2_start < SEV), "GC", "GB"),
    )
    return {
        "peak_step": peak,
        "peak_timing": timing,
        "tendency": tendency,
        "intensity": intensity,
    }


def expected(gen: dict) -> dict:
    det = reference_detailed(gen["dis"], gen["thresholds"])
    return {"lat": gen["lat"], "lon": gen["lon"], "detailed": det,
            "labels": reference_labels(det)}


def label_mix(exp: dict) -> dict:
    mix = {}
    for col in ("intensity", "tendency", "peak_timing"):
        vals, counts = np.unique(exp["labels"][col], return_counts=True)
        mix[col] = dict(zip(vals.tolist(), counts.tolist()))
    return mix


def check(exp: dict, detailed, summary) -> list[str]:
    """Compare the program's outputs (pandas frames read back from its
    parquet) with the reference. Returns the failed checks."""
    errors = []
    lat, lon = exp["lat"], exp["lon"]
    n, steps = exp["detailed"]["median_dis"].shape
    cell_of = {(a, b): i for i, (a, b) in enumerate(zip(lat.tolist(), lon.tolist()))}

    if len(detailed) != n * steps:
        errors.append(f"detailed rows {len(detailed)} != cells*steps {n * steps}")
    ci = np.array(
        [cell_of.get(k, -1) for k in zip(detailed["latitude"], detailed["longitude"])]
    )
    si = detailed["step"].to_numpy() - 1
    ok = (ci >= 0) & (si >= 0) & (si < steps)
    if not ok.all():
        errors.append(f"{(~ok).sum()} detailed rows with unknown cell or step")
    ci, si = ci[ok], si[ok]
    if len(set(zip(ci.tolist(), si.tolist()))) != len(ci):
        errors.append("duplicate (cell, step) rows in detailed")
    for col in STAT_COLS + PROB_COLS:
        got = detailed[col].to_numpy(dtype=float)[ok]
        want = exp["detailed"][col][ci, si]
        bad = ~np.isclose(got, want, rtol=1e-9, atol=1e-12)
        if bad.any():
            errors.append(f"detailed {col}: {bad.sum()} values differ from reference")
    stats = detailed[list(STAT_COLS)].to_numpy(dtype=float)
    if not (np.diff(stats, axis=1) >= 0).all():
        errors.append("detailed: min <= q1 <= median <= q3 <= max violated")
    probs = detailed[["p_above_20y", "p_above_5y", "p_above_2y"]].to_numpy(dtype=float)
    if not ((probs >= 0).all() and (probs <= 1).all() and (np.diff(probs, axis=1) >= 0).all()):
        errors.append("detailed: 0 <= p20 <= p5 <= p2 <= 1 violated")

    labels = exp["labels"]
    want_cells = set(np.flatnonzero(labels["intensity"] != "G").tolist())
    got_ci = [cell_of.get(k, -1) for k in zip(summary["latitude"], summary["longitude"])]
    if sorted(got_ci) != sorted(want_cells):
        errors.append(
            f"summary cells: {len(got_ci)} rows, expected the {len(want_cells)} non-G cells"
        )
    for col in LABEL_COLS:
        got = summary[col].to_numpy()
        want = np.array([labels[col][c] if c >= 0 else None for c in got_ci])
        bad = got != want
        if bad.any():
            errors.append(f"summary {col}: {bad.sum()} cells differ from reference")
    return errors


class Pipeline:
    """One pass: load both tables, build the dataflow, write both outputs."""

    exhausted = False
    # Per-pass CPU falls steeply over the first two warm passes while the
    # JIT compiles Spark's code paths; warm passes 3-10 are counted, eight
    # of them because a pass varies by 10 % within a run.
    warmup = 2
    counted = 8

    def __init__(self, spark, in_dir: str, out_dir: str):
        self.spark, self.in_dir, self.out_dir = spark, in_dir, out_dir

    def run(self, span) -> dict:
        from data_pipelines_spark.operators.flood import flood_pipeline
        from data_pipelines_spark.sources.tables import load_table

        with span("sources.tables"):
            forecast = load_table(self.spark, self.in_dir, "discharge")
            thresholds = load_table(self.spark, self.in_dir, "thresholds")
        with span("operators.flood.build"):
            detailed, summary = flood_pipeline(forecast, thresholds)
        with span("operators.flood"):
            detailed.write.mode("overwrite").parquet(os.path.join(self.out_dir, "detailed"))
            summary.write.mode("overwrite").parquet(os.path.join(self.out_dir, "summary"))
        return {}

    def verify(self, exp: dict) -> list[str]:
        detailed = pq.read_table(os.path.join(self.out_dir, "detailed")).to_pandas()
        summary = pq.read_table(os.path.join(self.out_dir, "summary")).to_pandas()
        return check(exp, detailed, summary)

    def close(self) -> None:
        pass
