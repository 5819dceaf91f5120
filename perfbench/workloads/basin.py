"""basin_treeloss: the Global Forest Watch pipeline — rasterize basins
onto the loss-year raster, dense per-basin yearly loss counts, and the
block-coarsened yearly loss masks.

Inputs follow FIXTURES.md F5/F6: a long-form ``lossyear`` raster (one
row per pixel, 0 = no loss, 1..22 = loss year − 2000) and HydroBASINS-
shaped basins. The basins are the cells of a jittered lattice whose
shared edges are zig-zag polylines, so they are many-vertex polygons
that tile the raster exactly: every pixel centre lies in one basin.
Some basins have no loss at all, so the dense output has zero rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NX, NY = 200, 200          # pixels
RES = 0.001                # degrees per pixel
X0, Y0 = 20.0, -5.0        # south-west corner of the raster
BX, BY = 5, 5              # basins per row / column
SEG = 8                    # segments per basin side: 4*SEG+1 vertices
BUCKET = 0.08              # prefilter bucket size, degrees
BLOCK = 0.04               # coarsen block size, degrees
YEARS = 22
SAMPLE_BASINS = 8


def _edge(p: np.ndarray, q: np.ndarray, rng, jitter: float) -> np.ndarray:
    """SEG+1 points from p to q, interior points pushed sideways."""
    t = np.linspace(0.0, 1.0, SEG + 1)[:, None]
    pts = p + t * (q - p)
    if jitter:
        d = q - p
        normal = np.array([-d[1], d[0]]) / np.hypot(*d)
        # Tapered towards the corners, so that edges meeting there
        # cannot cross.
        taper = np.sin(np.pi * t[1:-1])
        pts[1:-1] += normal * taper * rng.uniform(-jitter, jitter, (SEG - 1, 1))
    return pts


def basin_rings(rng) -> list[np.ndarray]:
    """Closed vertex rings (counter-clockwise) of the BX*BY basins."""
    w, h = NX * RES / BX, NY * RES / BY
    gx = X0 + w * np.arange(BX + 1)
    gy = Y0 + h * np.arange(BY + 1)
    corners = np.stack(np.meshgrid(gx, gy, indexing="ij"), axis=-1)
    inner = (slice(1, BX), slice(1, BY))
    corners[inner] += rng.uniform(-0.15, 0.15, corners[inner].shape) * [w, h]
    horiz = {}  # edge from corner (i, j) to (i+1, j)
    vert = {}   # edge from corner (i, j) to (i, j+1)
    for i in range(BX):
        for j in range(BY + 1):
            border = j in (0, BY)
            horiz[i, j] = _edge(corners[i, j], corners[i + 1, j], rng, 0 if border else 0.15 * h)
    for i in range(BX + 1):
        for j in range(BY):
            border = i in (0, BX)
            vert[i, j] = _edge(corners[i, j], corners[i, j + 1], rng, 0 if border else 0.15 * w)
    rings = []
    for i in range(BX):
        for j in range(BY):
            ring = np.concatenate([
                horiz[i, j][:-1],
                vert[i + 1, j][:-1],
                horiz[i, j + 1][::-1][:-1],
                vert[i, j][::-1],
            ])
            rings.append(ring)
    return rings


def wkt(ring: np.ndarray) -> str:
    # repr() round-trips every double exactly.
    return "POLYGON ((" + ", ".join(f"{x!r} {y!r}" for x, y in ring.tolist()) + "))"


def pixel_centres() -> tuple[np.ndarray, np.ndarray]:
    i, j = np.meshgrid(np.arange(NX), np.arange(NY), indexing="ij")
    return (X0 + (i.ravel() + 0.5) * RES, Y0 + (j.ravel() + 0.5) * RES)


def inside(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd ray cast of points against one closed ring."""
    out = np.zeros(px.size, dtype=bool)
    for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
        if y1 == y2:
            continue
        cross = (y1 > py) != (y2 > py)
        out ^= cross & (px < x1 + (py - y1) * (x2 - x1) / (y2 - y1))
    return out


def generate(seed: int, in_dir: str) -> dict:
    rng = np.random.default_rng(seed)
    rings = basin_rings(rng)
    px, py = pixel_centres()
    # Loss rate per basin region: a fifth of the raster has none.
    rate_cell = np.where(rng.random((BX, BY)) < 0.2, 0.0, rng.uniform(0.05, 0.5, (BX, BY)))
    bx = np.minimum(((px - X0) / (NX * RES / BX)).astype(int), BX - 1)
    by = np.minimum(((py - Y0) / (NY * RES / BY)).astype(int), BY - 1)
    loss = rng.random(px.size) < rate_cell[bx, by]
    lossyear = np.where(loss, rng.integers(1, YEARS + 1, px.size), 0)
    ids = 1070000000 + np.arange(len(rings), dtype=np.int64) * 10
    os.makedirs(in_dir, exist_ok=True)
    pq.write_table(
        pa.table({"x": px, "y": py, "lossyear": pa.array(lossyear, pa.int64())}),
        os.path.join(in_dir, "lossyear.parquet"),
    )
    area = rng.uniform(50.0, 500.0, len(rings))
    pq.write_table(
        pa.table({
            "id": ids,
            "downstream_id": np.roll(ids, -1),
            "basin_area": area,
            "upstream_area": area * rng.uniform(1.0, 20.0, len(rings)),
            "geometry": [wkt(r) for r in rings],
        }),
        os.path.join(in_dir, "basins.parquet"),
    )
    return {"rings": rings, "ids": ids, "px": px, "py": py, "lossyear": lossyear,
            "sample": rng.choice(len(rings), SAMPLE_BASINS, replace=False)}


def expected(gen: dict) -> dict:
    ly = gen["lossyear"]
    per_basin = {}
    for k in gen["sample"]:
        mask = inside(gen["px"], gen["py"], gen["rings"][k])
        per_basin[int(gen["ids"][k])] = np.bincount(ly[mask], minlength=YEARS + 1)[1:]
    return {
        "basins": len(gen["rings"]),
        "ids": gen["ids"],
        "loss_pixels": int((ly > 0).sum()),
        "per_year": np.bincount(ly, minlength=YEARS + 1)[1:],
        "per_basin": per_basin,
        "pixels": ly.size,
    }


def check(exp: dict, treeloss, coarse) -> list[str]:
    errors = []
    if len(treeloss) != exp["basins"] * YEARS:
        errors.append(f"treeloss rows {len(treeloss)} != basins*22 {exp['basins'] * YEARS}")
    total = int(treeloss["loss_incidents"].sum())
    if total != exp["loss_pixels"]:
        errors.append(f"sum of loss_incidents {total} != loss pixels {exp['loss_pixels']}")
    for basin_id, want in exp["per_basin"].items():
        rows = treeloss[treeloss["id"] == basin_id]
        got = np.zeros(YEARS, dtype=np.int64)
        years = rows["year"].to_numpy() - 2001
        if len(rows) != YEARS or not ((years >= 0) & (years < YEARS)).all():
            errors.append(f"basin {basin_id}: {len(rows)} rows, years {sorted(years + 2001)}")
            continue
        got[years] = rows["loss_incidents"].to_numpy()
        if not (got == want).all():
            errors.append(f"basin {basin_id}: yearly counts differ from the ray cast")
    per_year = np.zeros(YEARS, dtype=np.int64)
    years = coarse["year"].to_numpy()
    ok = (years >= 1) & (years <= YEARS)
    if not ok.all():
        errors.append("coarsened masks hold years outside 1..22")
    np.add.at(per_year, years[ok] - 1, coarse["mask_sum"].to_numpy()[ok])
    if not (per_year == exp["per_year"]).all():
        errors.append("coarsened yearly totals differ from numpy's per-year counts")
    return errors


class Pipeline:
    """One pass: load both tables, zone the raster, write the dense
    per-basin counts and the coarsened yearly masks."""

    exhausted = False
    # Per-pass CPU falls steeply over the first warm passes while the JIT
    # compiles Spark's planner; warm passes 5-8 are counted.
    warmup = 4
    counted = 4

    def __init__(self, spark, in_dir: str, out_dir: str):
        self.spark, self.in_dir, self.out_dir = spark, in_dir, out_dir

    def run(self, span) -> dict:
        from data_pipelines_spark.operators.spatial import rasterize_zones
        from data_pipelines_spark.operators.zonal import (
            coarsen_sum,
            treeloss_per_basin,
            yearly_loss_masks,
        )
        from data_pipelines_spark.sources.tables import load_table

        out = self.out_dir
        with span("sources.tables"):
            raster = load_table(self.spark, self.in_dir, "lossyear")
            basins = load_table(self.spark, self.in_dir, "basins")
        with span("operators.spatial.build"):
            zoned = rasterize_zones(raster, basins, BUCKET)
        if span.trace:
            # Materialize the zoning on its own so that the
            # point-in-polygon join's execution is attributed to it.
            with span("operators.spatial"):
                zoned.write.mode("overwrite").parquet(os.path.join(out, "zoned"))
            zoned = self.spark.read.parquet(os.path.join(out, "zoned"))
        with span("operators.zonal"):
            treeloss_per_basin(zoned, basins, RES).write.mode("overwrite").parquet(
                os.path.join(out, "treeloss"))
            coarsen_sum(
                yearly_loss_masks(raster), BLOCK, BLOCK, value_col="mask", extra_keys=("year",)
            ).write.mode("overwrite").parquet(os.path.join(out, "coarse"))
        return {"pixels": NX * NY}

    def verify(self, exp: dict) -> list[str]:
        treeloss = pq.read_table(os.path.join(self.out_dir, "treeloss")).to_pandas()
        coarse = pq.read_table(os.path.join(self.out_dir, "coarse")).to_pandas()
        return check(exp, treeloss, coarse)

    def close(self) -> None:
        pass
