"""Spatial join: points (grid cells) ⨝ polygons (zones).

Reference J9 (`assets/deforestation/global_forest_watch.py:76-95,166`)
rasterizes basin polygons onto the pixel grid with geocube (GDAL);
semantically that is a point-in-polygon join between cell centers and
polygons, using the cell-center containment rule. The engine expresses
it in two stages (SURVEY.md §2.4 J9):

1. **Bucket prefilter** (pure relational): polygons are exploded onto a
   coarse grid of buckets covering their bbox; points hash to their
   bucket; an equi-join on the bucket key + a bbox range predicate
   bounds the candidate set. All JVM-side, broadcastable when the
   polygon side is small.
2. **Exact test**: even-odd ray casting as a JVM expression per
   candidate row (`points_in_rings_expr`), over rings parsed once per
   polygon on the build side (`wkt_rings_expr`) — no Python worker and
   no shapely/GDAL dependency, matching the rasterizer's cell-center
   rule. Points exactly on an edge follow the even-odd crossing
   convention (document, don't rely: real pipelines place cell centers
   off polygon edges). The numpy kernel below (`parse_wkt_rings`,
   `points_in_rings`) is the reference the expression is pinned
   against, verdict for verdict.

Scale: bucket size trades candidate-set size vs polygon duplication;
for z zones averaging b buckets each the build side is z·b rows —
broadcast for dimension-sized zone tables, shuffle-join on the bucket
key (well distributed) otherwise. The exact test touches only
candidates, ~(points in bbox) per zone.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_pipelines_spark.functions.text import let
from data_pipelines_spark.plans.parallelism import spread


_RING_RE = None  # compiled lazily so import stays cheap


def wkt_rings_expr(wkt: Column) -> Column:
    """Native-expression twin of :func:`parse_wkt_rings`:
    ``array<array<struct<x:double,y:double>>>`` — one inner array per
    parenthesized ring of a POLYGON/MULTIPOLYGON WKT. Both engines
    parse coordinate text with correctly-rounded decimal→binary
    conversion, so the doubles are bit-identical to the numpy parser's.
    Raises at evaluation, with the Python parser's messages, on WKT
    that is NULL or not a polygon (a LINESTRING would otherwise parse
    as a ring) and on WKT with no ring (``POLYGON EMPTY`` would
    otherwise match nothing, silently)."""

    def parse_pt(pt: Column) -> Column:
        xy = F.split(F.trim(pt), r"\s+")
        return F.struct(
            xy[0].cast("double").alias("x"), xy[1].cast("double").alias("y")
        )

    def fail(prefix: str) -> Column:
        head = F.substring(F.coalesce(wkt, F.lit("NULL")), 1, 40)
        return F.raise_error(F.concat(F.lit(prefix), head))

    def rings(bodies: Column) -> Column:
        return F.when(F.size(bodies) == 0, fail("no rings in WKT: ")).otherwise(
            F.transform(bodies, lambda b: F.transform(F.split(b, ","), parse_pt))
        )

    is_polygon = F.coalesce(wkt.rlike(r"(?i)^\s*(MULTI)?POLYGON"), F.lit(False))
    return F.when(
        ~is_polygon, fail("not a polygon WKT: ")
    ).otherwise(
        let(F.regexp_extract_all(wkt, F.lit(r"\(([^()]+)\)"), 1), rings)
    )


def points_in_rings_expr(rings: Column, px: Column, py: Column) -> Column:
    """Native-expression twin of :func:`points_in_rings`: even-odd
    ray-cast containment of (px, py) in the parsed ring array, as a
    boolean Column. The edge arithmetic — ``px < x1 + (py - y1) *
    (x2 - x1) / (y2 - y1)`` with horizontal edges skipped — is the
    identical IEEE sequence the numpy kernel runs, so the verdicts
    match bit-for-bit; the division is evaluated lazily (CASE WHEN)
    only on crossing edges.

    Cost model: higher-order ``aggregate`` is CodegenFallback, so this
    runs INTERPRETED at O(edges) per candidate row. That still beats
    shipping candidates to Python workers for a numpy ray cast at every
    polygon size measured, from 33 to 1025 vertices per basin over a
    40 000-pixel raster (the bucket prefilter keeps it to ~1.3
    candidates per pixel), so it is the engine's only exact test."""

    def ring_parity(ring: Column) -> Column:
        def step(acc: Column, i: Column) -> Column:
            p1 = F.element_at(ring, i)
            p2 = F.element_at(ring, i + 1)
            x1, y1 = p1.getField("x"), p1.getField("y")
            x2, y2 = p2.getField("x"), p2.getField("y")
            crossed = (y1 > py) != (y2 > py)
            hit = F.when(
                crossed, px < x1 + (py - y1) * (x2 - x1) / (y2 - y1)
            ).otherwise(F.lit(False))
            return acc != hit  # boolean != is XOR

        n_edges = F.size(ring) - 1
        return F.when(
            n_edges >= 1,
            F.aggregate(
                F.sequence(F.lit(1), n_edges), F.lit(False), step
            ),
        ).otherwise(F.lit(False))

    return F.aggregate(
        rings, F.lit(False), lambda acc, ring: acc != ring_parity(ring)
    )


def parse_wkt_rings(wkt: str) -> list[np.ndarray]:
    """Every ring of a WKT POLYGON or MULTIPOLYGON as (N, 2) arrays.

    Handles exterior rings, interior rings (holes), and multipolygon
    parts uniformly: each innermost parenthesized coordinate list is
    one ring, and containment below is the even-odd XOR over ALL rings
    — the same rule GDAL's rasterizer applies to HydroBASINS geometry
    with lakes (reference `global_forest_watch.py:84-95`). A point
    inside a hole crosses both the exterior and the hole ring an odd
    number of times, XORing back to outside.
    """
    global _RING_RE
    if _RING_RE is None:
        import re

        _RING_RE = re.compile(r"\(([^()]+)\)")
    head = wkt.strip().upper()
    if not (head.startswith("POLYGON") or head.startswith("MULTIPOLYGON")):
        raise ValueError(f"not a polygon WKT: {wkt[:40]}")
    rings = []
    for body in _RING_RE.findall(wkt):
        pts = [p.strip().split() for p in body.split(",")]
        rings.append(np.array([[float(x), float(y)] for x, y in pts], dtype="float64"))
    if not rings:
        raise ValueError(f"no rings in WKT: {wkt[:40]}")
    return rings


def parse_wkt_polygon(wkt: str) -> np.ndarray:
    """First (exterior) ring only — kept for callers that need the
    engine's own rectangular cell WKT (`functions/grid.py:cell_wkt`,
    reference `transforms.py:287-309`)."""
    return parse_wkt_rings(wkt)[0]


def points_in_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized even-odd ray casting: bool mask of points inside."""
    inside = np.zeros(len(px), dtype=bool)
    x1, y1 = ring[:-1, 0], ring[:-1, 1]
    x2, y2 = ring[1:, 0], ring[1:, 1]
    for i in range(len(x1)):
        if y1[i] == y2[i]:
            continue  # horizontal edge never crossed by a horizontal ray
        crosses = (y1[i] > py) != (y2[i] > py)
        if not crosses.any():
            continue
        x_at = x1[i] + (py - y1[i]) * (x2[i] - x1[i]) / (y2[i] - y1[i])
        inside ^= crosses & (px < x_at)
    return inside


def points_in_rings(
    px: np.ndarray, py: np.ndarray, rings: list[np.ndarray]
) -> np.ndarray:
    """Even-odd containment across all rings of a (multi)polygon:
    XOR of the per-ring crossing parities, so holes subtract and
    disjoint parts add."""
    inside = np.zeros(len(px), dtype=bool)
    for ring in rings:
        inside ^= points_in_ring(px, py, ring)
    return inside


def point_in_polygon_join(
    points: DataFrame,
    polygons: DataFrame,
    bucket_size: float,
    point_id: str = "point_id",
    x_col: str = "x",
    y_col: str = "y",
    poly_id: str = "id",
    wkt_col: str = "geometry",
    broadcast: bool | None = None,
    max_broadcast_zones: int = 100_000,
    max_broadcast_bytes: int = 64 * 1024 * 1024,
) -> DataFrame:
    """(point_id, zone_id) pairs for points contained in polygons.

    ``broadcast`` controls the candidate join strategy: True forces a
    broadcast of the exploded polygon-bucket build side (right for
    dimension-sized zone tables), False forces a shuffle join on the
    bucket key (right when zones × buckets would blow the driver —
    e.g. a fine bucket grid over millions of basins), and None (the
    default) decides from Catalyst's plan statistics — metadata only,
    NO job runs at plan-construction time (an eager ``count()`` here
    would execute the whole upstream plan once per call for any
    computed polygon frame). Scan-backed frames get exact file sizes;
    derived frames get Catalyst's (over)estimate, which conservatively
    falls back to the shuffle join. Callers that know their zone table
    (as the suite does) pass ``broadcast`` explicitly.

    The rings are parsed once per polygon with native expressions on
    the build side, and the even-odd test runs as a JVM expression per
    candidate row, so the plan has no Python stage. Verdicts are
    bit-identical to the numpy kernel (same IEEE edge arithmetic,
    pinned in tests/test_spatial_joins.py). A NULL, non-polygon or
    ring-less WKT raises (see :func:`wkt_rings_expr`). ``zone_id`` is
    a long whatever the type of ``poly_id``; the point id keeps its
    type (rasterize_zones passes a struct<x,y> content key).
    """
    if broadcast is None:
        stats = polygons._jdf.queryExecution().optimizedPlan().stats()
        row_count = stats.rowCount()
        if row_count.isDefined():
            broadcast = int(str(row_count.get())) <= max_broadcast_zones
        else:
            broadcast = int(str(stats.sizeInBytes())) <= max_broadcast_bytes

    # Parse rings once per polygon and derive the bbox from them in the
    # same projection.
    def with_bbox(rings: Column) -> Column:
        def bbox(pts: Column) -> Column:
            xs = F.transform(pts, lambda p: p.getField("x"))
            ys = F.transform(pts, lambda p: p.getField("y"))
            return F.struct(
                F.array_min(xs).alias("min_x"),
                F.array_min(ys).alias("min_y"),
                F.array_max(xs).alias("max_x"),
                F.array_max(ys).alias("max_y"),
            )

        return F.struct(
            rings.alias("rings"), let(F.flatten(rings), bbox).alias("bb")
        )

    polys = polygons.select(
        F.col(poly_id).alias("__zone_id"),
        let(wkt_rings_expr(F.col(wkt_col)), with_bbox).alias("__g"),
    ).select(
        "__zone_id",
        F.col("__g.rings").alias("__rings"),
        F.col("__g.bb.min_x").alias("min_x"),
        F.col("__g.bb.min_y").alias("min_y"),
        F.col("__g.bb.max_x").alias("max_x"),
        F.col("__g.bb.max_y").alias("max_y"),
    )

    # Explode each polygon onto every bucket its bbox covers.
    poly_buckets = polys.select(
        "*",
        F.explode(
            F.sequence(
                F.floor(F.col("min_x") / bucket_size),
                F.floor(F.col("max_x") / bucket_size),
            )
        ).alias("bx"),
    ).select(
        "*",
        F.explode(
            F.sequence(
                F.floor(F.col("min_y") / bucket_size),
                F.floor(F.col("max_y") / bucket_size),
            )
        ).alias("by"),
    )

    pts = points.select(
        F.col(point_id),
        F.col(x_col).alias("__px"),
        F.col(y_col).alias("__py"),
        F.floor(F.col(x_col) / bucket_size).alias("bx"),
        F.floor(F.col(y_col) / bucket_size).alias("by"),
    )
    if broadcast:
        # The ray-cast lambda is evaluated OUTSIDE whole-stage codegen
        # (higher-order functions interpret), so a narrow input would
        # serialize the per-candidate work onto one core. Widen the
        # POINT side before the broadcast join — the exchange then
        # carries narrow point rows, not candidates with ring arrays —
        # and join + exact filter run in that same widened stage.
        # spread() is a no-op at real scale (input already wide).
        pts = spread(pts)

    build = F.broadcast(poly_buckets) if broadcast else poly_buckets
    cand = pts.join(build, ["bx", "by"]).where(
        (F.col("__px") >= F.col("min_x"))
        & (F.col("__px") <= F.col("max_x"))
        & (F.col("__py") >= F.col("min_y"))
        & (F.col("__py") <= F.col("max_y"))
    )
    # Keep ONLY the columns the exact test reads: the bucket ids and
    # bbox columns are spent on the prefilter above, and leaving them in
    # would widen the skew re-spread below.
    cand = cand.select(point_id, "__zone_id", "__rings", "__px", "__py")

    if not broadcast:
        # Shuffle path: the join leaves candidates hash-partitioned by
        # (bx, by), and clustered points (a city bucket) or a
        # continent-sized polygon over them concentrate the exact test
        # into few tasks (measured: 100% of candidates in ONE
        # partition on a clustered fixture). Re-spread by
        # (zone, content-salt): the salt is derived from the point
        # coordinates — deterministic under task retry, the
        # plans/skew.py discipline — so any one zone's candidate set
        # splits ~salt_w ways. Explicit numPartitions keeps AQE from
        # re-coalescing the balance away.
        sc = points.sparkSession.sparkContext
        salt_w = max(16, sc.defaultParallelism)
        cand = cand.repartition(
            salt_w,
            F.col("__zone_id"),
            F.pmod(F.xxhash64(F.col("__px"), F.col("__py")), F.lit(salt_w)),
        )

    return cand.where(
        points_in_rings_expr(F.col("__rings"), F.col("__px"), F.col("__py"))
    ).select(point_id, F.col("__zone_id").cast("long").alias("zone_id"))


def rasterize_zones(
    pixels: DataFrame,
    zones: DataFrame,
    bucket_size: float,
    x_col: str = "x",
    y_col: str = "y",
    zone_id: str = "id",
    wkt_col: str = "geometry",
) -> DataFrame:
    """Assign each pixel (cell center) its containing zone id — the
    relational equivalent of the reference's geocube rasterization
    (`global_forest_watch.py:84-95`). Pixels in no zone are dropped;
    overlapping zones resolve to the smallest id (deterministic).

    The point key for the join-back is the pixel's own (x, y) pair —
    content-derived, so it is identical under task retry and however
    many times the lineage is re-evaluated. (A synthetic
    ``monotonically_increasing_id`` here would be the retry-unstable
    shuffle-key hazard `plans/skew.py` documents: the pixel frame is
    evaluated on both sides of the join-back, and a recomputed task
    could hand the same pixel two different ids.) Duplicate (x, y)
    rows — e.g. a per-(pixel, year) long form — are deduplicated before
    the spatial test and each receives the same zone, which is also
    less exact-containment work than testing every duplicate."""
    pts = pixels.select(
        F.col(x_col).alias("x"), F.col(y_col).alias("y")
    ).distinct()
    pairs = point_in_polygon_join(
        pts.select(F.struct("x", "y").alias("point_id"), "x", "y"),
        zones,
        bucket_size,
        poly_id=zone_id,
        wkt_col=wkt_col,
    )
    best = pairs.groupBy("point_id").agg(F.min("zone_id").alias(zone_id))
    return pixels.join(
        best,
        (pixels[x_col] == best["point_id.x"]) & (pixels[y_col] == best["point_id.y"]),
        "inner",
    ).drop("point_id")
