"""Geospatial operator queries: spatial join (J9), combined thresholds
(J5), haversine math (F10) — driven through the TPC-H tables with
synthesized coordinates so DuckDB can oracle them exactly.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from data_pipelines_spark.operators.flood import combine_thresholds
from data_pipelines_spark.operators.spatial import point_in_polygon_join
from data_pipelines_spark.session import tune
from data_pipelines_spark.sources.tables import load_table
from data_pipelines_spark.suite._registry import make_registry

QUERIES, ORACLES, register = make_registry()


def _dec(col, p=3):
    return F.round(col, p).cast(f"decimal(12,{p})").cast("string")


@register(
    "spatial_join_zones",
    """
    SELECT c.c_custkey AS point_id, CAST(n.n_nationkey AS BIGINT) AS zone_id
    FROM customer c
    JOIN nation n
      ON (c.c_custkey % 50) + 0.5  > (n.n_nationkey % 5) * 10
     AND (c.c_custkey % 50) + 0.5  < (n.n_nationkey % 5) * 10 + 8
     AND ((c.c_custkey * 7) % 50) + 0.5 > FLOOR(n.n_nationkey / 5) * 10
     AND ((c.c_custkey * 7) % 50) + 0.5 < FLOOR(n.n_nationkey / 5) * 10 + 6
    """,
)
def spatial_join_zones(spark, sf_dir):
    """J9: point-in-polygon join — bucket prefilter + exact ray casting
    (operators/spatial.py). Zones are synthesized rectangles
    (one per nation) so the oracle can state containment arithmetically;
    the Spark side runs the *general* polygon path on their WKT."""
    tune(spark)
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")

    min_x = (F.col("n_nationkey") % 5).cast("double") * 10.0
    min_y = F.floor(F.col("n_nationkey") / 5).cast("double") * 10.0
    max_x, max_y = min_x + 8.0, min_y + 6.0
    sp, comma = F.lit(" "), F.lit(",")
    wkt = F.concat(
        F.lit("POLYGON (("),
        _dec(min_x), sp, _dec(min_y), comma,
        _dec(min_x), sp, _dec(max_y), comma,
        _dec(max_x), sp, _dec(max_y), comma,
        _dec(max_x), sp, _dec(min_y), comma,
        _dec(min_x), sp, _dec(min_y),
        F.lit("))"),
    )
    zones = nation.select(
        F.col("n_nationkey").cast("long").alias("id"), wkt.alias("geometry")
    )
    points = cust.select(
        F.col("c_custkey").alias("point_id"),
        ((F.col("c_custkey") % 50) + 0.5).cast("double").alias("x"),
        (((F.col("c_custkey") * 7) % 50) + 0.5).cast("double").alias("y"),
    )
    # zones is the nation dimension (25 rows): known broadcast-safe.
    return point_in_polygon_join(points, zones, bucket_size=10.0, broadcast=True)


@register(
    "combined_thresholds",
    """
    WITH t2 AS (
        SELECT ROUND(CAST(p_partkey AS DOUBLE), 3) AS latitude,
               ROUND(CAST(0.025 AS DOUBLE), 3)     AS longitude,
               ROUND(p_retailprice % 40, 0) + 5    AS threshold_2y
        FROM part),
    t5 AS (
        SELECT ROUND(CAST(p_partkey AS DOUBLE), 3) AS latitude,
               ROUND(CAST(0.025 AS DOUBLE), 3)     AS longitude,
               ROUND(p_retailprice % 40, 0) + 15   AS threshold_5y
        FROM part),
    t20 AS (
        SELECT ROUND(CAST(p_partkey AS DOUBLE), 3) AS latitude,
               ROUND(CAST(0.025 AS DOUBLE), 3)     AS longitude,
               ROUND(p_retailprice % 40, 0) + 30   AS threshold_20y
        FROM part)
    SELECT t2.latitude, t2.longitude, threshold_2y, threshold_5y, threshold_20y
    FROM t2
    JOIN t5  ON t2.latitude = t5.latitude  AND t2.longitude = t5.longitude
    JOIN t20 ON t2.latitude = t20.latitude AND t2.longitude = t20.longitude
    """,
)
def combined_thresholds(spark, sf_dir):
    """J5/O1: the reference's three per-return-period tables merged into
    one per-cell row by iterative inner joins on the rounded grid key
    (`rp_thresholds.py:108-131`)."""
    tune(spark)
    part = load_table(spark, sf_dir, "part")

    def tbl(offset: int, name: str):
        return part.select(
            F.col("p_partkey").cast("double").alias("latitude"),
            F.lit(0.025).cast("double").alias("longitude"),
            (F.round(F.col("p_retailprice") % 40, 0) + offset).alias(name),
        )

    return combine_thresholds(
        tbl(5, "threshold_2y"), tbl(15, "threshold_5y"), tbl(30, "threshold_20y")
    )


# F10 haversine coverage lives in suite/advanced.py
# (customer_scalar_suite) since the round-2 registry trim; the
# haversine_km kernel itself is unchanged in functions/geo.py.


_RASTER_SQL = """
    WITH buckets AS (
        SELECT t.i,
               CAST(COALESCE(e.s, 0) % 3000 AS BIGINT) AS val,
               CAST(t.i // 8 AS BIGINT) AS r,
               CAST(t.i % 8 AS BIGINT) AS c,
               50.0 - 0.5 * (t.i // 8) AS lat,
               10.0 + 0.25 * (t.i % 8) AS lon
        FROM range(0, 48) t(i)
        LEFT JOIN (
            SELECT event_id % 48 AS b, SUM(event_id) AS s
            FROM events GROUP BY 1
        ) e ON t.i = e.b
    )
    SELECT 'tiff' AS fmt, COUNT(*) AS n_cells,
           CAST(SUM(val) AS BIGINT) AS val_sum,
           ROUND(SUM(val * lon), 6) AS pos_weighted
    FROM buckets
    UNION ALL
    SELECT 'netcdf', COUNT(*), CAST(SUM(val) AS BIGINT),
           ROUND(SUM(val * lon), 6)
    FROM buckets WHERE i <> 13
    UNION ALL
    SELECT 'zarr', COUNT(*), CAST(SUM(v) AS BIGINT), ROUND(SUM(v * lon), 6)
    FROM (
        SELECT CASE WHEN r >= 4 AND c >= 6 THEN -1 ELSE val END AS v, lon
        FROM buckets
    )
    UNION ALL
    SELECT 'grib', COUNT(*), CAST(SUM(val + 7 * m) AS BIGINT),
           ROUND(SUM((val + 7 * m) * lon + m * lat), 6)
    FROM buckets, range(0, 2) mm(m)
    WHERE NOT (m = 1 AND i = 42)
    UNION ALL
    SELECT 'grib1', COUNT(*), CAST(SUM(val + 1 + 3 * m) AS BIGINT),
           ROUND(SUM((val + 1 + 3 * m) * lon + m * lat), 6)
    FROM buckets, range(0, 2) mm(m)
    WHERE NOT (m = 0 AND i = 7)
    UNION ALL
    SELECT 'zarr3', COUNT(*), CAST(SUM(v) AS BIGINT),
           ROUND(SUM(v * lon), 6)
    FROM (
        SELECT CASE WHEN r BETWEEN 2 AND 3 AND c BETWEEN 4 AND 5
                    THEN -2 ELSE val END AS v, lon
        FROM buckets
    )
    UNION ALL
    SELECT 'grib_cx', COUNT(*), CAST(SUM(val + 2 + 5 * m) AS BIGINT),
           ROUND(SUM((val + 2 + 5 * m) * lon + m * lat), 6)
    FROM buckets, range(0, 2) mm(m)
    WHERE NOT (m = 1 AND i = 21)
    UNION ALL
    SELECT 'grib_png', COUNT(*), CAST(SUM(val + 3 + 9 * m) AS BIGINT),
           ROUND(SUM((val + 3 + 9 * m) * lon + m * lat), 6)
    FROM buckets, range(0, 2) mm(m)
    WHERE NOT (m = 0 AND i = 33)
    UNION ALL
    SELECT 'grib_mvm', COUNT(*), CAST(SUM(val + 6 + 7 * m) AS BIGINT),
           ROUND(SUM((val + 6 + 7 * m) * lon + m * lat), 6)
    FROM buckets, range(0, 2) mm(m)
    WHERE NOT (m = 0 AND (i = 11 OR i BETWEEN 14 AND 27))
    UNION ALL
    -- grib_idx: members 1 and 3 of a FOUR-member file, chosen via the
    -- .idx sidecar's ENS= field and range-read selectively — the kept
    -- members' values restated directly
    SELECT 'grib_idx', COUNT(*), CAST(SUM(val + 11 * m) AS BIGINT),
           ROUND(SUM((val + 11 * m) * lon + m * lat), 6)
    FROM buckets, range(0, 4) mm(m)
    WHERE m IN (1, 3)
    UNION ALL
    SELECT 'tiff_f', COUNT(*), CAST(SUM(val + 0.25) AS BIGINT),
           ROUND(SUM((val + 0.25) * lon), 6)
    FROM buckets
    UNION ALL
    SELECT 'tiff_ov', COUNT(*), CAST(SUM(val) AS BIGINT),
           ROUND(SUM(val * lon), 6)
    FROM buckets WHERE r % 2 = 0 AND c % 2 = 0
"""


@register("raster_roundtrip", _RASTER_SQL)
def raster_roundtrip(spark, sf_dir):
    """S4-S7 through the hash gate: one deterministic 6x8 grid, derived
    from the events table (per-bucket event_id sums mod 3000, densified
    over all 48 buckets), is encoded as REAL files in all four raster
    formats (`sources/raster_encode.py`), read back by the REAL
    dependency-free parsers (`sources/raster.py`), flattened to
    long form, and aggregated per format — so the DuckDB oracle, which
    re-derives the grid straight from events, hash-checks the full
    encode -> parse -> grid_to_long_form path for each format. Each
    format exercises its own decode hazard:

    - ``tiff``: int32 GeoTIFF in the TILE-organized (COG) layout,
      DEFLATE-compressed behind the horizontal-differencing predictor
      (modular diff/cumsum must invert exactly) —
      IFD walk, 3x4 tiles over the 8x6 image with zero-padded edge
      tiles to crop, geotransform (origin 10/50, steps 0.25/0.5 —
      dyadic, so coordinates are bit-exact doubles) — PLUS a chained
      2x overview IFD whose decode is its own ``tiff_ov`` tier: the
      reduced level must contain exactly the even-row/even-column
      cells with the geotransform scaled by the decimation factor
      (overview lons land on the same dyadic grid, so the weighted
      sum is still exact).
    - ``netcdf``: classic CDF-1 with a `_FillValue` cell at bucket 13
      — CF masking must DROP exactly that cell (47 rows).
    - ``zarr``: v2 blosc(LZ4+shuffle) chunks (2x2) in F-ORDER behind a numcodecs
      ``delta`` filter (diff stream over the F-order element
      sequence — exact here because the values are integers in f8),
      with the (2,3) chunk omitted — the reader must invert the
      filter, transpose the layout, and materialize rows 4-5 x
      cols 6-7 as fill -1.
    - ``grib``: two ensemble messages, 12-bit simple packing (bit
      fields crossing byte boundaries, per-message reference value),
      member 1 carrying a section-6 BITMAP hole at bucket 42 (95 cells
      survive) and +7 offset so the members differ.
    - ``grib1``: the same grid through GRIB EDITION 1 — IBM-float
      reference values, millidegree coordinates, ECMWF local-def-1
      member numbers, and a GRIB1 bitmap hole at bucket 7 in member 0
      (+1/+4 offsets keep the tiers' sums distinct).
    - ``zarr3``: the grid as a SHARDED Zarr v3 store (zarr.json,
      ``sharding_indexed``: 4x4 shards holding 2x2 gzip inner chunks
      behind a crc32c-checked binary index; inner chunk (1,2) omitted
      → rows 2-3 x cols 4-5 read as fill -2).
    - ``grib_cx``: the same two-member grid through data template 5.3
      (COMPLEX packing with second-order spatial differencing — the
      encoding operational ECMWF products use): per-group references,
      variable-width fields, ragged 7-run groups, sign-magnitude
      descriptors, and a bitmap hole at bucket 21 in member 1 (+2/+7
      offsets).
    - ``grib_png``: the same two-member grid through data template
      5.41 (PNG packing — the field as a 16-bit grayscale PNG via the
      engine's own stdlib-zlib PNG kernel; bitmapped member packs
      present points as an Nx1 image, hole at bucket 33 in member 0,
      +3/+12 offsets).
    - ``grib_mvm``: template 5.3 again but with MISSING-VALUE
      MANAGEMENT (octet 23 = 1) instead of a bitmap: member 0 carries
      an isolated in-group all-ones pattern (bucket 11) AND a 14-cell
      run spanning two entire 7-groups (reference-width patterns with
      the gref-bits collision rules) — the differencing chain must
      skip the holes (+6/+13 offsets).
    - ``tiff_f``: the +0.25-shifted grid as float32 behind
      PREDICTOR=3 (the TechNote-3 floating-point predictor:
      byte-plane split + byte differencing) over DEFLATE tiles.
    - ``grib_idx`` (r10): a FOUR-member file read SELECTIVELY through
      its wgrib2-style ``.idx`` sidecar (`sources/gribidx.py`) —
      members 1 and 3 chosen from the idx's ``ENS=`` field and
      byte-range seek+decoded; the hash certifies the idx offsets,
      the range reads, and that unselected members never surface
      (the NOMADS fetch-a-slice-of-a-multi-GB-archive shape).

    ``pos_weighted`` multiplies every value by its coordinate (and
    member by latitude), so a transposed axis, flipped scan order, or
    off-by-one cell placement breaks the hash, not just the sum. All
    terms are dyadic rationals well under 2^53 — bit-identical doubles
    on both engines, no tolerance.

    The 48-row collect that seeds the grid is bounded by construction
    (one row per bucket), the same dispensation as the k-centroid
    collect in `operators/similarity.py`. At 100 TB this shape runs
    one encode task per tile via `operators/taskmap.py`; here the tile
    is deliberately small so the oracle can replay it.

    Reference parity: ingestion io_managers
    (`/root/reference/data_pipelines/resources/io_managers.py:103-223`)
    and the COG write-back in
    (`assets/sentinel/preprocessing.py:56-133`), re-expressed as
    encode/parse kernels plus Spark-side flattening.
    """
    import os
    import shutil
    import tempfile

    import numpy as np

    from data_pipelines_spark.sources.raster import (
        read_geotiff,
        read_grib_ensemble,
        read_netcdf_grid,
        read_zarr_grid,
    )
    from data_pipelines_spark.sources.raster_encode import (
        encode_geotiff,
        encode_grib1,
        encode_grib2,
        encode_netcdf,
        write_zarr_store,
    )

    tune(spark)
    events = load_table(spark, sf_dir, "events")
    agg = (
        events.groupBy((F.col("event_id") % 48).alias("i"))
        .agg(F.sum("event_id").alias("s"))
        .collect()  # bounded: at most 48 rows by construction
    )
    sums = {int(r["i"]): int(r["s"]) for r in agg}
    vals = np.array(
        [sums.get(i, 0) % 3000 for i in range(48)], dtype="f8"
    ).reshape(6, 8)
    lats = 50.0 - 0.5 * np.arange(6)
    lons = 10.0 + 0.25 * np.arange(8)

    tmp = tempfile.mkdtemp(prefix="raster_roundtrip_")
    try:
        tif = os.path.join(tmp, "g.tif")
        with open(tif, "wb") as f:
            f.write(
                encode_geotiff(
                    vals.astype("<i4"),
                    origin_x=10.0, origin_y=50.0, pixel_w=0.25, pixel_h=0.5,
                    tile=(3, 4),  # tile-organized: the COG layout, with
                    # zero-padded edge tiles the reader must crop
                    overviews=(2,),
                    compression="deflate", predictor=True,
                )
            )

        nc_vals = vals.copy()
        nc_vals[1, 5] = -999.0  # bucket 13 -> _FillValue, dropped on read
        nc = os.path.join(tmp, "g.nc")
        with open(nc, "wb") as f:
            f.write(
                encode_netcdf(
                    {"lat": 6, "lon": 8},
                    {
                        "lat": (("lat",), lats, {}),
                        "lon": (("lon",), lons, {}),
                        "dis24": (("lat", "lon"), nc_vals,
                                  {"_FillValue": -999.0}),
                    },
                )
            )

        store = os.path.join(tmp, "g.zarr")
        write_zarr_store(
            # blosc (numcodecs' v2 default: LZ4 + byte-shuffle inside
            # the frame, sources/blosc.py) — the r9 codec rides the
            # same hash gate as the rest of the tier; zlib/gzip/bz2/
            # lzma stay unit-covered
            store, "dis24", vals, {"lat": lats, "lon": lons},
            chunks=(2, 2), compressor="blosc", fill_value=-1.0,
            omit_chunks={(2, 3)},  # rows 4-5 x cols 6-7 -> fill
            order="F", filters=[{"id": "delta", "dtype": "<f8"}],
        )

        m1 = vals + 7.0
        m1[5, 2] = np.nan  # bucket 42 -> section-6 bitmap hole
        grib = os.path.join(tmp, "g.grib2")
        with open(grib, "wb") as f:
            f.write(
                encode_grib2(
                    [(0, vals), (1, m1)],
                    lat0=50.0, lon0=10.0, dlat=0.5, dlon=0.25, nbits=12,
                )
            )

        store3 = os.path.join(tmp, "g3.zarr")
        write_zarr_store(
            store3, "dis24", vals, {"lat": lats, "lon": lons},
            chunks=(2, 2), shards=(4, 4), compressor="gzip",
            fill_value=-2.0, omit_chunks={(1, 2)},  # rows 2-3 x cols 4-5
            zarr_format=3,
        )

        cx1 = vals + 7.0
        cx1[2, 5] = np.nan  # bucket 21 -> bitmap hole in member 1
        grib_cx = os.path.join(tmp, "g_cx.grib2")
        with open(grib_cx, "wb") as f:
            f.write(
                encode_grib2(
                    [(0, vals + 2.0), (1, cx1)],
                    lat0=50.0, lon0=10.0, dlat=0.5, dlon=0.25,
                    packing="complex_sd", group_len=7,
                )
            )

        mv0 = vals + 6.0
        # bucket 11 = isolated in-group missing pattern; 14-27 = a run
        # covering two ENTIRE 7-groups (reference-width patterns) plus
        # partial neighbors — the MVM encodings a bitmap never makes
        mv0.flat[11] = np.nan
        mv0.flat[14:28] = np.nan
        grib_mvm = os.path.join(tmp, "g_mvm.grib2")
        with open(grib_mvm, "wb") as f:
            f.write(
                encode_grib2(
                    [(0, mv0), (1, vals + 13.0)],
                    lat0=50.0, lon0=10.0, dlat=0.5, dlon=0.25,
                    packing="complex_sd", group_len=7, missing="mvm",
                )
            )

        pm0 = vals + 3.0
        pm0[4, 1] = np.nan  # bucket 33 -> bitmap hole in member 0
        grib_png = os.path.join(tmp, "g_png.grib2")
        with open(grib_png, "wb") as f:
            f.write(
                encode_grib2(
                    [(0, pm0), (1, vals + 12.0)],
                    lat0=50.0, lon0=10.0, dlat=0.5, dlon=0.25,
                    nbits=12, packing="png",
                )
            )

        # grib_idx tier (r10): a FOUR-member file with a wgrib2-style
        # .idx sidecar; members 1 and 3 are chosen from the idx's ENS=
        # field and range-read selectively (sources/gribidx.py) — the
        # NOMADS fetch-two-members-of-a-multi-GB-file shape. The hash
        # certifies the idx offsets, the byte-range seek+decode, and
        # that unselected members never surface.
        from data_pipelines_spark.sources.gribidx import (
            build_grib_index,
            read_grib_selective,
        )

        grib_idx = os.path.join(tmp, "g_idx.grib2")
        with open(grib_idx, "wb") as f:
            f.write(
                encode_grib2(
                    [(m, vals + 11.0 * m) for m in range(4)],
                    lat0=50.0, lon0=10.0, dlat=0.5, dlon=0.25, nbits=12,
                )
            )
        with open(grib_idx + ".idx", "w") as f:
            f.write(build_grib_index(grib_idx))
        # localCheckpoint: unlike the grid readers (which materialize
        # via pandas at construction), the selective read is lazy —
        # eager-checkpoint it while the temp files still exist
        grib_idx_df = read_grib_selective(
            spark, [grib_idx], select=lambda e: e["member"] in (1, 3)
        ).localCheckpoint(eager=True)

        tif_f = os.path.join(tmp, "g_f.tif")
        with open(tif_f, "wb") as f:
            f.write(
                encode_geotiff(
                    (vals + 0.25).astype("<f4"),
                    origin_x=10.0, origin_y=50.0, pixel_w=0.25, pixel_h=0.5,
                    tile=(3, 4),
                    compression="deflate", predictor=3,
                )
            )

        g1m0 = vals + 1.0
        g1m0[0, 7] = np.nan  # bucket 7 -> GRIB1 bitmap hole in member 0
        grib1 = os.path.join(tmp, "g.grib1")
        with open(grib1, "wb") as f:
            f.write(
                encode_grib1(
                    [(0, g1m0), (1, vals + 4.0)],
                    lat0=50.0, lon0=10.0, dlat=0.5, dlon=0.25, nbits=12,
                )
            )

        def norm(df, fmt, val_col, lat_col, lon_col, member_col=None):
            member = (
                F.col(member_col).cast("double")
                if member_col
                else F.lit(0.0)
            )
            return df.select(
                F.lit(fmt).alias("fmt"),
                F.col(val_col).alias("val"),
                F.col(lat_col).alias("lat"),
                F.col(lon_col).alias("lon"),
                member.alias("member"),
            )

        long_form = (
            norm(read_geotiff(spark, tif, value_col="val"),
                 "tiff", "val", "y", "x")
            .unionByName(norm(read_netcdf_grid(spark, nc, "dis24"),
                              "netcdf", "dis24", "lat", "lon"))
            .unionByName(norm(read_zarr_grid(spark, store, "dis24"),
                              "zarr", "dis24", "lat", "lon"))
            .unionByName(norm(read_grib_ensemble(spark, grib,
                                                 value_var="val"),
                              "grib", "val", "latitude", "longitude",
                              member_col="number"))
            .unionByName(norm(read_grib_ensemble(spark, grib1,
                                                 value_var="val"),
                              "grib1", "val", "latitude", "longitude",
                              member_col="number"))
            .unionByName(norm(read_zarr_grid(spark, store3, "dis24"),
                              "zarr3", "dis24", "lat", "lon"))
            .unionByName(norm(read_grib_ensemble(spark, grib_cx,
                                                 value_var="val"),
                              "grib_cx", "val", "latitude", "longitude",
                              member_col="number"))
            .unionByName(norm(read_grib_ensemble(spark, grib_png,
                                                 value_var="val"),
                              "grib_png", "val", "latitude", "longitude",
                              member_col="number"))
            .unionByName(norm(read_grib_ensemble(spark, grib_mvm,
                                                 value_var="val"),
                              "grib_mvm", "val", "latitude", "longitude",
                              member_col="number"))
            .unionByName(norm(grib_idx_df,
                              "grib_idx", "value", "latitude", "longitude",
                              member_col="member"))
            .unionByName(norm(read_geotiff(spark, tif_f, value_col="val"),
                              "tiff_f", "val", "y", "x"))
            .unionByName(norm(read_geotiff(spark, tif, value_col="val",
                                           overview=1),
                              "tiff_ov", "val", "y", "x"))
        )
        return long_form.groupBy("fmt").agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("val").cast("long").alias("val_sum"),
            F.round(
                F.sum(F.col("val") * F.col("lon")
                      + F.col("member") * F.col("lat")),
                6,
            ).alias("pos_weighted"),
        )
    finally:
        # grid_to_long_form materializes via pandas at construction, so
        # the files are no longer needed once the plan exists.
        shutil.rmtree(tmp, ignore_errors=True)
