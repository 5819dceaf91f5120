"""Spatial join (J9) and as-of join tests on general shapes."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from data_pipelines_spark.operators.joins import asof_join
from data_pipelines_spark.operators.spatial import (
    parse_wkt_polygon,
    parse_wkt_rings,
    point_in_polygon_join,
    points_in_ring,
    points_in_rings,
    rasterize_zones,
)
from data_pipelines_spark.operators.zonal import dense_zonal_count


TRIANGLE = "POLYGON ((0 0,10 0,0 10,0 0))"
CONCAVE = "POLYGON ((0 0,10 0,10 10,5 5,0 10,0 0))"  # notch at top
DONUT = "POLYGON ((0 0,10 0,10 10,0 10,0 0),(3 3,7 3,7 7,3 7,3 3))"  # lake hole
MULTI = "MULTIPOLYGON (((0 0,4 0,4 4,0 4,0 0)),((20 20,24 20,24 24,20 24,20 20)))"


def _assert_no_python_stage(df, label):
    plan = df._jdf.queryExecution().executedPlan().toString()
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, (label, node)


def test_parse_wkt_polygon():
    ring = parse_wkt_polygon(TRIANGLE)
    assert ring.shape == (4, 2)
    assert ring[0].tolist() == [0.0, 0.0]


def test_ray_casting_triangle_and_concave():
    px = np.array([1.0, 6.0, 9.0, 2.0])
    py = np.array([1.0, 6.0, 0.5, 7.0])
    tri = points_in_ring(px, py, parse_wkt_polygon(TRIANGLE))
    # inside: (1,1), (2,7); outside: (6,6) beyond hypotenuse, (9,0.5) in
    assert tri.tolist() == [True, False, True, True]
    conc = points_in_ring(
        np.array([5.0, 5.0, 1.0]), np.array([8.0, 4.0, 1.0]),
        parse_wkt_polygon(CONCAVE),
    )
    # (5,8) sits in the notch → outside; (5,4) and (1,1) inside
    assert conc.tolist() == [False, True, True]


def test_parse_wkt_rings_holes_and_multi():
    donut = parse_wkt_rings(DONUT)
    assert len(donut) == 2 and donut[1].shape == (5, 2)
    multi = parse_wkt_rings(MULTI)
    assert len(multi) == 2 and multi[1][0].tolist() == [20.0, 20.0]


def test_even_odd_donut_and_multipolygon():
    px = np.array([5.0, 1.0, 5.0, 22.0, 12.0])
    py = np.array([5.0, 1.0, 3.5, 22.0, 12.0])
    donut = points_in_rings(px, py, parse_wkt_rings(DONUT))
    # (5,5) sits in the hole → outside; (1,1) in the shell; (5,3.5) in
    # the hole; the rest outside the polygon entirely
    assert donut.tolist() == [False, True, False, False, False]
    multi = points_in_rings(px, py, parse_wkt_rings(MULTI))
    # (1,1) in part 1; (22,22) in part 2; others in neither
    assert multi.tolist() == [False, True, False, True, False]


def test_join_with_donut_zone_classifies_hole_outside(spark):
    """A basin with a lake hole must NOT claim cell centers inside the
    lake (reference rasterizes arbitrary HydroBASINS geometry,
    `global_forest_watch.py:84-95`)."""
    zones = spark.createDataFrame(
        [(1, DONUT), (2, MULTI)], "id long, geometry string"
    )
    points = spark.createDataFrame(
        [(0, 5.0, 5.0), (1, 1.0, 1.0), (2, 22.0, 22.0), (3, 8.5, 8.5)],
        "point_id long, x double, y double",
    )
    got = {
        (r["point_id"], r["zone_id"])
        for r in point_in_polygon_join(points, zones, bucket_size=5.0).collect()
    }
    # point 0 is in the lake hole → unclaimed; 1 is in BOTH the donut
    # shell and multipolygon part 1; 2 in multipolygon part 2; 3 in the
    # donut shell only
    assert got == {(1, 1), (1, 2), (2, 2), (3, 1)}


def test_broadcast_and_shuffle_paths_agree(spark):
    zones = spark.createDataFrame(
        [(1, TRIANGLE), (2, DONUT)], "id long, geometry string"
    )
    points = spark.createDataFrame(
        [(i, float(i % 12), float((i * 3) % 12)) for i in range(60)],
        "point_id long, x double, y double",
    )
    bc = point_in_polygon_join(points, zones, bucket_size=6.0, broadcast=True)
    sh = point_in_polygon_join(points, zones, bucket_size=6.0, broadcast=False)
    assert sorted(map(tuple, bc.collect())) == sorted(map(tuple, sh.collect()))
    # broadcast=False must not INJECT a broadcast hint. The engine
    # (planner stats or AQE runtime conversion) is still free to pick a
    # broadcast join for tiny inputs, so pin the operator's property
    # with auto-conversion off rather than asserting on whatever the
    # adaptive planner chose for a KB-sized fixture.
    auto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        sh2 = point_in_polygon_join(
            points, zones, bucket_size=6.0, broadcast=False
        )
        plan = sh2._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", auto)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_point_in_polygon_join_mixed_shapes(spark):
    zones = spark.createDataFrame(
        [(1, TRIANGLE), (2, "POLYGON ((20 20,30 20,30 30,20 30,20 20))")],
        "id long, geometry string",
    )
    points = spark.createDataFrame(
        [(0, 1.0, 1.0), (1, 25.0, 25.0), (2, 15.0, 15.0), (3, 0.5, 8.5)],
        "point_id long, x double, y double",
    )
    got = {
        (r["point_id"], r["zone_id"])
        for r in point_in_polygon_join(points, zones, bucket_size=10.0).collect()
    }
    assert got == {(0, 1), (3, 1), (1, 2)}


def test_rasterize_then_dense_zonal_count(spark):
    """End-to-end deforestation kernel: rasterize zones onto a pixel
    grid, then dense per-(zone, year) loss counts — the reference's
    `treeloss_per_basin` dataflow on synthetic rectangles."""
    zones = spark.createDataFrame(
        [(1, "POLYGON ((0 0,4 0,4 4,0 4,0 0))"),
         (2, "POLYGON ((4 0,8 0,8 4,4 4,4 0))")],
        "id long, geometry string",
    )
    # pixel centers at .5 offsets; lossyear 1 on x<2, else 0
    pixels = spark.createDataFrame(
        [
            (x + 0.5, y + 0.5, 1 if x < 2 else 0)
            for x in range(8)
            for y in range(4)
        ],
        "x double, y double, lossyear long",
    )
    zoned = rasterize_zones(pixels, zones, bucket_size=4.0)
    assert zoned.count() == 32  # every pixel claimed by exactly one zone
    counts = dense_zonal_count(zoned, zones, years=(1, 2))
    got = {(r["id"], r["year"]): r["loss_incidents"] for r in counts.collect()}
    assert got == {
        (1, 2001): 8, (1, 2002): 0,   # zone 1 holds all lossyear-1 pixels
        (2, 2001): 0, (2, 2002): 0,   # zone 2 dense zeros
    }


def test_asof_join_backward_and_forward(spark):
    left = spark.createDataFrame(
        [(1, "u", 10), (2, "u", 20), (3, "u", 35), (4, "v", 5)],
        "event_id long, k string, t long",
    )
    right = spark.createDataFrame(
        [("u", 10, 100.0), ("u", 30, 300.0), ("v", 50, 500.0)],
        "k string, t long, val double",
    )
    back = asof_join(left, right, ["k"], "t", "t", ["val"], "backward")
    got = {r["event_id"]: r["val"] for r in back.collect()}
    # t=10 matches the equal-ts right row; t=20 → still 100; t=35 → 300;
    # v@5 has no prior right row → null
    assert got == {1: 100.0, 2: 100.0, 3: 300.0, 4: None}

    fwd = asof_join(left, right, ["k"], "t", "t", ["val"], "forward")
    got_f = {r["event_id"]: r["val"] for r in fwd.collect()}
    assert got_f == {1: 100.0, 2: 300.0, 3: None, 4: 500.0}


def test_broadcast_probe_runs_no_job(spark):
    """broadcast=None must decide from plan statistics WITHOUT executing
    the polygon plan: build a polygon frame whose evaluation raises, and
    check that constructing the join (which probes) doesn't trigger it."""
    import pandas as pd

    from data_pipelines_spark.operators.spatial import point_in_polygon_join

    def boom(batches):
        raise RuntimeError("polygon plan was executed eagerly")
        yield  # pragma: no cover

    polys = (
        spark.createDataFrame(
            [(1, "POLYGON ((0 0,1 0,1 1,0 1,0 0))")], "id long, geometry string"
        )
        .mapInPandas(boom, "id long, geometry string")
    )
    points = spark.createDataFrame([(1, 0.5, 0.5)], "point_id long, x double, y double")
    # plan construction must not raise (no eager job)
    out = point_in_polygon_join(points, polys, bucket_size=1.0, broadcast=None)
    assert "point_id" in out.columns


def test_broadcast_probe_uses_file_stats(spark):
    from data_pipelines_spark.operators.spatial import point_in_polygon_join

    points = spark.createDataFrame([(1, 0.5, 0.5)], "point_id long, x double, y double")
    polys = spark.createDataFrame(
        [(1, "POLYGON ((0 0,1 0,1 1,0 1,0 0))")], "id long, geometry string"
    )
    # tiny in-memory frame: stats say bytes << threshold -> broadcast path
    out = point_in_polygon_join(points, polys, bucket_size=1.0, broadcast=None)
    assert [(r.point_id, r.zone_id) for r in out.collect()] == [(1, 1)]
    # force the conservative fallback with a 1-byte cap -> shuffle path
    out2 = point_in_polygon_join(
        points, polys, bucket_size=1.0, broadcast=None, max_broadcast_bytes=1
    )
    assert [(r.point_id, r.zone_id) for r in out2.collect()] == [(1, 1)]


def test_rasterize_zones_key_is_content_derived(spark):
    """The rasterization join-back key must be the pixel's own (x, y) —
    identical output under any input partitioning (the retry-stability
    property), no positional id in the plan, and duplicate (x, y) rows
    (per-year long form) each keep their zone."""
    from data_pipelines_spark.operators.spatial import rasterize_zones

    zones = spark.createDataFrame(
        [(1, "POLYGON ((0 0,4 0,4 4,0 4,0 0))"),
         (2, "POLYGON ((4 0,8 0,8 4,4 4,4 0))")],
        "id long, geometry string",
    )
    pixels = spark.createDataFrame(
        [
            (x + 0.5, y + 0.5, yr)
            for x in range(8)
            for y in range(2)
            for yr in (2001, 2002)  # duplicate (x, y) across years
        ],
        "x double, y double, year long",
    )
    base = sorted(
        (r["x"], r["y"], r["year"], r["id"])
        for r in rasterize_zones(pixels, zones, bucket_size=4.0).collect()
    )
    assert len(base) == 32  # every (pixel, year) row claimed exactly once
    assert all(
        (zid == 1) == (x < 4.0) for x, _, _, zid in base
    )
    for parts in (1, 7):
        redo = sorted(
            (r["x"], r["y"], r["year"], r["id"])
            for r in rasterize_zones(
                pixels.repartition(parts), zones, bucket_size=4.0
            ).collect()
        )
        assert redo == base
    zoned = rasterize_zones(pixels, zones, bucket_size=4.0)
    plan = zoned._jdf.queryExecution().executedPlan().toString()
    assert "monotonically_increasing_id" not in plan
    _assert_no_python_stage(zoned, "rasterize_zones")


# ---------------------------------------------------------------------------
# interval (range) join


def _naive_interval_pairs(pts, ivs):
    """Oracle: cross join + BETWEEN filter (the plan interval_join avoids)."""
    return (
        pts.crossJoin(ivs)
        .where((F.col("x") >= F.col("s")) & (F.col("x") <= F.col("e")))
    )


def _interval_fixtures(spark, seed=7, n_pts=400, n_ivs=50, span=80):
    import random

    rng = random.Random(seed)
    pts = spark.createDataFrame(
        [(i, rng.randint(0, 1000)) for i in range(n_pts)], "pid long, x long"
    )
    ivs = spark.createDataFrame(
        [
            (j, s, s + rng.randint(0, span))
            for j in range(n_ivs)
            for s in (rng.randint(0, 950),)
        ],
        "iid long, s long, e long",
    )
    return pts, ivs


def test_interval_join_matches_naive_cross_join(spark):
    from data_pipelines_spark.operators.joins import interval_join

    pts, ivs = _interval_fixtures(spark)
    # The naive oracle is 400x50 comparisons — computed in plain Python
    # (an even more trustworthy oracle than a Spark cross join, and it
    # halves the test's Spark actions). The operator under test still
    # runs fully on Spark, one action per variant, assertions unchanged.
    pts_rows = [tuple(r) for r in pts.collect()]
    ivs_rows = [tuple(r) for r in ivs.collect()]
    want = sorted(
        (pid, x, iid, s, e)
        for pid, x in pts_rows
        for iid, s, e in ivs_rows
        if s <= x <= e
    )
    # bin width below, near, and above the max interval span
    for width in (8, 64, 2000):
        got = interval_join(pts, ivs, "x", "s", "e", bin_width=width)
        assert sorted(map(tuple, got.collect())) == want, f"width={width}"

    matched_pids = {pid for pid, _x, _i, _s, _e in want}
    semi = interval_join(pts, ivs, "x", "s", "e", 32, how="left_semi")
    want_semi = sorted((pid, x) for pid, x in pts_rows if pid in matched_pids)
    assert sorted(map(tuple, semi.collect())) == want_semi

    left_rows = [
        tuple(r)
        for r in interval_join(pts, ivs, "x", "s", "e", 32, how="left").collect()
    ]
    unmatched = sum(1 for pid, _x in pts_rows if pid not in matched_pids)
    assert len(left_rows) == len(want) + unmatched
    assert sum(1 for r in left_rows if r[2] is None) == unmatched


def test_interval_join_no_nested_loop_in_plan(spark):
    from data_pipelines_spark.operators.joins import interval_join

    pts, ivs = _interval_fixtures(spark)
    plan = (
        interval_join(pts, ivs, "x", "s", "e", 32)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_interval_join_boundaries_keys_and_invalid_rows(spark):
    from data_pipelines_spark.operators.joins import interval_join

    pts = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 10), (4, "a", None)],
        "pid long, k string, x long",
    )
    ivs = spark.createDataFrame(
        [
            (100, "a", 10, 20),      # closed-both matches x=10 and x=20
            (101, "b", 5, 9),        # just misses x=10
            (102, "a", 30, 25),      # end < start: matches nothing
            (103, "b", None, 50),    # NULL bound: matches nothing
        ],
        "iid long, k string, s long, e long",
    )
    both = interval_join(pts, ivs, "x", "s", "e", 7, key_cols=["k"])
    assert sorted((r.pid, r.iid) for r in both.collect()) == [(1, 100), (2, 100)]
    half = interval_join(pts, ivs, "x", "s", "e", 7, key_cols=["k"], closed="left")
    assert sorted((r.pid, r.iid) for r in half.collect()) == [(1, 100)]
    # key columns appear once in the output (coalesced from the point side)
    assert both.columns.count("k") == 1


def test_interval_join_timestamp_points(spark):
    from data_pipelines_spark.operators.joins import interval_join

    ev = spark.createDataFrame(
        [(1, "2024-01-01 00:00:30.500"), (2, "2024-01-01 01:30:00")],
        "id long, ts string",
    ).select("id", F.col("ts").cast("timestamp").alias("ts"))
    iv = spark.createDataFrame(
        [(10, "2024-01-01 00:00:00", "2024-01-01 00:59:59.999")],
        "iid long, s string, e string",
    ).select(
        "iid",
        F.col("s").cast("timestamp").alias("s"),
        F.col("e").cast("timestamp").alias("e"),
    )
    out = interval_join(ev, iv, "ts", "s", "e", bin_width=3600)
    assert [(r.id, r.iid) for r in out.collect()] == [(1, 10)]


def test_interval_join_runaway_interval_guard(spark):
    import pytest as _pytest

    from data_pipelines_spark.operators.joins import interval_join

    pts = spark.createDataFrame([(1, 5)], "pid long, x long")
    wide = spark.createDataFrame([(1, 0, 10_000_000)], "iid long, s long, e long")
    with _pytest.raises(Exception, match="interval_join"):
        interval_join(
            pts, wide, "x", "s", "e", 1, max_bins_per_interval=100
        ).count()
    # disabling the guard lets the same interval through
    ok = interval_join(
        pts, wide, "x", "s", "e", 1_000_000, max_bins_per_interval=None
    )
    assert ok.count() == 1


def test_interval_join_rejects_ambiguous_columns(spark):
    import pytest as _pytest

    from data_pipelines_spark.operators.joins import interval_join

    pts = spark.createDataFrame([(1, 5)], "pid long, x long")
    ivs = spark.createDataFrame([(1, 0, 10)], "pid long, s long, e long")
    with _pytest.raises(ValueError, match="ambiguous"):
        interval_join(pts, ivs, "x", "s", "e", 10)


def test_interval_join_date_bounds_with_timestamp_points(spark):
    """Dates and timestamps share the epoch-second bin domain: a
    timestamp point must meet its date-bounded interval (in day units
    the date-side bins would sit ~86400x away and every true pair
    silently missed); temporal x numeric mixes raise instead."""
    import datetime as dt

    import pytest

    from data_pipelines_spark.operators.joins import interval_join

    pts = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 5, 12, 0)), (2, dt.datetime(2024, 2, 1, 0, 0))],
        "pid long, t timestamp",
    )
    ivs = spark.createDataFrame(
        [(100, dt.date(2024, 1, 1), dt.date(2024, 1, 10))],
        "iid long, s date, e date",
    )
    got = sorted(
        (r["pid"], r["iid"])
        for r in interval_join(pts, ivs, "t", "s", "e", bin_width=86400).collect()
    )
    assert got == [(1, 100)]
    # all-date inputs bin in seconds too (bin_width=86400 = one day)
    dpts = spark.createDataFrame([(1, dt.date(2024, 1, 5))], "pid long, t date")
    assert interval_join(dpts, ivs, "t", "s", "e", bin_width=86400).count() == 1
    # temporal x numeric mix is a loud error
    npts = spark.createDataFrame([(1, 5.0)], "pid long, t double")
    with pytest.raises(ValueError, match="mix temporal and numeric"):
        interval_join(npts, ivs, "t", "s", "e", bin_width=86400)


def test_asof_join_null_timestamps_match_nothing(spark):
    """merge-asof semantics: a NULL-ts right row must not leak its
    value to left rows earlier than any real right row (NULLS FIRST
    ordering put it before everything), and NULL-ts left rows get NULL
    values in BOTH directions."""
    import datetime as dt

    from data_pipelines_spark.operators.joins import asof_join

    right = spark.createDataFrame(
        [(1, None, 99.0), (1, dt.datetime(2024, 1, 1), 7.0)],
        "k long, rts timestamp, v double",
    )
    early = spark.createDataFrame([(1, dt.datetime(2023, 1, 1))], "k long, ts timestamp")
    late = spark.createDataFrame([(1, dt.datetime(2024, 6, 1))], "k long, ts timestamp")
    null_left = spark.createDataFrame([(1, None)], "k long, ts timestamp")

    bw = lambda l: asof_join(l, right, ["k"], "ts", "rts", ["v"]).collect()
    fw = lambda l: asof_join(
        l, right, ["k"], "ts", "rts", ["v"], direction="forward"
    ).collect()

    assert bw(early)[0]["v"] is None      # nothing at-or-before → NULL
    assert bw(late)[0]["v"] == 7.0
    assert fw(early)[0]["v"] == 7.0       # earliest at-or-after
    assert fw(late)[0]["v"] is None
    assert bw(null_left)[0]["v"] is None
    assert fw(null_left)[0]["v"] is None


class TestIntervalOverlapJoin:
    def _frames(self, spark, n_left=60, n_right=40, seed=11):
        import random

        rng = random.Random(seed)
        lrows = [
            (i, rng.randrange(0, 500), rng.randrange(0, 60), f"k{i % 2}")
            for i in range(n_left)
        ]
        rrows = [
            (i, rng.randrange(0, 500), rng.randrange(0, 60), f"k{i % 2}")
            for i in range(n_right)
        ]
        left = spark.createDataFrame(
            [(i, s, s + d, k) for i, s, d, k in lrows],
            "lid long, ls long, le long, k string",
        )
        right = spark.createDataFrame(
            [(i, s, s + d, k) for i, s, d, k in rrows],
            "rid long, rs long, re long, k string",
        )
        return left, right

    def _naive(self, left, right, closed, keyed):
        lrows, rrows = left.collect(), right.collect()
        out = set()
        for a in lrows:
            for b in rrows:
                if keyed and a["k"] != b["k"]:
                    continue
                if closed == "both":
                    hit = a["ls"] <= b["re"] and b["rs"] <= a["le"]
                else:
                    hit = a["ls"] < b["re"] and b["rs"] < a["le"]
                if hit:
                    out.add((a["lid"], b["rid"]))
        return out

    def test_matches_naive_cross_join(self, spark):
        from data_pipelines_spark.operators.joins import interval_overlap_join

        left, right = self._frames(spark)
        for width in (7, 32, 100):
            for closed in ("both", "left"):
                got = {
                    (r["lid"], r["rid"])
                    for r in interval_overlap_join(
                        left.drop("k"), right.drop("k"),
                        ("ls", "le"), ("rs", "re"),
                        bin_width=width, closed=closed,
                    ).collect()
                }
                want = self._naive(left, right, closed, keyed=False)
                assert got == want, (width, closed, got ^ want)

    def test_exactly_once_per_pair_and_keys(self, spark):
        from data_pipelines_spark.operators.joins import interval_overlap_join

        left, right = self._frames(spark)
        rows = interval_overlap_join(
            left, right.drop("k") if False else right,
            ("ls", "le"), ("rs", "re"),
            bin_width=16, key_cols=["k"],
        ).collect()
        pairs = [(r["lid"], r["rid"]) for r in rows]
        assert len(pairs) == len(set(pairs))  # no duplicate emissions
        assert set(pairs) == self._naive(left, right, "both", keyed=True)

    def test_left_semi_preserves_multiplicity(self, spark):
        from data_pipelines_spark.operators.joins import interval_overlap_join

        left = spark.createDataFrame(
            # lid 1 duplicated on purpose; lid 3 overlaps nothing
            [(1, 0, 10), (1, 0, 10), (2, 5, 9), (3, 100, 110)],
            "lid long, ls long, le long",
        )
        right = spark.createDataFrame(
            [(7, 8, 20)], "rid long, rs long, re long"
        )
        got = sorted(
            r["lid"]
            for r in interval_overlap_join(
                left, right, ("ls", "le"), ("rs", "re"),
                bin_width=8, how="left_semi", left_id_col="lid",
            ).collect()
        )
        assert got == [1, 1, 2]

    def test_invalid_and_null_intervals_match_nothing(self, spark):
        from data_pipelines_spark.operators.joins import interval_overlap_join

        left = spark.createDataFrame(
            [(1, 0, 10), (2, 9, 3), (3, None, 10), (4, 0, None)],
            "lid long, ls long, le long",
        )
        right = spark.createDataFrame(
            [(7, 5, 6)], "rid long, rs long, re long"
        )
        got = [
            (r["lid"], r["rid"])
            for r in interval_overlap_join(
                left, right, ("ls", "le"), ("rs", "re"), bin_width=4
            ).collect()
        ]
        assert got == [(1, 7)]

    def test_no_nested_loop_in_plan(self, spark):
        from data_pipelines_spark.operators.joins import interval_overlap_join

        left, right = self._frames(spark)
        plan = interval_overlap_join(
            left.drop("k"), right.drop("k"), ("ls", "le"), ("rs", "re"),
            bin_width=16,
        )._jdf.queryExecution().executedPlan().toString()
        assert "NestedLoop" not in plan and "Cartesian" not in plan

    def test_temporal_bounds(self, spark):
        from datetime import datetime

        from data_pipelines_spark.operators.joins import interval_overlap_join

        def ts(h, m=0):
            return datetime(2024, 3, 1, h, m)

        left = spark.createDataFrame(
            [(1, ts(1), ts(2)), (2, ts(5), ts(6))],
            "lid long, ls timestamp, le timestamp",
        )
        right = spark.createDataFrame(
            [(7, ts(1, 30), ts(5)), (8, ts(6), ts(7))],
            "rid long, rs timestamp, re timestamp",
        )
        both = {
            (r["lid"], r["rid"])
            for r in interval_overlap_join(
                left, right, ("ls", "le"), ("rs", "re"), bin_width=900
            ).collect()
        }
        # closed: 1∩7 (interior), 2∩7 (touch at 5:00), 2∩8 (touch at 6:00)
        assert both == {(1, 7), (2, 7), (2, 8)}
        half = {
            (r["lid"], r["rid"])
            for r in interval_overlap_join(
                left, right, ("ls", "le"), ("rs", "re"),
                bin_width=900, closed="left",
            ).collect()
        }
        assert half == {(1, 7)}

    def test_guards(self, spark):
        import pytest as _pytest

        from data_pipelines_spark.operators.joins import interval_overlap_join

        left, right = self._frames(spark)
        with _pytest.raises(ValueError, match="left_id_col"):
            interval_overlap_join(
                left, right, ("ls", "le"), ("rs", "re"), 8, how="left_semi"
            )
        with _pytest.raises(ValueError, match="ambiguous"):
            interval_overlap_join(
                left, left, ("ls", "le"), ("ls", "le"), 8
            )
        with _pytest.raises(Exception, match="interval_overlap_join"):
            wide = spark.createDataFrame(
                [(1, 0, 10_000_000)], "rid long, rs long, re long"
            )
            interval_overlap_join(
                left.drop("k"), wide, ("ls", "le"), ("rs", "re"), 2,
                max_bins_per_interval=64,
            ).collect()


def test_asof_join_null_keys_match_nothing(spark):
    """Probe regression: window partitioning pooled NULL-key left and
    right rows into one partition, handing a NULL-key left row a value
    no equi join (or pandas merge_asof) would produce. NULL-key right
    rows now drop; NULL-key left rows come back with NULL values."""
    from data_pipelines_spark.operators.joins import asof_join

    left = spark.createDataFrame([(None, 10), ("a", 10)], "k string, lts long")
    right = spark.createDataFrame(
        [(None, 5, 99.0), ("a", 5, 1.0)], "k string, rts long, val double"
    )
    got = sorted(
        [(r["k"], r["lts"], r["val"]) for r in
         asof_join(left, right, ["k"], "lts", "rts", ["val"]).collect()],
        key=repr,
    )
    assert got == sorted([(None, 10, None), ("a", 10, 1.0)], key=repr), got


def test_pip_join_shuffle_path_balances_giant_zone_and_hot_bucket(spark):
    """Polygon-skew hardening: clustered points (one hot bucket) under
    a continent-sized polygon must NOT funnel the exact test into one
    task on the shuffle path. Before the round-7 salted
    re-spread, this fixture measured 100% of candidates in a single
    partition; now the largest partition must hold a bounded share.
    Results must also be identical between the two join strategies."""
    import random

    from data_pipelines_spark.operators.spatial import point_in_polygon_join

    random.seed(7)
    pts = [
        (
            i,
            random.uniform(0, 9.9) if random.random() < 0.8 else random.uniform(0, 100),
            random.uniform(0, 9.9) if random.random() < 0.8 else random.uniform(0, 100),
        )
        for i in range(8000)
    ]
    points = spark.createDataFrame(
        pts, "point_id long, x double, y double"
    ).repartition(8)

    def box(x0, y0, x1, y1):
        return (
            f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, {x0} {y0}))"
        )

    zones = [(0, box(0, 0, 100, 100))]  # the continent
    zones += [
        (i, box((i % 10) * 10, (i // 10) * 10,
                (i % 10) * 10 + 9.5, (i // 10) * 10 + 9.5))
        for i in range(1, 51)
    ]
    zdf = spark.createDataFrame(zones, "id long, geometry string")

    shuffled = point_in_polygon_join(points, zdf, 10.0, broadcast=False)
    sizes = sorted(
        (
            r["count"]
            for r in shuffled.withColumn("p", F.spark_partition_id())
            .groupBy("p").count().collect()
        ),
        reverse=True,
    )
    total = sum(sizes)
    assert len(sizes) >= 8, sizes
    assert sizes[0] <= 0.3 * total, (
        f"exact-test input skew: top partition {sizes[0]}/{total}: {sizes[:5]}"
    )

    bcast = point_in_polygon_join(points, zdf, 10.0, broadcast=True)
    a = sorted((r["point_id"], r["zone_id"]) for r in shuffled.collect())
    b = sorted((r["point_id"], r["zone_id"]) for r in bcast.collect())
    assert a == b and len(a) > 8000  # continent matches every point


def test_native_exact_matches_python_on_all_shapes(spark):
    """The JVM-expression exact test must agree with the numpy ray-cast
    reference (`points_in_rings` over `parse_wkt_rings`) point-for-point
    on every geometry class — donut holes, multipolygon parts, concave
    notches, on-edge points — on both join paths, and its plan must
    contain no Python stage."""
    shapes = {1: DONUT, 2: MULTI, 3: CONCAVE, 4: TRIANGLE}
    zones = spark.createDataFrame(
        list(shapes.items()), "id long, geometry string"
    )
    rows = [
        (i, float(i % 26) - 0.5, float((i * 7) % 26) - 0.5) for i in range(200)
    ]
    # on-edge points follow the same even-odd convention
    rows += [(900, 0.0, 5.0), (901, 10.0, 5.0), (902, 5.0, 0.0), (903, 3.0, 5.0)]
    points = spark.createDataFrame(rows, "point_id long, x double, y double")
    ids = np.array([r[0] for r in rows])
    px = np.array([r[1] for r in rows])
    py = np.array([r[2] for r in rows])
    want = {
        (int(pid), zid)
        for zid, wkt in shapes.items()
        for pid in ids[points_in_rings(px, py, parse_wkt_rings(wkt))]
    }
    for bc in (True, False):
        got = point_in_polygon_join(points, zones, bucket_size=6.0, broadcast=bc)
        pairs = {(r["point_id"], r["zone_id"]) for r in got.collect()}
        assert pairs == want, (bc, pairs - want, want - pairs)
        assert got.schema.simpleString() == "struct<point_id:bigint,zone_id:bigint>"
        _assert_no_python_stage(got, bc)


def test_join_rejects_bad_geometry(spark):
    """A WKT that is NULL, not a polygon, or holds no ring fails the
    join with the numpy parser's messages, on both join paths, instead
    of being read as a ring or dropped."""
    points = spark.createDataFrame(
        [(1, 0.5, 0.5)], "point_id long, x double, y double"
    )
    cases = [
        ("LINESTRING (0 0, 1 1, 1 0, 0 0)", "not a polygon WKT: LINESTRING"),
        ("POLYGON EMPTY", "no rings in WKT: POLYGON EMPTY"),
        (None, "not a polygon WKT: NULL"),
    ]
    for wkt, message in cases:
        if wkt is not None:
            with pytest.raises(ValueError, match=message):
                parse_wkt_rings(wkt)
        zones = spark.createDataFrame(
            [(1, "POLYGON ((0 0,1 0,1 1,0 1,0 0))"), (2, wkt)],
            "id long, geometry string",
        )
        for bc in (True, False):
            with pytest.raises(Exception, match=message):
                point_in_polygon_join(
                    points, zones, bucket_size=1.0, broadcast=bc
                ).collect()
