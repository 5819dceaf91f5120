"""Unit tests for operators/timeseries.py: resample-to-grid, forward
fill, and linear interpolation (hand-computed goldens + plan shape)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from data_pipelines_spark.operators.timeseries import (
    bucket_epoch,
    forward_fill,
    interpolate_linear,
    resample,
    resample_filled,
)

H = 3600


def _ts(epoch_sec: float) -> dt.datetime:
    return dt.datetime.fromtimestamp(epoch_sec, dt.timezone.utc)


@pytest.fixture(scope="module")
def series(spark):
    # user "a": events in hours 0, 0, 3 (gap at 1, 2); user "b": hour 1 only.
    rows = [
        Row(user="a", ts=_ts(0), value=1.0),
        Row(user="a", ts=_ts(1800.5), value=3.0),
        Row(user="a", ts=_ts(3 * H + 7.25), value=10.0),
        Row(user="b", ts=_ts(H + 59.0), value=5.0),
    ]
    return spark.createDataFrame(rows)


def test_bucket_epoch_subsecond_exact(spark):
    # 1h bucket: 3599.999999s stays in bucket 0; 3600.000001 in bucket 3600.
    df = spark.createDataFrame(
        [Row(ts=_ts(3599.999999)), Row(ts=_ts(3600.000001))]
    ).select(bucket_epoch("ts", H).alias("b"))
    assert [r.b for r in df.collect()] == [0, 3600]


def test_resample_dense_grid_and_gaps(spark, series):
    out = resample(series, ["user"], "ts", "value", H).orderBy(
        "user", "bucket_epoch"
    )
    rows = [(r.user, r.bucket_epoch, r.n_events, r.sum_value) for r in out.collect()]
    assert rows == [
        ("a", 0, 2, 4.0),        # two events summed
        ("a", H, 0, None),       # gap bucket materialized
        ("a", 2 * H, 0, None),   # gap bucket materialized
        ("a", 3 * H, 1, 10.0),
        ("b", H, 1, 5.0),        # b's grid spans only its own bucket
    ]


def test_forward_fill_and_interpolate(spark, series):
    dense = resample(series, ["user"], "ts", "value", H)
    filled = interpolate_linear(
        forward_fill(dense, ["user"], "bucket_epoch", "sum_value", "ffill"),
        ["user"],
        "bucket_epoch",
        "sum_value",
        "interp",
    )
    got = {
        (r.user, r.bucket_epoch): (r.ffill, r.interp)
        for r in filled.collect()
    }
    assert got[("a", 0)] == (4.0, 4.0)
    assert got[("a", H)] == (4.0, 4.0 + (10.0 - 4.0) * (1.0 / 3.0))
    assert got[("a", 2 * H)] == (4.0, 4.0 + (10.0 - 4.0) * (2.0 / 3.0))
    assert got[("a", 3 * H)] == (10.0, 10.0)
    assert got[("b", H)] == (5.0, 5.0)


def test_fill_edges_before_first_after_last(spark):
    # Explicit NULL edges (not reachable via resample, whose grid ends
    # on observed buckets): leading rows stay NULL in both fills;
    # trailing rows stay NULL under interpolation but carry under locf.
    df = spark.createDataFrame(
        [
            Row(k="x", pos=0, v=None),
            Row(k="x", pos=1, v=2.0),
            Row(k="x", pos=2, v=None),
            Row(k="x", pos=3, v=4.0),
            Row(k="x", pos=4, v=None),
        ],
        "k string, pos int, v double",
    )
    out = interpolate_linear(
        forward_fill(df, ["k"], "pos", "v", "ffill"),
        ["k"],
        "pos",
        "v",
        "interp",
    ).orderBy("pos")
    rows = [(r.ffill, r.interp) for r in out.collect()]
    assert rows == [
        (None, None),
        (2.0, 2.0),
        (2.0, 3.0),
        (4.0, 4.0),
        (4.0, None),
    ]


def test_no_global_window_in_plan(spark, series):
    dense = resample(series, ["user"], "ts", "value", H)
    out = interpolate_linear(
        forward_fill(dense, ["user"], "bucket_epoch", "sum_value", "f"),
        ["user"],
        "bucket_epoch",
        "sum_value",
        "i",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan
    assert "windowspecdefinition(user" in plan


def test_resample_stream_equals_batch(spark):
    import shutil
    import tempfile

    from data_pipelines_spark.streaming.events import stream_events_from_dir

    rows = [
        Row(user="a", ts=_ts(i * 733.0 + (17.5 if i % 3 else 0.25)), value=float(i))
        for i in range(40)
    ] + [Row(user="b", ts=_ts(i * 1900.0 + 3.75), value=float(i)) for i in range(15)]
    ev = spark.createDataFrame(rows)
    batch = resample(ev, ["user"], "ts", "value", H, dense=False).collect()

    tmp = tempfile.mkdtemp(prefix="dps_ts_stream_")
    try:
        ev.write.mode("overwrite").parquet(f"{tmp}/in")
        stream = stream_events_from_dir(spark, f"{tmp}/in", ev.schema)
        agg = resample(stream, ["user"], "ts", "value", H, dense=False)
        q = (
            agg.writeStream.format("memory")
            .queryName("ts_resample_test")
            .outputMode("complete")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        q.processAllAvailable()
        streamed = spark.sql("SELECT * FROM ts_resample_test").collect()
        q.stop()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    canon = lambda rs: sorted(
        (r.user, r.bucket_epoch, r.n_events, r.sum_value) for r in rs
    )
    assert canon(batch) == canon(streamed) and len(batch) > 0


def test_resample_stream_rejects_dense(spark):
    import shutil
    import tempfile

    from data_pipelines_spark.streaming.events import stream_events_from_dir

    ev = spark.createDataFrame([Row(user="a", ts=_ts(0), value=1.0)])
    tmp = tempfile.mkdtemp(prefix="dps_ts_dense_")
    try:
        ev.write.mode("overwrite").parquet(f"{tmp}/in")
        stream = stream_events_from_dir(spark, f"{tmp}/in", ev.schema)
        with pytest.raises(ValueError, match="dense"):
            resample(stream, ["user"], "ts", "value", H, dense=True)
        # the fill's lead() and unbounded windows need the full span too
        with pytest.raises(ValueError, match="stream"):
            resample_filled(stream, ["user"], "ts", "value", H)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_interpolate_duplicate_positions_no_ansi_abort(spark):
    """A gap row sharing its position with an observation must take
    that observation's value — the unguarded lerp divides by zero
    there, and ANSI mode aborts the whole query (probed live)."""
    from data_pipelines_spark.operators.timeseries import interpolate_linear

    df = spark.createDataFrame(
        [("k", 1, 10.0), ("k", 2, None), ("k", 2, 20.0), ("k", 3, 30.0)],
        "k string, t long, v double",
    )
    rows = interpolate_linear(df, ["k"], "t", "v").orderBy("t", "v").collect()
    got = [(r["t"], r["v"], r["v_interp"]) for r in rows]
    # the gap row at t=2 takes the co-located observation's value
    assert (2, None, 20.0) in got
    # observations pass through untouched
    assert (1, 10.0, 10.0) in got and (3, 30.0, 30.0) in got

    # NULL edges unchanged: before-first and after-last stay NULL
    df2 = spark.createDataFrame(
        [("k", 1, None), ("k", 2, 5.0), ("k", 3, None)],
        "k string, t long, v double",
    )
    got2 = {
        r["t"]: r["v_interp"]
        for r in interpolate_linear(df2, ["k"], "t", "v").collect()
    }
    assert got2 == {1: None, 2: 5.0, 3: None}


def test_interpolate_obs_null_obs_at_same_position(spark):
    """The exact abort shape: a NULL row sandwiched between two
    observations at the SAME position makes t_next == t_prev — the
    unguarded lerp divides by zero and ANSI kills the query (reproduced
    on the pre-fix expression). The guard resolves to the preceding
    observation's value."""
    from data_pipelines_spark.operators.timeseries import interpolate_linear

    df = spark.createDataFrame(
        [("k", 2, 5.0), ("k", 2, None), ("k", 2, 7.0)],
        "k string, t long, v double",
    ).repartition(1)
    rows = interpolate_linear(df, ["k"], "t", "v").collect()
    gap = [r for r in rows if r["v"] is None]
    assert len(gap) == 1 and gap[0]["v_interp"] in (5.0, 7.0)


def test_interpolation_window_node_evaluates_four_aggregates(spark):
    """Plan pin via plans.audit: the interpolation Window node must
    evaluate exactly 4 running first/last aggregates (prev/next value
    and position, each once). Re-inlining the window expressions into
    the guarded lerp would re-evaluate them — 9 per row before the
    round-5 fix, ~25% on the resample headline."""
    from data_pipelines_spark.operators.timeseries import (
        interpolate_linear,
        resample,
    )
    from data_pipelines_spark.plans.audit import window_aggregate_counts

    rows = [(1, i * 60, float(i)) for i in range(50)]
    df = spark.createDataFrame(rows, "user_id long, epoch long, value double")
    dense = resample(
        df.select(
            "user_id",
            F.timestamp_seconds(F.col("epoch")).alias("ts"),
            "value",
        ),
        ["user_id"], "ts", "value", 60,
    )
    out = interpolate_linear(
        dense, ["user_id"], "bucket_epoch", "sum_value", "interp_value"
    )
    counts = window_aggregate_counts(out)
    assert max(counts) <= 4, counts


def test_plan_audit_helpers(spark):
    from data_pipelines_spark.plans.audit import (
        assert_plan,
        plan_string,
        scan_count,
    )

    df = spark.range(10).groupBy((F.col("id") % 2).alias("k")).count()
    plan = assert_plan(df, forbid=["CartesianProduct"], require=["HashAggregate"])
    assert "HashAggregate" in plan
    import pytest as _pytest

    with _pytest.raises(AssertionError, match="lacks required"):
        assert_plan(df, require=["SortMergeJoin"])
    with _pytest.raises(AssertionError, match="forbidden"):
        assert_plan(df, forbid=["HashAggregate"])
    assert scan_count(df) == 0  # range source, no file scan
    assert "HashAggregate" in plan_string(df, mode="spark")


def test_assert_plan_survives_python_O(spark):
    """Regression (ADVICE r5 #2): assert_plan's guards must be explicit
    raises, not `assert` statements — `python -O` strips asserts and
    the plan pin silently becomes a no-op. Checked two ways: the
    function body contains no Assert AST nodes, and the raise fires."""
    import ast
    import inspect
    import textwrap

    import pytest as _pytest

    from data_pipelines_spark.plans import audit

    src = textwrap.dedent(inspect.getsource(audit.assert_plan))
    tree = ast.parse(src)
    asserts = [n for n in ast.walk(tree) if isinstance(n, ast.Assert)]
    assert not asserts, "assert_plan must use explicit raises (python -O)"

    df = spark.range(3)
    with _pytest.raises(AssertionError, match="forbidden"):
        audit.assert_plan(df, forbid=["Range"])
    with _pytest.raises(AssertionError, match="required"):
        audit.assert_plan(df, require=["SortMergeJoin"])
    audit.assert_plan(df, require=["Range"])  # happy path returns


def test_resample_runaway_grid_guard(spark):
    """A single pathological gap (span/interval >> max_gap_buckets)
    must fail loudly instead of funneling a giant explode into one
    task; a bounded grid at the same settings still materializes."""
    import pytest as _pytest

    from data_pipelines_spark.operators.timeseries import resample

    rows = [
        ("k", "2024-01-01 00:00:00", 1.0),
        ("k", "2034-01-01 00:00:00", 2.0),  # decade gap
    ]
    df = spark.createDataFrame(rows, "key string, ts string, v double").select(
        "key", F.col("ts").cast("timestamp").alias("ts"), "v"
    )
    with _pytest.raises(Exception, match="resample: one gap needs more than"):
        resample(df, ["key"], "ts", "v", 1, max_gap_buckets=10_000).collect()
    # same data, guard disabled but interval widened: bounded and fine
    ok = resample(df, ["key"], "ts", "v", 86400 * 366)
    assert ok.count() == 11
    # guard at default settings does not fire on a sane series
    sane = resample(df.limit(1), ["key"], "ts", "v", 1)
    assert sane.count() == 1


def test_resample_filled_matches_composition(spark):
    """r15 fused operator: resample_filled == resample ->
    interpolate_linear(locf_col=...) bit-for-bit on adversarial inputs —
    all-NULL observed buckets (n_events > 0, sum_value NULL), interior
    gaps, single-observation keys, and a NULL-valued first bucket. Plan
    pin: nothing windows or re-sorts the dense grid after the generate
    (every Window line sits BELOW the Generate in the fused tree)."""
    from data_pipelines_spark.operators.timeseries import (
        interpolate_linear,
        resample,
        resample_filled,
    )

    rows = [
        # "a": obs h0, NULL-valued obs h1 (all-null bucket), gap h2, obs h3
        Row(user="a", ts=_ts(10.0), value=1.0),
        Row(user="a", ts=_ts(H + 20.0), value=None),
        Row(user="a", ts=_ts(3 * H + 30.0), value=7.0),
        # "b": single NULL-valued observation
        Row(user="b", ts=_ts(5 * H), value=None),
        # "c": single real observation
        Row(user="c", ts=_ts(2 * H), value=9.0),
        # "d": NULL-valued first bucket, then two real obs with a gap
        Row(user="d", ts=_ts(0.5), value=None),
        Row(user="d", ts=_ts(H + 1), value=2.0),
        Row(user="d", ts=_ts(4 * H + 2), value=8.0),
    ]
    df = spark.createDataFrame(rows, "user string, ts timestamp, value double")
    composed = interpolate_linear(
        resample(df, ["user"], "ts", "value", H),
        ["user"], "bucket_epoch", "sum_value", "interp_value",
        locf_col="ffill_value",
    ).select(
        "user", "bucket_epoch", "n_events", "sum_value",
        "ffill_value", "interp_value",
    )
    fused = resample_filled(df, ["user"], "ts", "value", H)
    key = lambda r: (r[0], r[1])  # noqa: E731
    a = sorted([tuple(r) for r in composed.collect()], key=key)
    b = sorted([tuple(r) for r in fused.collect()], key=key)
    assert a == b, f"\ncomposed={a}\nfused={b}"
    # a's NULL-valued h1 bucket must interpolate, not pass through
    byk = {(r[0], r[1]): r for r in b}
    assert byk[("a", H)][2] == 1            # n_events counts the null event
    assert byk[("a", H)][3] is None         # sum_value stays NULL
    assert byk[("a", H)][5] == 1.0 + (7.0 - 1.0) * (1.0 / 3.0)

    plan = fused._sc._jvm.PythonSQLUtils.explainString(
        fused._jdf.queryExecution(), "formatted"
    )
    lines = plan.splitlines()
    gen = next(i for i, ln in enumerate(lines) if "Generate" in ln)
    assert not any(
        "Window" in ln for ln in lines[:gen]
    ), "a Window consumes the dense grid:\n" + plan
