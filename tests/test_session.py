"""Session helpers: the `persisted` cache-lifecycle block and the
Python workers' import path set by `get_spark`."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

from data_pipelines_spark.session import persisted

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_persisted_releases_on_raise_and_spares_caller_cache(
    spark, persisted_rdd_ids
):
    before = persisted_rdd_ids()
    mine = spark.range(10).selectExpr("id * 2 AS v")
    theirs = spark.range(10).selectExpr("id * 3 AS v").persist()
    try:
        theirs.count()
        with pytest.raises(RuntimeError, match="boom"):
            with persisted(mine, theirs):
                assert mine.storageLevel.useMemory
                mine.count()
                raise RuntimeError("boom")
        assert not mine.storageLevel.useMemory
        assert theirs.storageLevel.useMemory  # the caller's cache stays
        assert len(persisted_rdd_ids() - before) == 1  # theirs alone
    finally:
        theirs.unpersist()


_WORKER_SCRIPT = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, sys.argv[1])
    from data_pipelines_spark.operators.spatial import rasterize_zones
    from data_pipelines_spark.session import get_spark

    spark = get_spark(master="local[1]", shuffle_partitions=1)
    zones = spark.createDataFrame(
        [(1, "POLYGON ((0 0,2 0,2 2,0 2,0 0))")], "id long, geometry string"
    )
    pixels = spark.createDataFrame([(0.5, 0.5), (3.5, 3.5)], "x double, y double")
    rows = rasterize_zones(pixels, zones, bucket_size=2.0).collect()
    print("ZONED", [(r["x"], r["id"]) for r in rows])
    spark.stop()
    """
)


def test_workers_import_package_from_another_directory(tmp_path):
    """A script that puts the repository on its own ``sys.path`` and
    runs from elsewhere must still reach the package inside the Python
    workers that `rasterize_zones`' point-in-polygon test runs in."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", _WORKER_SCRIPT, _REPO],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
        cwd=tmp_path,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert "ZONED [(0.5, 1)]" in out.stdout
