"""Session helpers: the `persisted` cache-lifecycle block, the
Python workers' import path set by `get_spark`, and `tune`'s report of
the confs it could not set."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import warnings
from types import SimpleNamespace

import pytest

from data_pipelines_spark.session import persisted, tune

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
    from data_pipelines_spark.operators.tokenizer import bpe_encode
    from data_pipelines_spark.session import get_spark

    spark = get_spark(master="local[1]", shuffle_partitions=1)
    docs = spark.createDataFrame([(1, "low lower"), (2, "")], "id long, text string")
    rows = bpe_encode(docs, [("l", "o"), ("lo", "w")]).orderBy("id").collect()
    print("ENCODED", [r["bpe_tokens"] for r in rows])
    spark.stop()
    """
)


def test_workers_import_package_from_another_directory(tmp_path):
    """A script that puts the repository on its own ``sys.path`` and
    runs from elsewhere must still reach the package inside the Python
    workers that `bpe_encode`'s `mapInPandas` runs in."""
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
    assert "ENCODED [['low', '</w>', 'low', 'e', 'r', '</w>'], []]" in out.stdout


class _LockedConf:
    """A session's ``conf`` that refuses one key, as a hosting driver
    that has locked it down does."""

    def __init__(self, locked: str):
        self.locked, self.values = locked, {}

    def set(self, key, value):
        if key == self.locked:
            raise RuntimeError(f"Cannot modify the value of {key}\n\tat jvm frame")
        self.values[key] = value

    def get(self, key):
        return self.values.get(key, "200")


def test_tune_warns_once_naming_the_confs_it_could_not_set():
    locked = "spark.sql.adaptive.skewJoin.enabled"
    session = SimpleNamespace(conf=_LockedConf(locked))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert tune(session) is session
    assert len(caught) == 1, [str(w.message) for w in caught]
    message = str(caught[0].message)
    assert f"{locked} (RuntimeError: Cannot modify the value of {locked})" in message
    assert "jvm frame" not in message
    assert session.conf.values["spark.sql.session.timeZone"] == "UTC"
    assert session.conf.values["spark.sql.shuffle.partitions"] == "64"
