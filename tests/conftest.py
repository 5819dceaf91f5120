from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_pipelines_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # Test fixtures are tiny (KBs), so task-dispatch overhead dominates
    # every action: 8 local threads measurably beat local[*]=32 on this
    # suite (test_materialize.py 68.6 s -> 50.2 s, same tests; full
    # suite 27.5 min at local[8]/8). Capped at the host's cores so a
    # smaller host is not oversubscribed; the 8 shuffle partitions stay
    # whatever the thread count. Pinned UNCONDITIONALLY: the
    # $SPARK_GRAFT_CPUS contract governs the bench/driver surfaces
    # (bench.py, __spark_entry__ queries), not this unit-test session —
    # a driver exporting CPUS=32 globally would otherwise make its own
    # verify run strictly slower on KB-sized fixtures. Partition-count
    # independence of results is covered explicitly by
    # test_partition_invariance (its own 7-partition context), and
    # nothing here changes what any test asserts.
    spark = get_spark(
        app_name="data-pipelines-spark-tests",
        master=f"local[{min(8, os.cpu_count() or 8)}]",
        shuffle_partitions=8,
    )
    yield spark
    spark.stop()


@pytest.fixture
def persisted_rdd_ids(spark):
    """Ids of the RDDs the session holds persisted, read on each call.
    Leak checks compare these sets: no id may be added across the run.
    A plain size comparison is not stable in a shared session, as Spark
    holds the RDDs weakly and drops an earlier test's localCheckpoint
    RDDs whenever they are garbage-collected."""
    jsc = spark.sparkContext._jsc
    return lambda: set(jsc.getPersistentRDDs().keySet())
