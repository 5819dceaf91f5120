"""SparkSession construction and tuning.

Two entry points:

- :func:`get_spark` builds a session for local runs (tests, bench) with
  the scale-oriented defaults baked in at construction time.
- :func:`tune` applies the subset of those defaults that are runtime
  mutable to an *externally provided* session (the correctness driver
  hands us its own session), so queries behave identically either way.

Two context managers scope state to a block of jobs:
:func:`scheduler_pool` and :func:`persisted` (the cache-lifecycle rule).
"""

from __future__ import annotations

import os
import warnings
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

# Runtime-mutable confs, applied defensively to any session we receive.
_RUNTIME_CONF = {
    # Deterministic timestamp rendering regardless of host TZ.
    "spark.sql.session.timeZone": "UTC",
    # Adaptive execution: runtime coalescing, skew-join splitting,
    # broadcast-join conversion from runtime stats.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas-interop path (Pandas UDFs, toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Dimension tables in this engine are small; let more joins broadcast.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # ObjectHashAggregate (collect_list/percentile/typed-imperative
    # aggregates — the ensemble-quantile, span-position and argmax
    # collects in this engine) silently degrades to SORT-based
    # aggregation once a task's hash map holds more than this many
    # groups; the Spark default of 128 means effectively every such
    # aggregate here was sorting its entire partition. The engine's
    # collected buffers are all bounded by design (ensemble width,
    # steps-per-cell, tokens-per-doc, lines-per-order), so the memory
    # per entry is small and a six-figure group count per task is
    # well inside executor memory; the fallback still exists as the
    # safety valve past this point. Scale-dependent, so overridable:
    # size it to expected groups-per-task × buffer bytes on a real
    # cluster ($SPARK_GRAFT_OBJ_AGG_FALLBACK).
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold": os.environ.get(
        "SPARK_GRAFT_OBJ_AGG_FALLBACK", str(128 * 1024)
    ),
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-mutable engine defaults to an existing session.

    A conf the hosting driver has locked down keeps the host's value;
    the engine still functions with it, and one warning names every
    key that could not be set, with its error.
    """
    failed: dict[str, Exception] = {}
    for key, value in _RUNTIME_CONF.items():
        try:
            spark.conf.set(key, value)
        except Exception as exc:
            failed[key] = exc
    key = "spark.sql.shuffle.partitions"
    try:
        # The stock 200 shuffle partitions waste task overhead at local
        # scale and in iterative plans AQE can't re-coalesce (e.g.
        # after localCheckpoint). Only replace the untouched default —
        # an explicitly configured value (ours or the host's) wins.
        if spark.conf.get(key) == "200":
            spark.conf.set(key, "64")
    except Exception as exc:
        failed[key] = exc
    if failed:
        # First line only: a JVM-side error carries its whole stack trace.
        detail = "; ".join(
            f"{k} ({type(e).__name__}: {(str(e).strip().splitlines() or [''])[0]})"
            for k, e in failed.items()
        )
        warnings.warn(
            f"could not set Spark confs, the session keeps its own values: {detail}",
            stacklevel=2,
        )
    return spark


@contextmanager
def scheduler_pool(spark: SparkSession, pool: str):
    """Run the enclosed jobs in a named fair-scheduler pool (reference
    D7: Dagster's run-queue concurrency limit by tag, `dagster.yaml:1-8`).

    Spark's native form of per-workload concurrency control: with
    ``spark.scheduler.mode=FAIR`` each pool gets its own share/weight
    (configured via ``spark.scheduler.allocation.file``), so e.g. a
    `sequential_backfill` pool with minShare 0 / weight 1 cannot starve
    the interactive pool. The pool assignment itself is a thread-local
    property and is honored in any scheduling mode; it is restored (not
    just cleared) on exit so pools nest.
    """
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.scheduler.pool")
    sc.setLocalProperty("spark.scheduler.pool", pool)
    try:
        yield spark
    finally:
        sc.setLocalProperty("spark.scheduler.pool", prev)


@contextmanager
def persisted(*frames: DataFrame):
    """Cache ``frames`` for the actions run inside the block, then
    release them on exit, normal or raised.

    This is the engine's one cache-lifecycle rule: the code that runs
    the actions over a reused frame persists it with this block, so the
    cache lives exactly as long as those actions. A frame the caller has
    already cached is left alone, on entry and on exit — releasing it
    would silently recompute whatever the caller reuses it for
    afterwards. Every site uses the default storage level.

    A query builder that returns a lazy frame cannot release a cache
    its result still reads, so there the ``.persist()`` stays at the
    reuse point and the harness running the query owns the blocks
    (``bench.py`` clears the cache between passes).
    """
    owned: list[DataFrame] = []
    try:
        for df in frames:
            level = df.storageLevel
            if not (level.useMemory or level.useDisk):
                df.persist()
                owned.append(df)
        yield
    finally:
        for df in owned:
            df.unpersist()


def get_spark(
    app_name: str = "data-pipelines-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a tuned SparkSession for local execution.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all cores).
    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster this would instead be sized to ~2-3x total executor cores
    (or left to AQE's coalescing with a high initial value).

    The directory holding this package goes on the Python workers'
    path (Spark appends any exported ``PYTHONPATH`` after it): workers
    start in the driver's working directory, so without it a script run
    from anywhere but the repository root fails in its first Python UDF.
    """
    package_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 1)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", package_root)
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Janino-compiled class cache (static conf — build time only).
        # The default of 100 entries thrashes as soon as one session
        # executes a mixed workload: the 16 headline bench queries alone
        # plan >100 WholeStageCodegen/aggregate classes per pass, so the
        # widest plans (the 64-column minhash signature aggregate, the
        # est/verify stages) were Janino-RECOMPILED on every repetition —
        # measured +48 classes and ~+1.5 s per bench pass on
        # minhash_near_dup_pairs alone (probe: bench-context 4.8-5.0 s vs
        # 0 recompiles / ~3.2 s standalone, same JVM). Long-lived
        # sessions at scale run far more than 100 distinct plans; cached
        # generated classes are a few KB-100 KB each, so 4096 entries is
        # bounded by ~100s of MB of metaspace in the worst case.
        .config(
            "spark.sql.codegen.cache.maxEntries",
            os.environ.get("SPARK_GRAFT_CODEGEN_CACHE", "4096"),
        )
    )
    for key, value in _RUNTIME_CONF.items():
        builder = builder.config(key, value)
    return tune(builder.getOrCreate())
