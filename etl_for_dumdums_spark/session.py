"""SparkSession factory.

Tuned for the test environment (local[N], single JVM) while keeping every
setting cluster-safe: AQE handles runtime re-planning (join strategy, skew,
partition coalescing) at any scale; UTC session timezone pins timestamp
semantics for oracle comparison; Arrow is enabled for the pandas boundary.

Also the one lifecycle for persisted intermediates: every frame a query
persists goes through ``pin`` and is freed by ``release`` after the
caller's terminal action.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# frames persisted by pin() and not yet released, with their truncate flag
_PINNED: list[tuple[DataFrame, bool]] = []


def get_spark(app_name: str = "etl_for_dumdums_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # ~cores shuffle partitions locally; AQE coalesces further at runtime.
        # On a real cluster this would be set ~2-3x total cores.
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # start shuffles wide and let AQE coalesce DOWN: at small SF the
        # runtime merges the 256 map outputs back to a handful of reducers
        # (no extra tasks), while 600M-row shuffles (the 1000× probe's
        # join_agg_then_left) keep real parallelism instead of 32 spilling
        # 19M-row sort-merge partitions. Cluster equivalent: initial
        # partition count ~2-3x total cores, advisory size 64MB.
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "256")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # NOTE: oversized local heaps (48g+) cost seconds of first-query GC
        # setup on this box; 16g is ample for local SFs. Cluster deployments
        # size executors separately — this knob is local-mode only.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # test parquet carries INT64 TIMESTAMP(NANOS) columns, which Spark
        # cannot map to TimestampType; read them as raw nanos longs and let
        # the Tables accessor cast (truncating to micros, matching DuckDB).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def pin(df: DataFrame, truncate: bool = False) -> DataFrame:
    """Persist ``df`` for reuse and record it until ``release()``.

    ``pin(df)`` is exactly ``df.cache()``. ``pin(df, truncate=True)`` is
    ``df.localCheckpoint(eager=True)``: materialized now, lineage cut (the
    per-round form of iterative algorithms). Either way the frame stays
    persisted until ``release()``, which callers run after their terminal
    action: a frame whose driver-side results (collected offsets, a
    convergence test) shaped the downstream plan must not be recomputed
    before that action runs."""
    df = df.localCheckpoint(eager=True) if truncate else df.cache()
    _PINNED.append((df, truncate))
    return df


def release(*frames: DataFrame) -> None:
    """Free the named pinned frames, or every pinned frame when none are
    named, blocking until their blocks are gone, and forget them.

    ``DataFrame.unpersist()`` and ``catalog.clearCache()`` cannot free a
    localCheckpoint: its blocks belong to the RDD behind the frame's
    ``LogicalRDD``, so a truncated frame unpersists that RDD instead."""
    keep = []
    for df, truncate in _PINNED:
        if frames and not any(df is f for f in frames):
            keep.append((df, truncate))
        elif truncate:
            df._jdf.queryExecution().analyzed().rdd().unpersist(True)
        else:
            df.unpersist(blocking=True)
    _PINNED[:] = keep
