"""SparkSession factory.

The reference runs single-process Python against MongoDB with all time
handling pinned to Asia/Jakarta (``dags/fetch_weather.py:14``,
``docker-compose.yml:38``). Here the equivalents are session-level configs:
Jakarta session timezone, AQE for runtime re-planning (skew joins, empty-side
shortcuts), and shuffle partitions sized to the local core count — on a real
cluster these come from the submit conf instead.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "etl-weather-jabar-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Scale notes (100 TB design): every config here is a *default* for local
    runs; on a 1000-executor cluster the same code runs with cluster-sized
    ``spark.sql.shuffle.partitions`` (or, better, AQE coalescing from an
    intentionally high initial count) and dynamic allocation. Nothing in the
    engine assumes local mode.
    """
    n = shuffle_partitions or default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        # Jakarta wall-clock everywhere, like the reference (fetch_weather.py:14).
        .config("spark.sql.session.timeZone", "Asia/Jakarta")
        # AQE: runtime shuffle-partition coalescing, skew-join splitting,
        # broadcast demotion — the knobs the reference hand-rolled (SURVEY §4.1).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(n))
        # Dynamic partition overwrite: a partitionBy(...).mode("overwrite")
        # write replaces only the partitions it writes. The ext index
        # writes of that form run under it (ext/search.py shard postings,
        # ext/similarity.py IVF lists).
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # Arrow for the few pandas-UDF paths (multimodal, fallback mode agg).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Optimization round 8: a harness/bench session runs hundreds of
        # queries, each leaving localCheckpoint/persist blocks whose
        # unpersist waits on the ContextCleaner — which only triggers a
        # driver GC every spark.cleaner.periodicGC.interval (default
        # 30 MINUTES, longer than the whole bench). Dead blocks pile up in
        # the block manager, and late queries pay eviction churn + GC
        # thrash (measured: the last tier-3 stretch inflated ~3.5× vs the
        # same queries re-run minutes later). A 90 s cadence keeps cleanup
        # bounded; parameterized for clusters where full GCs are costlier.
    )
    on_cluster = bool(os.environ.get("SPARK_GRAFT_ON_CLUSTER"))
    # The aggressive 90 s default is only safe where the concurrent-GC
    # JVM flag below also applies (round-8 advisor): on a cluster whose
    # submit conf lacks -XX:+ExplicitGCInvokesConcurrent each periodic
    # System.gc() is a stop-the-world FULL collection (~1.4× measured
    # query inflation). Clusters opt in via SPARK_GRAFT_PERIODIC_GC and
    # must pair it with the concurrent-GC flag in their executor/driver
    # java options; locally both halves ship together.
    periodic_gc = os.environ.get(
        "SPARK_GRAFT_PERIODIC_GC", None if on_cluster else "90s"
    )
    if periodic_gc:
        builder = builder.config(
            "spark.cleaner.periodicGC.interval", periodic_gc
        )
    if not on_cluster:
        builder = builder.master(f"local[{default_parallelism()}]")
        # In local mode the driver IS the executor: 32 task threads on
        # the 1g default heap survived ~200-query harness sessions only
        # by luck, and the round-5 full-registry sf0.1 pass finally
        # OOM-killed the JVM mid-run (py4j "connection refused" for
        # every query after). Size the heap to the thread count; a real
        # cluster takes executor memory from the submit conf instead.
        # Effective only for the process's FIRST session (JVM already
        # up otherwise), which is exactly the harness/bench shape.
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
        # The periodic cleaner GC above calls System.gc(); with G1's
        # default that is a stop-the-world FULL collection whose pause
        # lands inside whatever query is running (measured: broad ~1.4×
        # inflation of the early bench tier once the 90 s cadence was
        # on). ExplicitGCInvokesConcurrent turns it into a concurrent
        # cycle — reference processing still feeds the ContextCleaner,
        # without the pause. Effective for the process's FIRST session
        # (JVM flag), exactly like the memory setting above. The GC flag
        # is APPENDED to any user-supplied extra options (round-8
        # advisor): a whole-string replacement would silently drop it
        # and reintroduce the 90 s STW pauses.
        user_opts = os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", "")
        gc_flag = "-XX:+ExplicitGCInvokesConcurrent"
        if gc_flag not in user_opts:
            user_opts = f"{user_opts} {gc_flag}".strip()
        builder = builder.config("spark.driver.extraJavaOptions", user_opts)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
