"""SparkSession factory tuned for the engine.

Defaults are chosen for the local[32] test harness but the same knobs are
what we'd set on a real cluster: AQE on (runtime re-planning, skew-join
handling, partition coalescing), Arrow for any Python exchange, and a
shuffle-partition count sized to the parallelism rather than Spark's
legacy default of 200.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "pandas-plus-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    rocksdb_state_store: bool = False,
) -> SparkSession:
    """Create (or reuse) a SparkSession with engine defaults.

    On a real cluster the master/memory settings come from the deploy
    environment; everything else here is cluster-appropriate as-is.

    ``rocksdb_state_store=True`` switches Structured Streaming state to the
    RocksDB provider — REQUIRED at corpus scale for the stateful operators
    (streaming dedup keeps one key per distinct id inside the watermark;
    windowed aggs one row per key×window): the default HDFS-backed store
    keeps all state on the JVM heap, so executor memory caps total state,
    while RocksDB spills to local disk and bounds heap to block cache.
    Off by default locally — the replay gates' state is test-sized, and the
    provider writes per-executor disk files the test harness doesn't need.
    State sizing notes: PLANS.md §streaming state at scale.
    """
    cpus = int(cpus or os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = int(shuffle_partitions or max(2 * cpus, 32))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # AQE: runtime coalescing of small shuffle partitions, skew-join
        # splitting, and dynamic join-strategy switching. Essential at scale.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        # Let AQE re-size CACHED plan output too (default false): the
        # engine's pipelines persist small-by-construction intermediates
        # (LSH bucket entries, candidate pairs, vocabulary counts, prefix
        # offsets) whose final exchange otherwise materializes at the full
        # static shuffle-partition count — every downstream consumer then
        # pays one micro-task per pinned partition. With AQE sizing the
        # cache, partition count follows the DATA (advisory size at corpus
        # scale, fewer tasks for small frames); CPU-heavy consumers keep
        # their parallelism via util.ensure_parallelism. Measured r15
        # (same-boot full-suite A/B at sf0.1, OPTIMIZATION_r15.md):
        # headline 56.9 -> 50.6 s; minhash_neardup 6.7 -> 3.7 s,
        # incremental_dedup_indexed 4.1 -> 2.8 s, token_budget 1.5 -> 0.7 s.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        # Arrow for pandas UDFs / toPandas — the only sanctioned Python path.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Local fixtures are SINGLE small parquet files: at the default
        # 128 MB split size a 50 MB corpus scans as 2 tasks, and every
        # scan-pushed expression (filters push through repartition, so
        # ensure_parallelism cannot help them) runs on 2 of 32 cores. Small
        # splits restore scan parallelism here; on a real cluster the input
        # is thousands of files/row-groups, splits are naturally plentiful,
        # and this knob should be left at (or returned to) its default.
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.sql.files.openCostInBytes", "1m")
        # Deterministic timestamp behavior regardless of host timezone.
        .config("spark.sql.session.timeZone", "UTC")
        # PySpark's DataFrame debugging wrapper records the Python call site
        # of every functions/Column call, at extra py4j round trips each.
        # Off, building perfbench's three fresh groupby queries (masked_sum,
        # crosstab_pivot, apply_zscore at sf0.1) took 304-364 py4j calls per
        # warm pass instead of 764-1089. Trade-off: errors lose the Python
        # call site from their DataFrame query context.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Generated-class cache (static conf, default 100): running the nine
        # registry queries of both perfbench workloads in one session, every
        # warm pass recompiled 67-96 evicted classes at 100 and none at
        # 1000. Trade-off: up to 1000 compiled classes stay on the heap.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if rocksdb_state_store:
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        ).config(
            # changelog checkpointing: upload per-batch deltas instead of
            # full RocksDB snapshots — the difference between O(state) and
            # O(changes) checkpoint traffic on large stateful queries
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
    return builder.getOrCreate()
