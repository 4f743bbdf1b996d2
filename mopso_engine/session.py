"""Tuned SparkSession factory — the engine's recommended configuration,
with the 100 TB rationale spelled out per knob.

Local testing uses local[N]; on a real cluster only master/memory change —
the SQL knobs below are the ones that decide whether the plans in this
repo stay shuffle-frugal at scale.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def build_session(
    *,
    master: str = "local[32]",
    app_name: str = "mopso-engine",
    shuffle_partitions: int | None = None,
    driver_memory: str = "24g",
) -> SparkSession:
    """SparkSession with the engine's scale-oriented defaults.

    * ``spark.sql.adaptive.enabled`` + coalesce — AQE right-sizes
      post-shuffle partitions at runtime, so a fixed shuffle_partitions
      only needs to be an upper bound; skewJoin splits hot keys in the
      dedup/ANN equality joins.
    * ``spark.sql.shuffle.partitions`` — upper bound ≈ 2-3× total cores
      locally; on a cluster, ≈ 2× total executor cores (AQE coalesces down).
    * ``spark.sql.files.maxPartitionBytes`` 128m — scan partitions sized so
      a row batch plus the kernels' scratch (2 MB distance-matrix blocks,
      see objectives._BLOCK_CELLS) fits executor memory.
    * Arrow batch 8192 — the pandas-UDF kernels vectorize well past 2k
      rows; larger batches just raise peak memory.
    * runtime bloom-filter join pruning — when a fact⋈fact join's build
      side carries a selective filter, Catalyst injects a
      ``bloom_filter_agg`` on the build keys and a ``might_contain``
      probe into the OTHER side's scan, so non-joining rows die at the
      scan instead of riding the shuffle (plan-pinned in test_plans).
      At 100 TB this is the difference between shuffling the whole
      fact table and shuffling the ~matching sliver; the creation-side
      threshold is raised to 100 MB because a filtered dimension-like
      side of that size is still worth one bloom build.
    """
    cores = 32
    if master.startswith("local[") and master[6:-1].isdigit():
        cores = int(master[6:-1])
    sp = shuffle_partitions or max(2 * cores, 16)
    return (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
        # Let AQE right-size CACHED plan output too (SPARK-38918,
        # default false): without it a persisted implicit-shuffle
        # output (the pruned-tf table, any persisted groupBy result)
        # is stored at the full shuffle width — 64 near-empty blocks
        # for a 31k-row cache here — and EVERY consumer stage schedules
        # that many tasks. Measured r14: flat on the explicit-N
        # repartition caches (graph adjacency, shingle tables — AQE
        # never touches user-specified partitioning, so their reported
        # hash distribution and the per-iteration zero-exchange joins
        # survive; pagerank/dedup/fit A/B flat) and 35-47% off the
        # whole retrieval family (hybrid_rerank 8.4→4.4s). At cluster
        # scale the same rule right-sizes cached intermediates instead
        # of pinning them to the configured shuffle width.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.driver.memory", driver_memory)
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # ContextCleaner only reclaims shuffle files / broadcasts after a
        # driver GC notices the dead references — with a large heap that
        # can be never, so long sessions (the 71-query bench, a
        # multi-query notebook) accumulate shuffle state on disk. A
        # 1-minute periodic GC bounds that accumulation; on a cluster the
        # same knob bounds per-executor shuffle-dir growth.
        .config("spark.cleaner.periodicGC.interval", "1min")
        .getOrCreate()
    )
