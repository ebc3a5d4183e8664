"""SparkSession bootstrap.

Tuned for correctness-vs-DuckDB parity (UTC session timezone) and for
scale-out behavior that survives a 1000-executor cluster: AQE handles
runtime partition coalescing / skew-join splitting / broadcast
conversion, so the same logical plans re-plan themselves at 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Minimum free space (GiB) on a tmpfs scratch root before shuffle/spill
# is allowed to default there: large scaled runs (the K=100 replica
# benches) can spill tens of GiB, and on tmpfs that is host RAM.
MIN_TMPFS_HEADROOM_GIB = 16


def driver_memory(ram_bytes: int) -> str:
    """spark.driver.memory default: half of physical RAM in whole GiB,
    at least 1g and at most 48g. A heap larger than the host never
    fills to the point where persisted memo blocks are evicted (LRU);
    the kernel kills the JVM first. SPARK_GRAFT_DRIVER_MEM overrides."""
    return f"{max(1, min(48, ram_bytes // 2 // 2**30))}g"


def _default_local_dir() -> str:
    """spark.local.dir default: tmpfs scratch when it has headroom,
    else the system tempdir (disk). The env override in get_spark
    bypasses this entirely."""
    from coursera_etl_pipeline_spark.catalog import scratch_root

    root = scratch_root()
    try:
        st = os.statvfs(root)
        free_gib = st.f_bavail * st.f_frsize / 2**30
    except (OSError, AttributeError):
        free_gib = None
    if free_gib is not None and free_gib < MIN_TMPFS_HEADROOM_GIB:
        import tempfile

        return os.path.join(tempfile.gettempdir(),
                            f"spark_graft_local_{os.getpid()}")
    return os.path.join(root, "spark_local")


def get_spark(app_name: str = "coursera_etl_pipeline_spark",
              cpus: str | int | None = None) -> SparkSession:
    """Create (or fetch) the tuned SparkSession.

    Config rationale (each survives scale-up):
      - AQE on: runtime shuffle-partition coalescing, skew-join
        splitting, sort-merge->broadcast conversion.
      - shuffle.partitions ~= cores locally; on a real cluster AQE's
        coalescing makes the static number mostly irrelevant.
      - session timezone UTC: parquet timestamps compare bit-identical
        with the DuckDB oracle.
      - Arrow on: vectorized createDataFrame/toPandas and pandas UDFs.
    """
    from coursera_etl_pipeline_spark.catalog import scratch_root

    cpus = str(cpus or DEFAULT_CPUS)
    # Shuffle/spill/broadcast scratch on the fastest ephemeral medium
    # (tmpfs locally — the local-mode analogue of pointing local dirs
    # at NVMe on a cluster node). Round 10 traced multi-second bench
    # stall episodes on the heavy-shuffle rows (dedup_index_update
    # 1.4 s -> 4.8 s, identical plans back to back) to shuffle files
    # on the virtio /tmp disk; pure-compute rows never stalled.
    # SPARK_GRAFT_LOCAL_DIR overrides for hosts without RAM headroom;
    # absent the override, the tmpfs default is GATED on free space
    # (ADVICE r10): shuffle/spill competing with working memory can
    # exhaust host RAM, and spilling to RAM defeats the point of
    # spill — below the threshold, fall back to the system tempdir.
    # Takes effect at JVM start only — later getOrCreate calls reuse
    # the first context's dirs, exactly like a real cluster.
    local_dir = (os.environ.get("SPARK_GRAFT_LOCAL_DIR")
                 or _default_local_dir())
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.local.dir", local_dir)
        .config("spark.sql.shuffle.partitions",
                os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))
        .config("spark.default.parallelism", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Runtime SMJ->SHJ conversion: when every MEASURED build-side
        # post-shuffle partition fits the local-map bound, AQE replaces
        # the sort-merge join with a shuffled hash join — the adaptive
        # generalization of q3's manual SHUFFLE_HASH rewrite (sorting
        # the large probe side per partition is the decay trigger the
        # sf100 dissection found). Interleaved A/B at sf10 (r11,
        # tools/ab_aqe_shj_r11.py @ 3f77309): q7 2.14x, q9 3.69x, q3/q5/q10
        # parity, q18 0.93x (noise band). At sf100 on local[32] the
        # bound correctly refuses conversion (build partitions outgrow
        # 128MB at 32 partitions) and plans are unchanged — on a real
        # cluster, shuffle partitioning is sized to ~64-128MB so the
        # conversion fires exactly where it is safe. Decision is made
        # per-join from runtime sizes, so an oversized build side can
        # never be hashed (the OOM risk static preferSortMergeJoin=
        # false would carry).
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                "128MB")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.sql.session.timeZone", "UTC")
        # size(NULL) must be NULL (the Spark 3+ default), never legacy
        # -1: several scoring expressions rely on COALESCE(size(...),0)
        # mapping NULL text to 0 tokens, and a legacy -1 would pass the
        # COALESCE and silently skew token totals vs the DuckDB oracles
        # (ADVICE r16). Pinned so a deployment-inherited legacy conf
        # can't flip it; new code should still prefer the explicit
        # WHEN isNull form (see text.corpus_profile), which needs no
        # conf at all.
        .config("spark.sql.legacy.sizeOfNull", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.driver.memory", os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM", driver_memory(
                os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"))))
        # Extra driver-JVM flags for scale probes (JVM opts are fixed
        # at launch, so this only matters for the process that starts
        # the JVM — e.g. SPARK_GRAFT_DRIVER_JAVA_OPTS=
        # "-XX:GCLockerRetryAllocationCount=64" when chasing the
        # GCLocker humongous-allocation retry crashes the K=1000
        # probes hit; empty default is a no-op).
        .config("spark.driver.extraJavaOptions",
                os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", ""))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
        # InferFiltersFromGenerate clones the generator's child expression
        # into a size()>0 filter and pushes it below exchanges — for the
        # explode-of-computed-array pipelines here (shingles, token sets,
        # band structs) that re-evaluates an expensive higher-order
        # expression in the (often single-partition) scan stage for zero
        # pruning: the arrays are non-empty by construction and explode
        # skips empties anyway. Excluding the rule never changes results.
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
        # Codegen cache, keyed by generated source and class loader (in
        # local mode the driver thread and the task threads each compile
        # a source once): a hit skips the Janino compile, the class load
        # and the JIT warm-up of a fresh class. Spark's default of 100
        # entries is an LRU smaller than one perfbench lap (sql_repeat
        # compiles about 200 classes per lap, corpus_fresh about 150,
        # etl_ingest about 120), so a repeating lap never hits it. One
        # sf0.001 sweep of all registered queries compiles about 1,910;
        # 4096 holds that with headroom, since Guava spreads the bound
        # over its segments. Static conf: the JVM reads it once.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
