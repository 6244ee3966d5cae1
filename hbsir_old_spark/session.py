"""SparkSession factory tuned for this engine.

Local mode for tests/bench; the same config keys are what we'd set on a real
cluster (AQE on, shuffle partitions sized to the environment, Arrow on for the
few Pandas-UDF paths). On a 1000-executor cluster only the master/shuffle
sizing changes — operator code is identical.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def ensure_min_partitions(df, minimum: int | None = None):
    """Repartition a DataFrame whose scan produced too few partitions for
    the cluster (e.g. one small parquet file) so expensive per-row
    expressions actually parallelize. No-op for already-parallel inputs —
    at real scale the scan yields thousands of splits and this never fires.

    Contract note: parallelism is *estimated* from ``inputFiles()`` (probing
    ``.rdd`` would force a full pre-AQE physical compile per call). This is a
    heuristic, not a guarantee — a plan that explicitly narrows itself after
    a many-file scan (``coalesce(1)``, ``repartition(1)``) reports many leaf
    files and is left untouched. That is deliberate: an explicit user
    coalesce is a statement of intent this helper should not fight, and the
    engine's own call sites pass freshly-scanned or freshly-created frames.
    Callers who narrow a plan and then want it widened should call
    ``df.repartition(n)`` themselves.
    """
    spark = df.sparkSession
    if minimum is None:
        minimum = spark.sparkContext.defaultParallelism
    # Estimate scan parallelism from the leaf files instead of probing
    # `df.rdd.getNumPartitions()`: touching `.rdd` forces a full physical
    # compile (pre-AQE) of the plan on every call, which is pure planning
    # overhead on wide plans. `inputFiles()` only walks the analyzed logical
    # plan. Splittable formats can yield more partitions than files, so this
    # undercounts for huge files — erring toward a repartition that AQE's
    # coalescing absorbs; at real scale the scan has thousands of files and
    # this never fires. A DataFrame with NO leaf files (createDataFrame,
    # memory sources) falls back to the actual-partition probe — those plans
    # are small local constructions where the compile is cheap, and skipping
    # them entirely would leave exactly the 1-2-partition inputs this
    # function exists to widen.
    if df.isStreaming:
        # streaming plans have no .rdd and no input files; micro-batch
        # parallelism is the source's concern — leave untouched
        return df
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if n_files == 0:
        try:
            if df.rdd.getNumPartitions() < minimum:
                return df.repartition(minimum)
        except Exception:  # exotic sources with no RDD view — leave as-is
            pass
        return df
    if n_files < minimum:
        return df.repartition(minimum)
    return df


def _default_driver_mem() -> str:
    """``min(16g, physical RAM / 4)`` as a JVM size string."""
    cap_mb = 16 * 1024
    try:
        ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    except (AttributeError, ValueError, OSError):
        return f"{cap_mb}m"
    return f"{min(cap_mb, ram_mb // 4)}m"


def get_spark(app_name: str = "hbsir_old_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    AQE handles runtime coalescing and skew joins; shuffle partitions default
    to the local core count (not Spark's 200) so small-SF local runs don't
    drown in empty tasks. On a real cluster, set ``HBSIR_SPARK_SHUFFLE`` to
    ~2-3x total cores.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 8
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("HBSIR_SPARK_SHUFFLE", cpus))
    # glibc malloc tuning for the executor JVM (must be in the environment
    # BEFORE the JVM child process launches; harmless no-op afterwards).
    # Root-caused empirically (round 8): Tungsten task memory is acquired
    # via Unsafe/malloc in multi-MB chunks, and glibc serves chunks above
    # its mmap threshold (dynamic, capped at 32 MiB) with mmap/munmap PER
    # ALLOCATION. 32 task threads allocating and freeing such chunks every
    # task turned into cross-core TLB-shootdown storms — kernel time, not
    # user time: x3's repeats measured 17-114 s wall with ~75% of all 32
    # cores in sys (/proc/stat), adjacent runs 3 s with sys ~1%. Raising
    # the thresholds keeps those chunks inside malloc arenas (reused, no
    # unmap, no shootdown): worst-case repeat dropped 114 s -> ~8 s, and
    # steady-state sys fell 40x. A 256 MiB threshold only defers munmap
    # for allocations a 48 GiB-heap process can absorb; RSS stays bounded
    # by the arenas' high-water mark, which Spark's page accounting caps.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "268435456")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "268435456")
    # Fixed, pre-touched heap (r14, measured): the catastrophic "storm"
    # windows (30-90 s walls with ~20 of 32 cores in KERNEL time on an
    # otherwise-quiet guest) correlate exactly with driver-JVM RSS GROWTH
    # phases — G1 committing/faulting fresh heap pages (and uncommitting
    # them again after cycles) under a memory-overcommitted hypervisor,
    # where every new-page touch is an exit + host-side reclaim. With the
    # old 48g cap the heap ballooned with garbage between rare old-gen
    # collections (RSS 13 -> 41 GiB across four x38b repeats, sys 18-25
    # cores, repeats 28-84 s); a forced System.gc() that collapsed RSS
    # ended the storm instantly, and a FIXED pre-touched heap removes the
    # mechanism outright: -Xms == -Xmx plus AlwaysPreTouch pays every page
    # fault once at session start, so steady state has ZERO heap
    # commit/uncommit traffic. Same x38b repeat loop after the change:
    # 5-15 s per round, sys <= 5 cores, RSS pinned. 16g (not 48g) keeps
    # the pinned footprint modest and makes old-gen collections frequent
    # enough that ContextCleaner's weak-ref reaping of dropped
    # localCheckpoint blocks actually runs; GC itself is parallel USER
    # time, orders cheaper than the kernel storms. The default is capped at
    # a quarter of physical memory: a pinned 16g heap cannot even be mapped
    # on a 15 GiB host. Production overrides: HBSIR_SPARK_DRIVER_MEM sizes
    # the heap, HBSIR_SPARK_DRIVER_JAVAOPTS replaces the flag set entirely.
    driver_mem = os.environ.get("HBSIR_SPARK_DRIVER_MEM") or _default_driver_mem()
    driver_javaopts = os.environ.get(
        "HBSIR_SPARK_DRIVER_JAVAOPTS", f"-Xms{driver_mem} -XX:+AlwaysPreTouch"
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.extraJavaOptions", driver_javaopts)
        # reap dropped localCheckpoint/broadcast blocks on a 5 min cadence
        # instead of the 30 min default: ContextCleaner only frees them
        # after a driver GC processes the weak refs, and iterative
        # checkpoint-heavy operators (CC, LSH) otherwise accumulate dead
        # blocks across a long bench/ingest loop
        .config(
            "spark.cleaner.periodicGC.interval",
            os.environ.get("HBSIR_SPARK_PERIODIC_GC", "5min"),
        )
        # read shuffle/cache blocks with regular IO instead of mmap below
        # 128 MiB: same storm family as the malloc note above — kernel
        # stack samples during slow windows show exc_page_fault + munmap
        # churn, and every munmap of a mapped block costs a cross-core TLB
        # shootdown on a 32-thread executor. Local-mode blocks are far
        # smaller than 128 MiB, so this disables mmap rotation entirely.
        .config("spark.storage.memoryMapThreshold", "128m")
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
