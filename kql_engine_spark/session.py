"""SparkSession factory with the engine's required configs (SURVEY.md §4.3).

All KQL datetimes are UTC [KQL]; ANSI mode is off so conversions yield null
on failure (KQL `to*()` semantics); Arrow is on for every pandas boundary.
At cluster scale the same builder applies — only master/memory change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory() -> str:
    """Driver heap sized to the host: a quarter of physical memory, clamped
    to 2-6 GiB. In local mode the driver JVM is the whole engine, and a
    heap larger than the machine lets it grow until the kernel kills it.
    SPARK_DRIVER_MEM overrides."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):  # no sysconf (non-POSIX)
        return "4g"
    return f"{min(6, max(2, total // (4 << 30)))}g"


def get_spark(app: str = "kql-engine-spark", master: str | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    master = master or f"local[{cpus}]"
    # Default shuffle parallelism = core count; AQE coalesces downward at
    # small scale so toy inputs don't pay 32-task scheduling, while sf1+
    # aggregation/join shuffles use every core. On a cluster set
    # spark.sql.shuffle.partitions to O(2-3x total cores) on the session
    # passed to kql().
    builder = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # 100 TB posture: CBO join reordering for Q5-shaped pipelines (the
        # KQL author's join order is pipeline order, not the optimal one).
        # CBO needs catalog stats — on a real deployment run
        # `ANALYZE TABLE t COMPUTE STATISTICS FOR ALL COLUMNS` at catalog
        # registration; on path-based parquet reads (this sandbox) AQE's
        # runtime re-planning is the operative lever instead.
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        # Spark's default 10MB: dimension tables broadcast at every scale
        # factor, fact tables shuffle. The previous 64MB made Spark
        # broadcast a 1.5M-row orders table at sf1 (2-3x slower joins) —
        # file-size estimates make big-threshold broadcasts a scale trap.
        .config("spark.sql.autoBroadcastJoinThreshold", "10MB")
        # Scan parallelism: single-node fixtures are 10-150MB files, so the
        # 128MB default puts a whole fact table in ONE scan task (measured
        # 2x on Q1, 9x on JSON extraction at sf1). 8MB keeps all local
        # cores scanning. On a 1000-executor cluster set
        # spark.sql.files.maxPartitionBytes back to >=128MB on the session
        # passed to kql() — task-launch overhead dominates below that at
        # 100TB.
        .config("spark.sql.files.maxPartitionBytes", "8MB")
        # Spark sizes each scan's split as min(maxPartitionBytes,
        # max(openCostInBytes, scan_bytes / cores)), so the open cost is the
        # floor for small scans. At the 4MB default a small file with
        # several row groups (sf10 `documents`: 4.5MB, 5 row groups) scans
        # as 1-2 tasks; 1MB spreads it over the cores (BASELINE.md round 13,
        # b10), while scans above 8MB per core keep 8MB splits.
        .config("spark.sql.files.openCostInBytes", "1MB")
        # Runtime bloom-filter pushdown (round 11): once a filtered dim
        # side outgrows the broadcast threshold, the fact side shuffles
        # ALL its rows into a sort-merge join — the sf10 cost center on
        # Q3/Q5 (BASELINE.md round 11 A/B: q5 4.64s -> 2.68s, -42%).
        # Spark 4 enables the rule by default but gates it on a >=10GB
        # application-side scan and a <=10MB creation side; those defaults
        # assume warehouse-grade tables. 100MB on both matches this
        # engine's regime — the filter fires for any 100MB+ fact scan
        # (sf1+ locally, everything at cluster scale), and the creation
        # side's bloom build is an O(rows) aggregate capped by
        # runtime.bloomFilter.maxNumBits (8MB broadcast) regardless of
        # input size. Bloom filters are conservative (false positives
        # only) — results never change, rows just skip the shuffle. A
        # cluster with other table sizes sets both keys on its own session.
        .config(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "100MB",
        )
        .config("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
