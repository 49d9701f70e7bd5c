"""SparkSession factory with scale-appropriate defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]``; the same configs are the
right starting point for a 1000-executor cluster (AQE re-plans shuffles at
runtime, coalesces small partitions, and rewrites skewed joins).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem(cpus: str) -> str:
    """~1g per local task thread, floor 8g — unless 80% of physical RAM
    is lower, which wins (hard floor 2g on tiny boxes)."""
    want = max(8, int(cpus)) if cpus.isdigit() else 8
    try:
        total_gb = (
            os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / (1 << 30)
        )
        want = max(2, min(want, int(total_gb * 0.8)))
    except (OSError, ValueError, AttributeError):
        pass  # non-POSIX introspection failure: keep the thread-scaled ask
    return f"{want}g"


def get_spark(
    app_name: str = "flux-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    periodic_gc: str | None = "2min",
) -> SparkSession:
    """Build a session with scale-appropriate defaults.

    ``periodic_gc`` sets ``spark.cleaner.periodicGC.interval`` (pass
    ``None`` to keep Spark's 30 min default). Shuffle files live in
    ``spark.local.dir`` until the ContextCleaner's periodic driver GC
    releases them; at the 30 min default a long-lived session running
    many queries accumulates dead shuffle state — 100+ GB at sf100 —
    and can fill the disk before a single cleanup fires (a wall run
    died ENOSPC exactly this way). 2 min bounds transient disk to a
    few queries' worth and is a no-op-sized pause on small sessions,
    so it is the engine default, not a bench-only posture.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "4")
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 4)
        except ValueError:
            shuffle_partitions = 32
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # In local[N] mode this one heap is driver AND all N executor
        # threads: 32 concurrent tasks sharing 8g is ~250 MB of unified
        # memory each, which big sorts/aggregations exhaust (the sf30
        # ladder run died in a heap OOM there). Scale the default with
        # the thread count — ~1g per task thread, floor 8g — but capped
        # at 80% of physical RAM (a 64-core/32 GB box must not ask for a
        # 64g heap the OS will refuse or OOM-kill); explicit
        # SPARK_GRAFT_DRIVER_MEM still overrides.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem(cpus)),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # r13 (guide §3.1): let AQE rewrite a sort-merge join to a
        # shuffled-hash join at runtime when EVERY post-shuffle
        # partition of the build side is under 256 MB — skips both
        # sort legs where a per-partition hash table provably fits.
        # Measured -11% on the join-heavy query subset at sf0.1; safe
        # at scale because the bound is per-partition and enforced on
        # runtime sizes, not planner estimates (the default, 0,
        # disables the rewrite). zstd shuffle compression was measured
        # too and REGRESSED (+7% vs this) on local fast disks — not
        # adopted; revisit on network-bound clusters.
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_THRESHOLD", "256m"),
        )
    )
    if periodic_gc is not None:
        b = b.config("spark.cleaner.periodicGC.interval", periodic_gc)
    if master.startswith("local"):
        # Local test files are MBs, not the 128 MB+ a lake produces, so the
        # default 4 MB open-cost floor collapses every small table to ONE
        # scan task — compute-dense narrow chains (explode + higher-order
        # exprs over text/vector columns) then run serially no matter how
        # many cores local[N] has. Dropping the floor lets maxSplitBytes
        # track bytes-per-core (totalBytes / defaultParallelism), i.e.
        # splits ~= cores at any file size. Cluster deployments keep
        # Spark's defaults: with real file sizes the floor never binds.
        b = b.config("spark.sql.files.openCostInBytes", str(64 * 1024))
        # Above this many paths InMemoryFileIndex lists them with a Spark
        # job of one task per path. Every micro-batch of the file stream
        # source hands it each new segment file, so a drain over a topic of
        # ~200 small segments paid a 200-task listing job (1-2 s) before
        # its scan. Driver and executors share one disk in local mode, so
        # parallel listing buys nothing: always list on the driver.
        # Cluster deployments keep the default (32), where parallel
        # listing pays off on object stores.
        b = b.config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(2**31 - 1),
        )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Make ``flux_spark`` importable on executors regardless of cwd —
    the local-mode equivalent of ``spark-submit --py-files``."""
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    try:
        tmp = tempfile.mkdtemp(prefix="flux-spark-pyfiles-")
        zip_base = os.path.join(tmp, "flux_spark_pkg")
        root = os.path.dirname(pkg_dir)
        archive = shutil.make_archive(zip_base, "zip", root_dir=root, base_dir="flux_spark")
        spark.sparkContext.addPyFile(archive)
    except Exception:
        # Best-effort: self-contained UDF closures keep working without it.
        pass
