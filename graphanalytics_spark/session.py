"""SparkSession factory tuned for the engine.

Local-mode testing uses ``local[$SPARK_GRAFT_CPUS]``; on a real cluster the
same builder settings apply (AQE on, Arrow on, shuffle partitions sized to
the parallelism). Nothing here is local-mode-specific except the master URL.

At 100 TB scale the knobs that matter are set declaratively so Catalyst/AQE
do the physical planning:
- ``spark.sql.adaptive.enabled`` + ``skewJoin`` — runtime re-planning and
  skew-split of hub-vertex shuffles (the reference hand-codes ghost pruning
  for the same problem; see /root/reference/louvainmod/src/partitionLouvain.cpp:988).
- ``spark.sql.shuffle.partitions`` — sized to total cores; AQE coalesces
  down when partitions are small.
- Arrow execution for every pandas-UDF boundary.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# tmpfs is typically capped at 50% of RAM, and shuffle spill exists to
# relieve memory pressure — routing spill into RAM-backed storage on a
# box without headroom turns spill into OOM/ENOSPC. So tmpfs scratch is
# used only when the mount currently has at least this much free space;
# below it, scratch falls back to disk (the safe default).
TMPFS_MIN_FREE_BYTES = int(
    float(os.environ.get("SPARK_GRAFT_TMPFS_MIN_FREE_GB", "16")) * (1 << 30)
)


def tmpfs_dir_if_roomy(subdir: str | None = None) -> str | None:
    """/dev/shm-backed scratch path, or None when tmpfs is absent, opted
    out (SPARK_GRAFT_TMPFS=0), or too full (< SPARK_GRAFT_TMPFS_MIN_FREE_GB
    free, default 16). Shared gate for the shuffle local dir and the
    lineage-truncation scratch (plans/truncate.py)."""
    if os.environ.get("SPARK_GRAFT_TMPFS", "").lower() in ("0", "false", "no"):
        return None
    if not os.path.isdir("/dev/shm"):
        return None
    try:
        st = os.statvfs("/dev/shm")
    except OSError:
        return None
    if st.f_bavail * st.f_frsize < TMPFS_MIN_FREE_BYTES:
        return None
    return os.path.join("/dev/shm", subdir) if subdir else "/dev/shm"


def get_spark(
    app_name: str = "graphanalytics_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``cpus`` controls local-mode parallelism; ``shuffle_partitions``
    defaults to the same value so one shuffle round fills the cores
    exactly (AQE coalesces small partitions at runtime anyway).
    """
    n = cpus or DEFAULT_CPUS
    sp = shuffle_partitions or n
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE sizes post-shuffle partitions by their BYTES (min 1 MB by
        # default), but several operators expand a small shuffled table by
        # orders of magnitude downstream (wedge enumeration: 19 MB of
        # oriented edges → 49M wedge rows ran on 6 of 32 cores). A lower
        # floor keeps compute-bound stages at the session parallelism;
        # coalescing is still bounded above by shuffle.partitions, so on a
        # cluster this cannot create more partitions than cores.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Join strategy (optimization guide §9/§3.1): let the planner pick
        # shuffled-hash over sort-merge when a side fits per-partition
        # memory, and let AQE convert SMJ→SHJ at runtime below the local
        # map threshold — removes the per-iteration sorts in the
        # co-partitioned state/links joins of the iterative operators.
        # Both knobs are size-gated, so they stay safe at cluster scale.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(128 * 1024 * 1024),
        )
    )
    # shuffle/spill scratch: prefer tmpfs when the host has one WITH
    # headroom (gated by tmpfs_dir_if_roomy — local-mode shuffle is
    # filesystem-bound, but spilling into a near-full tmpfs would trade
    # slow-for-broken); explicit SPARK_GRAFT_LOCAL_DIR always wins, and
    # on a cluster each executor sets its own local dirs anyway
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None:
        local_dir = tmpfs_dir_if_roomy("spark-local")
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

