"""SparkSession factory for the engine.

Scale design (SURVEY §4.2): everything here is config, not code — on a
1000-executor cluster the same engine runs with a cluster master URL and
dynamic allocation; AQE handles shuffle-partition coalescing and skew-join
splitting at runtime, which is the knob that matters at 100 TB.

The runtime confs are also applied to *externally created* sessions
(`apply_runtime_confs`) because the driver harness passes its own
SparkSession into ``entry()`` / ``queries()`` — the ns-timestamp read conf
and UTC session timezone must hold there too (SURVEY §1.2 gotcha).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Session-level confs the engine depends on. All are runtime-settable.
ENGINE_CONFS: dict[str, str] = {
    # events.parquet stores TIMESTAMP(NANOS); Spark's vectorized reader
    # rejects it by default. Read as LongType ns and convert in the
    # catalog loader (SURVEY §1.2).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Cross-engine timestamp parity with the (naive-timestamp) DuckDB
    # oracle requires a fixed session timezone.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime shuffle coalescing, skew-join splitting, broadcast
    # promotion — the core 100 TB safety nets.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # r15 note (guide §2.5, measured and REJECTED): lowering
    # coalescePartitions.minPartitionSize to 64k to parallelize CPU-
    # dense post-shuffle stages read 10-20% SLOWER on the dedup bench
    # (alternating in-session A/B, 3 cycles: near_lsh 2.32→2.54 s,
    # minhash_band 1.66→2.08 s, lines_nl 1.74→1.81 s best-of-3) — the
    # extra task/block overhead outweighs the parallelism on ~MB
    # shuffles. The scan-side fan_out floor (ops/relational.py) is the
    # lever that works; the stock 1m floor stays.
    # r15 opt-wave-2 (guide §9, measured and REJECTED):
    # coalescePartitions.parallelismFirst=false (size-based coalescing,
    # the guide-§9 posture) cut task counts on tiny post-shuffle stages
    # but serialized the CPU-dense ones — alternating in-session A/B:
    # cluster_lsh 12.4→9.0 s but q_dedup_near 1.26→2.18 s, q_dedup_cc
    # 2.10→3.03 s, pagerank 3.06→3.71 s best-of-3 — net negative on the
    # bench set for the same reason as the minPartitionSize experiment
    # above. The stock parallelism-first default stays.
    # Arrow for any pandas interchange (UDF tiers, toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    if cpus.isdigit():
        return int(cpus)
    return os.cpu_count() or 8


def default_driver_memory() -> str:
    """``$PIPETREE_SPARK_DRIVER_MEM``, else the smaller of 16g and half
    of physical memory (a fixed 16g would exceed a smaller machine's RAM)."""
    override = os.environ.get("PIPETREE_SPARK_DRIVER_MEM")
    if override:
        return override
    try:
        phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    except (AttributeError, ValueError, OSError):
        return "16g"
    return f"{min(16 << 10, phys_mb // 2)}m"


def get_spark(
    app_name: str = "pipetree-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Local test profile: ``local[$SPARK_GRAFT_CPUS]`` with
    ``shuffle.partitions`` matched to core count (BASELINE.md used 32).
    At cluster scale, pass a cluster ``master`` and let AQE coalesce the
    (deliberately generous) shuffle partition count.
    """
    cores = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(cores, 8)))
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for key, value in ENGINE_CONFS.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    apply_runtime_confs(spark)
    return spark


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply the engine's required session confs to any session.

    Idempotent; used on driver-owned sessions before every catalog read.
    """
    for key, value in ENGINE_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # Conf not settable at runtime in this build — leave as-is.
            pass
    return spark
