"""SparkSession factory tuned for the engine.

Defaults assume local[N] for tests but every setting is chosen for cluster
scale: AQE (runtime re-plan + skew-join splitting), partial aggregation, a
shuffle-partition count sized by the caller, UTC session time (deterministic
timestamp semantics matching the DuckDB oracle), and Arrow for the few
pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "xena-gdc-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with engine defaults.

    Args:
        master: Spark master; defaults to ``local[$SPARK_GRAFT_CPUS]`` (or
            ``local[*]``) when not already running on a cluster.
        shuffle_partitions: default parallelism for shuffles. On a real
            cluster this should be ~2-3x total cores; AQE coalesces down.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32

    return (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing, skew-join splitting, plan re-opt.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Deterministic timestamp semantics (parity with DuckDB oracle).
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet TIMESTAMP(NANOS) isn't a Spark type; read as long and let
        # the catalog convert ns → µs (Spark timestamp precision).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Arrow for the pandas-UDF paths (multimodal decode, etc.).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Broadcast threshold: dim/mapping tables join broadcast-side.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Serving-session heap discipline: the SQL app-status store
        # retains per-execution plan graphs + metrics even with the UI
        # off (default 1000 executions). The round-14 soak measured
        # ~3.3 MB/iteration of monotonic post-GC heap growth from
        # exactly this — bounded at the default, but ~hundreds of MB of
        # dead-weight for a long-lived server answering thousands of
        # queries. 64 retained executions keeps recent diagnostics and
        # makes the soak's heap series flat (scripts/serve_soak.py,
        # BASELINE §serve-soak).
        .config("spark.sql.ui.retainedExecutions", "64")
        # ...and the job/stage/task stores (defaults 1000/1000/100k):
        # the A/B soak showed executions alone leaves ~1 MB/iter of
        # creep from task/stage records; with all four bounded the
        # 30-iteration heap series is flat.
        .config("spark.ui.retainedJobs", "100")
        .config("spark.ui.retainedStages", "100")
        .config("spark.ui.retainedTasks", "2000")
        .getOrCreate()
    )
