"""SparkSession factory with the engine's standard configuration.

Tuned for the pipeline's shape: Arrow-batched pandas UDFs over large string
payloads (small batches), AQE on for skew/coalesce, shuffle partitions sized
by the caller (local testing default 32; a real cluster would set this to
2-3× total cores).
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession


def _export_package_to_workers() -> None:
    """Executor Python workers are separate processes: they inherit the
    JVM's environment, not the driver's ``sys.path``.  Exporting the package
    root on PYTHONPATH *before* the JVM launches makes ``import
    logtemplatecrawler_spark`` work in UDFs regardless of the caller's cwd
    (production jobs get the same effect from ``--py-files``)."""
    pkg_root = str(Path(__file__).resolve().parents[1])
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )


def build_session(app_name: str = "logtemplatecrawler-spark",
                  master: str | None = None,
                  shuffle_partitions: int | None = None,
                  arrow_batch_rows: int = 256,
                  max_partition_bytes: str | None = None) -> SparkSession:
    _export_package_to_workers()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or (int(cpus) if str(cpus).isdigit() else 32)
    # Pages are CPU-heavy per input byte (Arrow UDF extract/parse): small
    # scan splits keep every core busy at local test scale.  At warehouse
    # scale (TB inputs) the 128m default is right — override via env.
    max_partition_bytes = max_partition_bytes or os.environ.get(
        "SPARK_GRAFT_MAX_PARTITION_BYTES", "4m"
    )
    arrow_batch_rows = int(os.environ.get("SPARK_GRAFT_ARROW_BATCH", arrow_batch_rows))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.files.maxPartitionBytes", max_partition_bytes)
        .config("spark.sql.files.openCostInBytes", "262144")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        # Join strategy (optimization guide §3.1/§9): allow shuffled hash
        # join where a per-partition build side fits — skips both sort
        # passes of sort-merge; AQE's local-map threshold lets it rewrite
        # SMJ → SHJ at runtime from observed sizes.  Both env-overridable
        # for clusters where executor memory per task is tighter.
        .config("spark.sql.join.preferSortMergeJoin",
                os.environ.get("SPARK_GRAFT_PREFER_SMJ", "false"))
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                os.environ.get("SPARK_GRAFT_SHJ_LOCAL_MAP", "64m"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # The checkpoint formats' snapshot_exists (ParquetManifestFormat and
        # its bucketed subclass) trusts the _SUCCESS marker as the
        # write-completeness signal; object-store configs commonly turn
        # it off (marksuccessfuljobs=false), which would make every committed
        # snapshot read as absent on resume — pin it on (ADVICE r03).
        .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs",
                "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    return builder.getOrCreate()
