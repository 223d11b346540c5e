"""SparkSession factory tuned for the extraction workload.

Local-mode defaults mirror what we'd set cluster-side: AQE on (runtime
coalesce + skew handling), Arrow on (every heavy stage is an Arrow
batch stage: mapInArrow/mapInPandas or an Arrow/pandas UDF), UTC
session TZ (oracle comparison), shuffle partitions ≈ cores (not 200).

Python workers are reused across tasks (``spark.python.worker.reuse``,
on by default), so a worker pays interpreter start and imports once, and
what is left per task is PySpark's per-task setup. That setup is why the
package installs its zipimporter shim (``htrtf_spark/__init__.py``): on
CPython < 3.13 it would otherwise re-read every zip archive on the
worker's path before each task, a fixed ~0.25 s that a small task (an
incremental tick) pays in full.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow batch size: 40k rows ≈ tens of MB for typical turns — measured
# ~7-18% faster than 10k (fewer per-batch crossings), still bounded so a
# batch of very wide turns fits in task memory — same motivation as the
# reference's width chunking of long images
# (/root/reference/Modules/layers.py:345-369).
ARROW_MAX_RECORDS = 40_000


def get_spark(
    app_name: str = "htrtf_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = cpus if n in ("*", "") else int(n)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # int64 micros, not INT96: INT96 is deprecated and parquet
        # writes NO footer statistics for it, which would blind the
        # Iceberg manifest lower/upper bounds on timestamp columns
        # (Iceberg itself mandates int64 micros)
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_MAX_RECORDS))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
