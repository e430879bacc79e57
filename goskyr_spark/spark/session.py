"""SparkSession factory tuned for the crawl/extract workload.

Design targets (BASELINE.json north_rule): multi-executor cluster, AQE on
for skew joins, Arrow for the pandas-UDF extraction path, shuffle
partitions sized to cores in local mode (the cores this process may run
on; ``SPARK_GRAFT_CPUS`` overrides); on a real
cluster this is ``spark.sql.shuffle.partitions ≈ 2-3 × total cores``.

Python workers start from ``goskyr_spark.spark.pydaemon`` (PySpark's
daemon with a stat-checked zip directory cache; see that module), so
``goskyr_spark`` must be importable when the worker daemon starts, as
unpickling the package's UDFs already requires. A package shipped only
with ``--py-files`` is not on the daemon's path: ``tools/submit_job.py``
builds its own session for that case.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def master_cores(master: str, cpus: int) -> int:
    """Task slots of a Spark master URL: N for ``local[N]`` and
    ``local[N,F]``, ``cpus`` for ``*``, E×C for ``local-cluster[E,C,M]``,
    1 for a bare ``local``; ``cpus`` for any other master."""
    if master == "local":
        return 1
    m = re.fullmatch(r"local\[\s*(\*|\d+)\s*(?:,\s*\d+\s*)?\]", master)
    if m:
        return cpus if m[1] == "*" else int(m[1])
    m = re.fullmatch(r"local-cluster\[\s*(\d+)\s*,\s*(\d+)\s*,\s*\d+\s*\]", master)
    if m:
        return int(m[1]) * int(m[2])
    return cpus


def build_session(
    app_name: str = "goskyr-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; on a cluster pass this explicitly (2-3× cores).
        shuffle_partitions = master_cores(master, cpus)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.python.daemon.module", "goskyr_spark.spark.pydaemon")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
