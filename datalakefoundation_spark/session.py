"""SparkSession builder tuned for this engine.

Defaults follow the scale guidance: AQE on (runtime re-planning, skew-join
handling), adaptive shuffle partition coalescing, Arrow for any pandas
interchange. ``shuffle_partitions`` should be sized to the cluster — 32 for
the local[32] test harness; on a 1000-executor cluster you'd set it to
2-3x total cores (or rely on AQE coalescing from a high initial value).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "datalakefoundation_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus and cpus.isdigit() else 32
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # console progress bars interleave \r fragments into probe/cert
        # stdout, corrupting the JSON evidence lines the tools print
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
