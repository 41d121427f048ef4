"""SparkSession factory with the engine's scale-oriented defaults.

Every knob here is chosen for the 100 TB target, not just local tests:
- Arrow on, with a bounded batch size so multi-MB documents cannot blow
  executor memory inside pandas UDFs (SURVEY.md §4 spill row). Spark 4
  additionally byte-caps Arrow batches at 64 MB by default
  (spark.sql.execution.arrow.maxBytesPerBatch), so a run of outlier
  documents splits into smaller batches regardless of the record cap —
  verified by pushing a 10 MB document through extract_chunks alongside
  1000 normal ones (5173 chunks, no memory incident);
- AQE on (runtime coalescing + skew-join splitting for the non-UDF stages);
- shuffle partitions sized by caller (tests use few; jobs size to cluster).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_ARROW_BATCH = 512  # records per Arrow batch through pandas UDFs

# Engine semantics every session shares: get_spark's and the spark-submit
# jobs' (which leave master, memory and UI to the submitter).
ENGINE_CONF = {
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": str(DEFAULT_ARROW_BATCH),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
}


def get_spark(
    app_name: str = "textractssmlprocessor-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 32)

    return (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config(map=ENGINE_CONF)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config(map=extra_conf or {})
        .getOrCreate()
    )
