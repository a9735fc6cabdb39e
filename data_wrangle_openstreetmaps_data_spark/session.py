"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32 threads,
single JVM), but every config below is chosen to also make sense on a
multi-executor cluster at ~100 TB scale:

- AQE on (coalesce post-shuffle partitions, skew-join splitting, runtime
  re-planning of join strategies).
- ``spark.sql.shuffle.partitions`` sized for the local test harness; on a
  real cluster AQE's coalescing makes the static number far less critical.
- Arrow enabled so any Pandas-UDF escape hatch is batch-vectorized.
- Broadcast threshold raised: all our dimension/lookup tables (street and
  city mappings, nation/region, query vectors) are tiny and must never
  shuffle-join.
- The directory that holds this package is appended to the Python
  workers' ``PYTHONPATH`` (``spark.executorEnv.PYTHONPATH``), so the
  package's Python UDFs, which the workers import by reference, run from
  any working directory. (The PBF decoder ships by value and needs no
  such path.)
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.files.maxPartitionBytes": "128m",
    "spark.sql.session.timeZone": "UTC",
    # collect_set / map ops: deterministic duplicate-key handling
    "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_spark(
    app_name: str = "data-wrangle-openstreetmaps-data-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's default tuning."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(DEFAULT_CONF)
    conf["spark.sql.shuffle.partitions"] = str(
        shuffle_partitions
        if shuffle_partitions is not None
        else int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    )
    if extra_conf:
        conf.update(extra_conf)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    key = "spark.executorEnv.PYTHONPATH"
    conf[key] = os.pathsep.join(filter(None, [conf.get(key), root]))
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
