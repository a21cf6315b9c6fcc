"""SparkSession construction tuned for both local testing and cluster scale.

The reference hand-manages its runtime (threads + FIFO backpressure,
/root/reference/parser.py:178-269); here the equivalent knobs are Spark
conf. Defaults below are chosen for the 100 TB target:

- AQE on: runtime shuffle-partition coalescing + skew-join splitting
  replace hand-tuned partition counts when the data distribution is
  unknown (at 100 TB it always is).
- Arrow on: every pandas UDF (EBML decode, embedding kernels) moves
  data in columnar batches instead of pickled rows.
- shuffle.partitions: sized for the local harness; on a real cluster
  AQE coalesces from a deliberately-high initial number, so the local
  value only needs to avoid tiny-partition overhead at sf<=0.1.
- Python daemon: Spark starts its Python workers from `pyworker.py`,
  which keeps PySpark's per-task `importlib.invalidate_caches()` from
  re-reading pyspark.zip and the spark-core jar (80-130 ms a task) while
  their stat is unchanged. CPython 3.13 made zipimport lazy; there the
  module only hands over to `pyspark.daemon`.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    # Local harness: keep parquet split planning cheap at small SF;
    # on a cluster the default 128m is right, so only set when local.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.session.timeZone": "UTC",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
    "spark.python.daemon.module": "awskinesisconsumer_spark.pyworker",
}


def get_spark(app_name: str = "awskinesisconsumer-spark",
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Master resolution: $SPARK_GRAFT_CPUS threads if set, else local[*].
    On a real cluster the master comes from spark-submit and this
    builder only contributes conf.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    master = f"local[{cpus}]" if cpus else "local[*]"
    builder = SparkSession.builder.appName(app_name)
    if not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        builder = builder.master(master)
    for k, v in {**DEFAULT_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
