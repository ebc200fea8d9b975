"""SparkSession builder profiles.

The reference programs hand-build a ``SparkConf`` per homework (e.g.
``G019HW1.java:53-56``, ``G016HW2.java:55-60`` with
``spark.locality.wait=0s``). Here a single builder supplies the session
for every operator, with AQE on so Catalyst re-plans joins/partitions at
runtime — the engine's substitute for the reference's hand-tuned
``repartition(L)`` calls.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Cores of the local profile: $SPARK_GRAFT_CPUS, else the CPUs this
# process may run on.
_CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))

# Driver heap of the local profile: $SPARK_GRAFT_DRIVER_MEM, else half
# the host's physical memory in whole GiB, at least 1g and at most 24g.
_HALF_RAM_GIB = (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
                 // 2 ** 31)
_DRIVER_MEM = (os.environ.get("SPARK_GRAFT_DRIVER_MEM")
               or f"{min(max(_HALF_RAM_GIB, 1), 24)}g")

# Local test profile. local[N] = one JVM; shuffle partitions sized to
# cores, not the 200 default. On a real cluster these confs are
# supplied by spark-submit; only the AQE/timezone lines matter there.
_LOCAL_CONFS = {
    "spark.sql.shuffle.partitions": _CPUS,
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.driver.memory": _DRIVER_MEM,
    "spark.ui.enabled": "false",
    # mirrors the reference cluster profile (G016HW2.java:58)
    "spark.locality.wait": "0s",
    # testdata events.ts is TIMESTAMP(NANOS) parquet, which Spark 4
    # refuses by default; read as long and convert in sources.tables.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # star_queries' 12 queries need ~174 classes: 100 missed on every one
    "spark.sql.codegen.cache.maxEntries": "2000",
}


def get_session(app_name: str = "big_data_hw_23_24_spark",
                master: str | None = None,
                extra_confs: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``master`` defaults to ``local[N]``, N = ``$SPARK_GRAFT_CPUS`` or
    the CPUs this process may run on; pass ``None`` under spark-submit
    on a cluster and the submitted master wins (getOrCreate reuses the
    active session).
    """
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{_CPUS}]")
    confs = dict(_LOCAL_CONFS)
    if extra_confs:
        confs.update(extra_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
