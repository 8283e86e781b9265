"""SparkSession factory with scale-aware defaults.

Local-mode testing uses ``local[N]``; the same configuration is what we
would submit to a 1000-executor cluster — AQE for runtime re-planning and
skew-join splitting, Arrow for every pandas-UDF boundary, shuffle
partitions sized to the parallelism actually available.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "lucene_solr_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or all local cores. Shuffle
    partitions default to the core count — the right size for local mode;
    on a real cluster AQE coalesces upward-sized shuffles anyway.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cores), 4)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # default 10k-row Arrow batches fragment pandas-UDF IO badly on
        # wide text/binary rows (measured 2x on the segment encode job)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "131072")
        # 8g default: measured BEST for the local[32] mixed-query
        # workload (a 20g heap was 1.6× slower end-to-end on bench.py —
        # long collections on the big heap dominate).  The affinity-
        # pinned local[8] encode legs are the opposite (GC-bound at 8g),
        # so scripts/scaling.py exports SPARK_DRIVER_MEM=20g for its
        # workers.  Override via $SPARK_DRIVER_MEM.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # with a large, rarely-collected heap the ContextCleaner (which
        # rides on GC) never reclaims old shuffle/broadcast state, and
        # long query sessions degrade (measured at local[32]: p50
        # drifting 2s→60s over ~40 queries); force its periodic GC often.
        # A 600 s perfbench query-cold soak (seed 7) at local[4] with
        # this setting did not reproduce the drift: 590 queries, per-
        # minute p50 0.58–0.78 s in minutes 2–9, 1.1–1.6 s in the first
        # and last, and 2.9 MB of persisted frames at the end
        .config("spark.cleaner.periodicGC.interval", "45s")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
