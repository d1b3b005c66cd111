"""SparkSession factory with the engine's standard tuning.

Scale posture (100 TB design point): AQE on (runtime coalescing + skew-join
splitting), Arrow for every pandas UDF exchange, and shuffle partitions set
for the local harness (a real cluster overrides via spark-submit conf).
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession


def _tune_malloc_env() -> None:
    """glibc malloc routes allocations above MMAP_THRESHOLD (128 kB)
    through mmap and unmaps them on free, so every large numpy temporary
    in a pandas/Arrow UDF pays first-touch page faults again — measured
    4× on the block-jaccard kernel (14.4 s → 3.4 s per task, r7). Keeping
    such allocations on the reusable heap (no mmap, no trim) trades a
    higher worker RSS high-water mark for fault-free reuse. Set in the
    DRIVER process before the JVM launches: local-mode Python workers
    inherit the JVM's environment. Honors values already set by the
    operator's environment."""
    os.environ.setdefault("MALLOC_MMAP_MAX_", "0")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")


def get_spark(
    app_name: str = "rasusa_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    _tune_malloc_env()
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


@contextlib.contextmanager
def scoped_conf(spark: SparkSession, settings: dict[str, str]):
    """Scope SQL conf ``settings`` to the queries run inside the block: the
    previous values are restored on exit, so later queries in the same
    session keep the session's posture (ADVICE r5)."""
    prev = {k: spark.conf.get(k, None) for k in settings}
    for k, v in settings.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def dynamic_overwrite(spark: SparkSession):
    """partitionOverwriteMode=dynamic for one write: unrelated later
    ``mode('overwrite').partitionBy(...)`` writes stay static."""
    return scoped_conf(spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"})
