"""Token-table storage (SURVEY §7.M9; north_rule: Iceberg tables).

The engine's canonical layout is an Iceberg table partitioned by
``(source, days(ts))``. The local PySpark 4.1.2 distribution bundles no
Iceberg runtime jar (verified), so this module speaks Iceberg when the
catalog is configured (``ICEBERG_CATALOG`` env or a ``catalog`` argument)
and otherwise falls back to parquet with the SAME partition layout —
``source=<v>/bucket_day=<date>/`` — which preserves the two properties the
engine depends on:

- partition pruning: a per-(source, day-range) query touches only its
  directories (Iceberg: manifest pruning; parquet: directory pruning), and
- co-partitioned selection: the downsample groups ARE the storage
  partitions, so the selection shuffle is aligned with the scan.

Switching to Iceberg on a real cluster is a config change
(``--packages org.apache.iceberg:iceberg-spark-runtime-...`` + catalog
conf), not a code change.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import dynamic_overwrite


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def write_tokens_table(
    df: DataFrame,
    location: str,
    mode: str = "append",
    catalog_table: str | None = None,
) -> None:
    """Write the token table partitioned by (source, days(ts))."""
    spark = df.sparkSession
    if catalog_table and iceberg_available(spark):
        (
            df.writeTo(catalog_table)
            .partitionedBy(F.col("source"), F.expr("days(ts)"))
            .createOrReplace()
        )
        return
    out = df.withColumn("bucket_day", F.to_date("ts"))
    out.write.mode(mode).partitionBy("source", "bucket_day").parquet(location)


def read_tokens_table(
    spark: SparkSession,
    location: str,
    catalog_table: str | None = None,
) -> DataFrame:
    if catalog_table and iceberg_available(spark):
        return spark.read.table(catalog_table)
    df = spark.read.parquet(location)
    return df.drop("bucket_day") if "bucket_day" in df.columns else df


def default_catalog_table() -> str | None:
    return os.environ.get("ICEBERG_CATALOG_TABLE")


def compact_tokens_table(
    spark: SparkSession,
    location: str,
    target_file_bytes: int = 128 << 20,
    min_files: int = 2,
    id_col: str = "doc_id",
) -> int:
    """Small-file compaction for the parquet tier store — the maintenance
    action Iceberg calls ``rewrite_data_files`` (public Spark action
    ``RewriteDataFilesSparkAction``): bin-pack each two-level hive
    partition's (``k1=<v>/k2=<v>/`` — the token table's
    ``source=/bucket_day=`` and the retained store's
    ``source=/bucket_id=`` both qualify) files toward
    ``target_file_bytes``. Long-running ingestion (micro-batch commits,
    incremental tier merges) accretes one small file per commit; scan cost
    then scales with file count, not bytes — compaction restores it.

    Scale shape: the partition inventory is a driver-side METADATA listing
    through the Hadoop FileSystem API (O(partitions), the same order as an
    Iceberg manifest scan — never row data; works on local paths, HDFS and
    S3A alike, exactly like plans/retention.py's delete path). All
    partitions needing work are rewritten in ONE distributed job: rows
    join a broadcast per-partition output-slot plan, shuffle once on
    (partition, slot), and dynamic partition overwrite commits only the
    touched directories (untouched partitions keep their files byte-for-
    byte). Returns the number of partitions compacted.
    """
    import math

    jvm_path = spark._jvm.org.apache.hadoop.fs.Path  # noqa: SLF001
    root = jvm_path(location)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    qualified_root = fs.makeQualified(root)

    todo, keys, part_paths = [], None, []
    for st1 in fs.listStatus(qualified_root):
        name1 = st1.getPath().getName()
        if not st1.isDirectory() or "=" not in name1:
            continue
        k1, v1 = name1.split("=", 1)
        for st2 in fs.listStatus(st1.getPath()):
            name2 = st2.getPath().getName()
            if not st2.isDirectory() or "=" not in name2:
                continue
            k2, v2 = name2.split("=", 1)
            if keys is None:
                keys = (k1, k2)
            files = [
                f
                for f in fs.listStatus(st2.getPath())
                if f.isFile() and f.getPath().getName().endswith(".parquet")
            ]
            nbytes = sum(f.getLen() for f in files)
            n_out = max(1, math.ceil(nbytes / target_file_bytes))
            if len(files) >= min_files and n_out < len(files):
                todo.append((v1, v2, n_out))
                part_paths.append(st2.getPath().toString())
    if not todo:
        return 0

    k1, k2 = keys
    # the slot plan as an Arrow-backed frame: built in the JVM, no Python
    # worker round trip for a few rows of metadata
    pv1, pv2, slots = zip(*todo)
    plan = spark.createDataFrame(
        pa.table({
            "_pv1": pa.array(pv1, pa.string()),
            "_pv2": pa.array(pv2, pa.string()),
            "n_out": pa.array(slots, pa.int32()),
        })
    )
    df = spark.read.option("basePath", qualified_root.toString()).parquet(*part_paths)
    with dynamic_overwrite(spark):
        (
            df.join(
                F.broadcast(plan),
                (F.col(k1).cast("string") == F.col("_pv1"))
                & (F.col(k2).cast("string") == F.col("_pv2")),
            )
            .withColumn("_slot", F.pmod(F.xxhash64(id_col), F.col("n_out")))
            .repartition(sum(slots), k1, k2, "_slot")
            .drop("n_out", "_slot", "_pv1", "_pv2")
            .write.mode("overwrite")
            .partitionBy(k1, k2)
            .parquet(location)
        )
    return len(todo)
