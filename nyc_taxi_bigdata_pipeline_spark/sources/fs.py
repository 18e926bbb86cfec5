"""Filesystem path probes via the Hadoop FS API (S4 parity).

The reference checks partition existence before reading and splits
month lists into (existing, missing) (``spark_io.py:8-68``). Using the
JVM Hadoop FileSystem keeps this working on any Hadoop-compatible store
(local, HDFS, S3A) — the same call works unchanged on a cluster, unlike
``os.path`` which only sees the driver's local disk.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def hadoop_path_exists(spark: SparkSession, path: str) -> bool:
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(conf).exists(p)


def split_existing(
    spark: SparkSession, paths: list[str]
) -> tuple[list[str], list[str]]:
    """(existing, missing) split (spark_io.py:36-68)."""
    existing, missing = [], []
    for p in paths:
        (existing if hadoop_path_exists(spark, p) else missing).append(p)
    return existing, missing


def child_path(root: str, name: str) -> str:
    """``root/name`` as a string join. ``pathlib.Path`` collapses the
    ``//`` of a Hadoop URI (``s3a://bucket/gold`` → ``s3a:/bucket/gold``)
    and so loses the bucket or authority."""
    return f"{root.rstrip('/')}/{name}"


def month_partition_path(root: str, year: int, month: int) -> str:
    """Hive-style partition path for the silver layer."""
    return f"{root}/year={year}/month={month}"
