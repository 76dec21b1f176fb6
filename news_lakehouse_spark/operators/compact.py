"""Small-file compaction for parquet tables (lakehouse maintenance).

Streaming upserts (streaming/ingest.py) and frequent small merges leave
parquet directories with many tiny files; at 100 TB the resulting
listing + task-scheduling overhead dominates scan time (a 128 MB-target
table in 4 KB files is 30M tasks). The reference delegates this to
Iceberg's rewrite_data_files; on plain parquet the equivalent is an
explicit rewrite sized from the ACTUAL on-disk bytes.

The byte budget comes from the Hadoop FileSystem API (works on HDFS /
object stores alike), not from row-count guesses — compressed size is
what determines scan cost.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from news_lakehouse_spark.operators.merge import _overwrite_in_place


def _dir_stats(spark: SparkSession, path: str) -> tuple[int, int]:
    """(total_bytes, n_data_files) of a table directory tree."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(hconf)
    total = 0
    files = 0
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.startswith("_") or name.startswith("."):
            continue
        total += st.getLen()
        files += 1
    return total, files


def compact_parquet_table(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_by: list[str] | None = None,
) -> dict[str, int]:
    """Rewrite a parquet table into ~target_file_bytes files.

    Unpartitioned: repartition to ceil(total_bytes / target) tasks —
    one output file each. Partitioned: repartition BY the partition
    columns so each Hive partition's rows land in one task → one file
    per partition (the common case after drip-feed upserts; per-
    partition byte-splitting would need a two-pass size probe that
    rarely pays for itself below ~target x 10 per partition).

    Returns {"files_before", "files_after", "bytes"} so callers can
    log/assert the effect. The rewrite is the same staged overwrite as
    upsert_parquet_table (of the whole table) — safe to run in place;
    like any non-transactional rewrite it must not race a concurrent
    writer (Iceberg/Delta is the answer when that matters, see
    operators/merge.py's backend note).
    """
    total, before = _dir_stats(spark, path)
    df: DataFrame = spark.read.parquet(path)
    if partition_by:
        out = df.repartition(*[F.col(c) for c in partition_by])
    else:
        out = df.repartition(max(1, math.ceil(total / target_file_bytes)))
    _overwrite_in_place(out, path, partition_by)
    _, after = _dir_stats(spark, path)
    return {"files_before": before, "files_after": after, "bytes": total}
