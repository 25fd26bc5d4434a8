"""Lakehouse write discipline: partitioned + bucketed tables.

The reference's physical design is Postgres indexes (SURVEY §1.3); the
Spark-native equivalents are:

- **partition by date** — the events fact partitioned by ``event_date``
  turns every P11-style date filter into partition pruning (a 100 TB table
  scans only the queried days);
- **bucket by join key** — dims and facts bucketed on their join keys
  co-locate rows so the sort-merge join runs shuffle-free (both sides read
  pre-bucketed); this is the 1000-executor replacement for "index nested
  loop";
- **overwrite by partition** (dynamic partition overwrite) — idempotent
  re-runs replace only the dates they touched, the storage-side half of the
  merge engine's idempotence story.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .. import fsio


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str],
                      mode: str = "overwrite") -> None:
    (
        df.write.mode(mode)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int = 8,
    sort_col: str | None = None,
) -> None:
    """Persist as a bucketed managed table (bucket metadata lives in the
    catalog, so only saveAsTable supports it)."""
    w = df.write.mode("overwrite").bucketBy(num_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def write_zordered(
    df: DataFrame,
    path: str,
    dim_a: str,
    dim_b: str,
    bits: int = 16,
    num_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` laid out by the Morton interleave of two dimensions
    (``functions/zorder.py``): range-partition on the key so each file owns
    a contiguous Z-curve span, sort within files so row groups subdivide it.
    Every file/row-group then has a bounded min/max *rectangle* over BOTH
    dims, and parquet stats prune selective predicates on either — the
    multi-column layout the reference gets from two separate b-tree indexes
    (tests/test_zorder.py asserts the resulting row-group spans). Columns
    must already be bucketed into [0, 2^bits); the key is dropped from the
    stored schema."""
    from pyspark.sql import functions as F

    from ..functions.zorder import morton_key

    keyed = df.withColumn("_zkey", morton_key(F.col(dim_a), F.col(dim_b), bits))
    (
        keyed.repartitionByRange(num_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode(mode)
        .parquet(path)
    )


def partition_file_census(spark: SparkSession, path: str) -> dict[str, tuple[int, int]]:
    """``{partition_dir_name: (n_files, total_bytes)}`` for one level of
    hive-style partition directories under ``path`` (empty when absent) —
    via the Hadoop FS API, so it works on any FileSystem implementation,
    not just local."""
    out: dict[str, tuple[int, int]] = {}
    for d in fsio.list_status(spark, path):
        if not d.is_dir or "=" not in d.name:
            continue
        files = [
            f for f in fsio.list_status(spark, f"{path.rstrip('/')}/{d.name}")
            if not f.is_dir and not f.name.startswith(("_", "."))
        ]
        out[d.name] = (len(files), sum(f.size for f in files))
    return out


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_col: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files_to_compact: int = 4,
) -> list[str]:
    """Compact fragmented partitions of a hive-partitioned parquet table:
    any partition holding ≥ ``min_files_to_compact`` files AND more files
    than ``ceil(bytes / target_file_bytes)`` is rewritten to that ideal
    file count. Returns the rewritten partition values.

    The small-file problem is the silent killer of a streaming lakehouse —
    every micro-batch appends a file per partition per task, and a year of
    5-minute batches turns a day's partition into 10⁵ files whose open/seek
    overhead dwarfs the data. Compaction here is surgical: the census reads
    only directory metadata, untouched partitions are never rewritten
    (dynamic overwrite), and the rewrite itself is safe to re-run or crash
    mid-way — the Hadoop committer swaps each partition atomically.
    """
    import math

    census = partition_file_census(spark, path)
    victims: list[str] = []
    plans: list[tuple[str, int]] = []
    for dirname, (n_files, total_bytes) in census.items():
        ideal = max(1, math.ceil(total_bytes / target_file_bytes))
        if n_files >= min_files_to_compact and n_files > ideal:
            value = dirname.split("=", 1)[1]
            victims.append(value)
            plans.append((value, ideal))
    if not victims:
        return []

    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    for value, ideal in plans:
        part = df.filter(F.col(partition_col) == value).repartition(ideal)
        (
            part.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(path)
        )
    return victims
