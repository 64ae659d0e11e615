"""Sinks: publishing anonymized releases.

The reference has no sinks (results are printed/plotted); a production
privacy pipeline needs to *publish* the anonymized relation. These wrap
``DataFrameWriter`` with the scale-relevant decisions made explicit:

- parquet, optionally partitioned by low-cardinality release columns
  (partition pruning for downstream consumers);
- a target file-size heuristic instead of one-file-per-task dribble
  (small-file storms are the classic 1000-executor failure mode);
- CSV kept only for reference-shaped interchange (the Adult format).
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import DataFrame

# ~128 MB parquet target — the conventional HDFS/S3 sweet spot; snappy
# parquet compresses the testdata ~4x, so estimate from the logical size.
TARGET_FILE_BYTES = 128 * 1024 * 1024


def write_release(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = (),
    mode: str = "error",
    target_file_bytes: int = TARGET_FILE_BYTES,
) -> None:
    """Write an anonymized release as parquet, in one Spark action.

    Coalesces to roughly ``logical_size / target_file_bytes`` output files
    using the optimizer's size estimate — cheap (no extra action), and at
    worst the estimate is off by the compression factor, which only shifts
    file sizes, never correctness. ``coalesce`` never raises the partition
    count, so a plan with fewer partitions than that writes one file per
    partition. Skips coalescing when partitioning (the partition columns
    dominate layout there).
    """
    if partition_by:
        writer = df.write.mode(mode).partitionBy(*partition_by)
    else:
        est_bytes = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        n_files = max(1, min(10_000, math.ceil(float(est_bytes) / target_file_bytes)))
        writer = df.coalesce(n_files).write.mode(mode)
    writer.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    n_buckets: int = 32,
    sort_cols: Sequence[str] | None = None,
    mode: str = "error",
) -> None:
    """Publish a relation bucketed (and optionally sorted) by its hot join/
    group key — typically the QI tuple or a pre-hashed ``xxhash64(*qi)``
    key column.

    Downstream suppression joins and class-size aggregations on the bucket
    key then run WITHOUT a shuffle (Spark reads bucket files as
    pre-partitioned); at 100 TB that converts the dominant exchange of
    every k-anonymity pass into a scan-local operation. Requires a
    metastore table (`saveAsTable`) — plain `.parquet(path)` cannot record
    bucket metadata.
    """
    writer = df.write.mode(mode).bucketBy(int(n_buckets), *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table, format="parquet")


def write_adult_csv(df: DataFrame, path: str, mode: str = "error") -> None:
    """Reference-shaped CSV interchange: header, ``'?'`` for nulls —
    round-trips through ``readers.read_adult_csv``."""
    df.write.mode(mode).option("header", True).option("nullValue", "?").csv(path)

