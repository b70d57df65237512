"""Skew handling: size-bucketed hash partitioning + under-partition fan-out.

The north_rule's skew sources at 10^12-file scale:
  - mega-repos: a single `repo` holding a large share of files makes any
    repo-keyed shuffle partition hot,
  - long files: a few documents dominating UDF wall time inside otherwise
    balanced partitions.

`size_bucketed` answers both with one shuffle: a hash over every column
(no single hot key survives it) spreads rows evenly, and a local sort by
length bucket keeps Arrow batches length-homogeneous, which bounds padding
waste in the model UDF. `ensure_parallelism` fans out inputs that scan as
too few partitions.

AQE's skewJoin only rebalances *joins*; UDF-stage skew needs this explicit
treatment (SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def size_bucketed(
    df: DataFrame,
    length_col,
    bucket_width: int = 1024,
    num_partitions: int | None = None,
) -> DataFrame:
    """Spread rows evenly across partitions, then sort each partition by a
    size bucket of `length_col` (expression ok): every partition gets an even
    share of work AND its Arrow batches are length-homogeneous, which bounds
    model-UDF padding waste.

    Hash-partition on (bucket, bounded deterministic salt) + local sort, NOT
    repartitionByRange: the bucket value alone is low-cardinality (a handful
    of distinct lengths/1024), so range partitioning on it collapses the
    downstream UDF stage to #distinct-buckets tasks (3 tasks on 32 cores at
    sf0.1); range partitioning also runs a separate sampling job over the
    child plan — a second full pass at 100 TB. One shuffle, no sampling."""
    bucketed = df.withColumn(
        "_size_bucket", (length_col / F.lit(bucket_width)).cast("int")
    )
    parts = num_partitions or max(
        df.sparkSession.sparkContext.defaultParallelism * 2,
        df.rdd.getNumPartitions(),
    )
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(parts))
    out = (
        bucketed.repartition(parts, F.col("_size_bucket"), salt)
        .sortWithinPartitions("_size_bucket")
    )
    return out.drop("_size_bucket")


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition only when the input is under-partitioned (e.g. a local
    single-row-group parquet file scanning as ONE task before a hash-heavy
    projection). On a real cluster the scan already yields thousands of
    partitions and this is a no-op — no gratuitous 100 TB shuffle."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


