"""Bucketed storage for recurring co-located joins.

The reference reuses precomputed neighbour info across many datasets on
the same geometry pair (resampler.py:80-88, docs/concepts/
resampling.rst:98-101). At 100 TB the storage-level analog is **bucketed
tables**: write the source (or a LUT) bucketed by its join key once, and
every later join on that key skips the exchange on that side entirely —
Spark trusts the on-disk hash-partitioning (`HashPartitioning` reported
by the scan) instead of re-shuffling.

This module wraps `bucketBy().sortBy().saveAsTable()` (bucketed writes
are only supported for managed/external *tables*, not bare parquet
paths) and provides the cell-key writer used by the resample joins.
Every bucketed write here (and the LUT cache's) takes its bucket count
from the writing session's shuffle parallelism and repartitions on the
bucket key first, so each bucket lands as exactly one file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list,
    num_buckets: int | None = None,
    path: str | None = None,
    sort_cols: list | None = None,
) -> int:
    """Persist ``df`` hash-bucketed (and optionally sorted) by
    ``bucket_cols``; returns the bucket count written. ``path`` makes
    it an external table.

    ``num_buckets`` defaults to the writing session's
    ``spark.sql.shuffle.partitions`` (sized to cores by ``get_spark``),
    so a bucketed scan runs at the parallelism the session's shuffles
    run at. The rows are repartitioned on ``bucket_cols`` first:
    ``repartition(n, cols)`` hashes with the same murmur3 pmod as the
    bucket id, so each write task holds exactly one bucket and writes
    one file, instead of one file per bucket per input partition."""
    n = num_buckets or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    w = (
        df.repartition(n, *bucket_cols)
        .write.mode("overwrite")
        .bucketBy(n, *bucket_cols)
    )
    w = w.sortBy(*(sort_cols or bucket_cols))
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)
    return n


def read_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def write_cell_bucketed_points(
    df: DataFrame,
    table: str,
    radius_m: float,
    num_buckets: int | None = None,
    path: str | None = None,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> None:
    """Write a point set with precomputed 3-D geocentric cell keys
    (operators/knn.py cell scheme for ``radius_m``), bucketed by the
    cell key — the storage layout that makes every later kNN cell join
    against this table shuffle-free on the stored side."""
    from pyresample_spark.operators.knn import (
        cell_side,
        chord_length,
        with_cells,
        with_geocentric,
    )

    # cells sized by cell_side (= chord + mm-quantization slack) so
    # stored keys match exactly what _radius_pairs computes for the
    # probe side — a raw-chord cell here would disagree near integer
    # cell boundaries and silently miss those neighbour pairs
    c = cell_side(chord_length(radius_m))
    keyed = with_cells(with_geocentric(df, lon_col, lat_col), c)
    write_bucketed(
        keyed, table, ["cx3", "cy3", "cz3"], num_buckets, path=path
    )
