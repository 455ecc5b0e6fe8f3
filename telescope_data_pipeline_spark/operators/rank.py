"""Distributed global row numbering (rank over a total order).

``row_number() OVER (ORDER BY ...)`` with no partitioning is the same
scale trap as the global cumulative sum: one task receives every row.
The two-phase form here is the ``prefix_sum`` one, folding row counts
(``range_bucket._prefix_bases`` — lazy, no driver action, no cache):

1. bucket rows by an integral projection of the sort key
   (deterministic, order-consistent: bucket i's keys all precede
   bucket i+1's);
2. count rows per bucket (≤ n integers) and prefix-sum the counts over
   a bucket-id window into per-bucket bases;
3. global position = bucket base + (local row_number within the
   bucket) — a bucket-partitioned window, parallel everywhere.

The integral bucket key only needs to be MONOTONE in the true sort
order (ties within the projection stay in one bucket and are resolved
by the full sort columns locally), which is what lets a string sort key
(e.g. an md5 hex digest) bucket through its numeric prefix.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .range_bucket import _prefix_bases

__all__ = ["lazy_row_number", "grouped_cum_counts"]


def lazy_row_number(df: DataFrame, order_cols: list[str],
                    bucket_key: Column | str | None = None,
                    out_col: str = "position",
                    num_buckets: int | None = None) -> DataFrame:
    """Add ``out_col`` = 0-based global position of each row under the
    total order of ``order_cols`` (which must be unique and non-null as
    a tuple), without a single-partition sort.

    ``bucket_key``: integral column monotone in the order (defaults to
    the first order column, which then must be an integral/date/
    timestamp type). For string sort keys pass a numeric prefix
    projection, e.g. ``F.conv(F.substring(h, 1, 15), 16, 10)`` for an
    md5 hex digest — equal-length hex compares as its numeric value.

    Positions do not depend on the bucketing: the bucket id is
    monotone in the order key, ties stay inside one bucket, and the
    local window resolves the full ``order_cols`` — so bucket-boundary
    differences cannot move a row's global position.
    """
    if bucket_key is None:
        work, key = df, order_cols[0]
    else:
        rk = F.col(bucket_key) if isinstance(bucket_key, str) else bucket_key
        work, key = df.withColumn("_rk", rk.cast("long")), "_rk"
    b = _prefix_bases(work, key, [F.count(F.lit(1))], num_buckets)
    local = W.partitionBy("_pid").orderBy(*order_cols)
    return (b.withColumn(out_col,
                         F.col("_base_0") + F.row_number().over(local) - 1)
            .drop("_pid", "_base_0", "_rk"))


def grouped_cum_counts(df: DataFrame, grp_col: str, val_col: str,
                       num_buckets: int | None = None,
                       extra_aggs: tuple = ()) -> DataFrame:
    """Per DISTINCT ``(grp_col, val_col)`` pair, return ``(grp, val,
    _c, _cum_before)``: the pair's row count and the number of rows in
    the SAME group with a strictly smaller value — the sufficient
    statistics of tie-averaged rank algebra (rank of every row with
    value v is ``_cum_before + 1 .. _cum_before + _c``, so the exact
    integer doubled average rank is ``2*_cum_before + _c + 1``).

    This is the GROUPED form of :func:`lazy_row_number`: a plain
    ``W.partitionBy(grp).orderBy(val)`` cumulative count puts one
    group's whole value stream through ONE task — with few groups
    (e.g. 5 order priorities) that is the skewed single-task sort the
    two-phase shape exists to avoid. Here the cumulative count is
    split as bucket base + local cum over (grp, bucket) windows —
    parallel across buckets regardless of how few groups exist. The
    distinct (grp, val) aggregate's shuffle is planned under both
    consumers of the scaffold and deduplicated by ReuseExchange.

    ``val_col`` must be integral/date/timestamp and non-null (a NULL
    has no position in a total order: the bucket id expression raises
    at runtime).

    ``extra_aggs``: additional aggregate Columns evaluated in the same
    distinct-value groupBy and carried through to the output — this
    lets a caller fold per-row companion statistics (e.g. the sum of
    the OTHER variable's ranks, for a correlation's cross-moment) into
    the jump-point table instead of joining the rank map back onto the
    fact stream.
    """
    c = (df.groupBy(grp_col, val_col)
         .agg(F.count(F.lit(1)).alias("_c"), *extra_aggs))
    b = _prefix_bases(c, val_col, [F.sum("_c")], num_buckets,
                      groups=(grp_col,))
    local = (W.partitionBy(grp_col, "_pid").orderBy(val_col)
             .rowsBetween(W.unboundedPreceding, W.currentRow))
    return (b.withColumn("_cum_before",
                         F.col("_base_0") + F.sum("_c").over(local)
                         - F.col("_c"))
            .drop("_pid", "_base_0"))
