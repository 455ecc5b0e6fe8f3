"""Distributed prefix sum (cumulative aggregate over a global order).

A window with ``orderBy`` and no ``partitionBy`` is a scale trap: Spark
moves EVERY row into one partition to evaluate it (the plan shows a
single-partition Exchange), so the classic running-total query stops
scaling at exactly the moment it matters. The scalable form is the
textbook two-phase scan, expressed here with lazy DataFrame ops only
(``range_bucket._prefix_bases``):

1. shard by an explicit range-bucket id computed FROM the order key
   (deterministic, no boundary-sampling pass; shard i's keys precede
   shard i+1's by construction);
2. aggregate one subtotal per shard (tiny: ≤ num_buckets rows) and
   prefix-sum those over a bucket-id window into per-shard bases,
   broadcast back;
3. a shard-LOCAL window (partitionBy the bucket id) adds the local
   running sum to the shard's base.

No driver action and no cache: the query that consumes the prefix sum
runs all of it inside its own plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .range_bucket import _prefix_bases

__all__ = ["lazy_prefix_sum", "lazy_prefix_sums"]


def lazy_prefix_sum(df: DataFrame, bucket_col: str, order_cols: list[str],
                    value_col: str, out_col: str = "cum",
                    num_buckets: int | None = None) -> DataFrame:
    """Add ``out_col`` = cumulative sum of ``value_col`` over the total
    order of ``order_cols`` (inclusive of the current row), computed
    without ever concentrating the data on one task.

    ``bucket_col``: an integral, date or timestamp column MONOTONE in
    the total order (ties stay inside one bucket and resolve locally by
    the full ``order_cols``); must be non-null — a NULL has no position
    in a total order, so the bucket expression raises at runtime. The
    sum's type follows ``value_col`` (integral → long, float/double →
    double, decimal → decimal).
    """
    return lazy_prefix_sums(df, bucket_col, order_cols,
                            {value_col: out_col}, num_buckets)


def lazy_prefix_sums(df: DataFrame, bucket_col: str,
                     order_cols: list[str], values: dict[str, str],
                     num_buckets: int | None = None) -> DataFrame:
    """Multi-measure form of :func:`lazy_prefix_sum`: one bucketed
    two-phase pass produces the cumulative sum of EVERY
    ``values[value_col] = out_col`` measure over the same total order —
    one shuffle and one per-bucket base window regardless of how many
    measures ride along (q_energy_distance needs four; four separate
    calls would plan four pipelines over the same input)."""
    out = _prefix_bases(df, bucket_col, [F.sum(vc) for vc in values],
                        num_buckets)
    local = (W.partitionBy("_pid").orderBy(*order_cols)
             .rowsBetween(W.unboundedPreceding, W.currentRow))
    for i, (vc, oc) in enumerate(values.items()):
        out = out.withColumn(
            oc, F.col(f"_base_{i}") + F.sum(vc).over(local))
    return out.drop("_pid", *[f"_base_{i}" for i in range(len(values))])
