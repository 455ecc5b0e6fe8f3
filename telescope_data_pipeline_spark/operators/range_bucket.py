"""Explicit, deterministic range-bucket ids for order-preserving shards.

A global running fold (cumulative sum, row number, cumulative count)
written as a window with ``orderBy`` and no ``partitionBy`` moves EVERY
row into one partition. The scalable form splits the corpus into
shards whose key ranges are disjoint and ordered — shard i's keys all
precede shard i+1's — and adds each shard's base (the fold of all
earlier shards) to a shard-local window. ``repartitionByRange``
provides such shards but with two costs this module avoids:

- its boundary SAMPLING pass re-executes the child plan (for packing
  inputs that means re-tokenizing the corpus just to sketch ranges);
- the shard identity is ``spark_partition_id()``, a property of one
  physical execution — recomputation (cache eviction, stage retry
  lineage replay) may reassign it. A bucket id computed FROM THE KEY
  cannot drift.

Two entry points share one bucket expression (``_pid_expr``):

- ``range_bucket_id`` — eager bounds scan, literal bucket id; for the
  greedy packer, whose per-shard Python fold needs a fixed shard count.
- ``_prefix_bases`` — the fully lazy prefix-fold scaffold behind
  ``prefix_sum`` and ``rank``: no driver action, no cache.

Supported key types: integral, date, timestamp — every realistic
global-order key (row ids, event time). Other types raise; cast or
derive a numeric key first. NULL keys raise AT RUNTIME inside the
expression (a NULL has no position in a total order, and silently
routing it to a shard would corrupt every later shard's base).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["range_bucket_id", "SUPPORTED_KEY_TYPES"]

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
SUPPORTED_KEY_TYPES = "integral, date, or timestamp"


def _as_long(col: Column, dt: T.DataType) -> Column:
    if isinstance(dt, _INTEGRAL):
        return col.cast("long")
    if isinstance(dt, T.DateType):
        return F.datediff(col, F.lit("1970-01-01").cast("date")).cast("long")
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return F.unix_micros(col)
    raise TypeError(
        f"range_bucket_id: order key of type {dt.simpleString()} is not "
        f"supported ({SUPPORTED_KEY_TYPES}); cast or derive a numeric key")


def _pid_expr(key: Column, lo: Column, hi: Column, n: int,
              name: str) -> Column:
    """Bucket id in ``[0, n)``, monotone in ``key``: ``floor((key - lo)
    * n / span)`` evaluated in DOUBLE — long arithmetic would overflow
    for full-range keys (e.g. 64-bit hashes, where hi - lo exceeds
    int64). long→double conversion is monotone, so the mapping is too;
    the clamp absorbs the one-off edge where rounding lands exactly on
    n. A NULL key raises."""
    span = hi.cast("double") - lo.cast("double") + 1.0
    raw = F.floor((key.cast("double") - lo.cast("double")) * n / span) \
        .cast("int")
    err = F.raise_error(F.lit(
        f"NULL {name} has no position in a total order — filter or "
        "impute NULL keys first"))
    return F.when(key.isNotNull(),
                  F.least(F.lit(n - 1), F.greatest(F.lit(0), raw))) \
        .otherwise(err.cast("int"))


def range_bucket_id(df: DataFrame, order_col: str,
                    num_buckets: int) -> tuple[Column, int]:
    """Return ``(pid_column, n_effective)``: a deterministic bucket id in
    ``[0, n_effective)`` that is monotone in ``order_col``.

    One column-pruned min/max scan fixes the bounds, so the id is a
    pure function of the key with literal bounds.
    """
    key = _as_long(F.col(order_col), df.schema[order_col].dataType)
    lohi = df.select(F.min(key).alias("lo"), F.max(key).alias("hi")).first()
    if lohi["lo"] is None:
        return F.lit(0), 0  # empty input (callers short-circuit on 0)
    lo_long, hi_long = int(lohi["lo"]), int(lohi["hi"])
    n_eff = max(1, min(num_buckets, hi_long - lo_long + 1))
    pid = _pid_expr(key, F.lit(lo_long), F.lit(hi_long), n_eff, order_col)
    return pid, n_eff


def _prefix_bases(df: DataFrame, key_col: str, measures: list[Column],
                  num_buckets: int | None = None,
                  groups: tuple[str, ...] = ()) -> DataFrame:
    """The lazy two-phase prefix-fold scaffold: return ``df`` with
    ``_pid`` (range bucket of ``key_col``) and ``_base_0 ..
    _base_{k-1}``, where ``_base_i`` is ``measures[i]`` aggregated over
    every EARLIER bucket of the same ``groups``. The caller adds a
    local fold over ``W.partitionBy(*groups, "_pid")`` and drops the
    helper columns.

    Every step is lazy — zero driver actions, zero caches:

    1. a 1-row (lo, hi) bounds aggregate, broadcast-crossJoined in;
    2. the monotone bucket id (``_pid_expr``) from those bounds;
    3. per-(groups, bucket) totals of each measure;
    4. a prefix fold of the totals over a bucket-id window — bounded,
       ≤ |groups| x num_buckets rows — broadcast back on (groups, _pid).

    Steps 1 and 4 are the scaffold's only single-partition steps; both
    are bounded by the bucket count, never by the data.
    """
    n = num_buckets or df.sparkSession.sparkContext.defaultParallelism
    key = _as_long(F.col(key_col), df.schema[key_col].dataType)
    bounds = df.agg(F.min(key).alias("_lo"), F.max(key).alias("_hi"))
    pid = _pid_expr(key, F.col("_lo"), F.col("_hi"), n, key_col)
    b = (df.crossJoin(F.broadcast(bounds)).withColumn("_pid", pid)
         .drop("_lo", "_hi"))
    totals = b.groupBy(*groups, "_pid").agg(
        *[m.alias(f"_m_{i}") for i, m in enumerate(measures)])
    wt = (W.partitionBy(*groups).orderBy("_pid")
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    bases = totals.select(
        *groups, "_pid",
        *[(F.sum(f"_m_{i}").over(wt) - F.col(f"_m_{i}")).alias(f"_base_{i}")
          for i in range(len(measures))])
    return b.join(F.broadcast(bases), [*groups, "_pid"])
