"""Bloom-filter membership index, built and probed entirely in Spark SQL.

The 100 TB incremental-ingest problem: the exact corpus-digest
anti-join (q_dedup_incremental) shuffles |batch| digests against an
index whose size grows with the corpus. A Bloom filter gives the
membership test O(m bits) of state with NO false negatives — a
"definitely new" verdict is always safe to act on, and the small
false-positive fraction merely sends a few new documents through the
exact check. This is the standard two-tier design: Bloom pre-filter
(map-only, no shuffle) in front of the exact anti-join (now probing
only the tiny maybe-member set).

Everything stays JVM-side and deterministic:

- k hash positions per value from ``xxhash64(value, i)`` for
  i = 0..k-1 (seeded family; no Python in the loop);
- build = explode the k positions, reduce to m/64 packed longs with
  one ``bit_or`` groupBy (shuffle volume = m/64 rows, regardless of
  corpus size);
- probe (literal form) = the packed words embedded as one array
  literal in the plan — random access via ``element_at`` + shift/AND,
  zero shuffle, zero extra state. Right whenever the filter fits the
  plan comfortably (≲ a few MB, i.e. m ≲ 10^7 bits);
- probe (join form) = explode the k positions and broadcast-join the
  |m/64|-row word table, then ``bool_and`` the bit tests per value —
  the scale path when the filter is too large to inline but still
  broadcastable (Spark's own runtime-filter bloom joins use the same
  shape).

Both probes are exact over the same words table (property-tested equal);
``tests/test_approx.py`` pins no-false-negatives and the FPR bound.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["bloom_build", "bloom_probe_literal", "bloom_probe_join",
           "bloom_words_df"]


def _positions(value: Column, m_bits: int, k: int) -> list[Column]:
    """k deterministic bit positions in [0, m) from the xxhash64 family
    (value, seed-index) — seed-index as a second hashed column gives k
    independent draws without any Python hashing."""
    return [F.pmod(F.xxhash64(value, F.lit(i)), F.lit(m_bits))
            for i in range(k)]


def bloom_build(df: DataFrame, col: str, m_bits: int = 1 << 16,
                k: int = 5) -> list[int]:
    """Build the filter over ``df[col]``; returns the m/64 packed words
    (python ints) — the ONLY driver-sized artifact, m/64 longs no
    matter how many rows contributed. One explode(k) + one bit_or
    groupBy; shuffle volume is min(k·|rows|, m/64) position rows."""
    if m_bits % 64:
        raise ValueError("m_bits must be a multiple of 64")
    pos = F.explode(F.array(*_positions(F.col(col), m_bits, k))).alias("p")
    words = (df.select(pos)
             .select((F.col("p") / 64).cast("long").alias("w"),
                     F.call_function(
                         "shiftleft", F.lit(1).cast("long"),
                         (F.col("p") % 64).cast("int")).alias("b"))
             .groupBy("w").agg(F.bit_or("b").alias("bits"))
             .collect())
    packed = [0] * (m_bits // 64)
    for r in words:
        packed[r["w"]] = r["bits"]
    return packed


def bloom_probe_literal(df: DataFrame, col: str, packed: list[int],
                        k: int = 5,
                        out_col: str = "might_contain") -> DataFrame:
    """Map-only probe: the packed words ride the plan as one array
    literal; each value tests k bits via element_at + shift/AND. Adds
    boolean ``out_col``. No shuffle, no state, no Python."""
    m_bits = len(packed) * 64
    arr = F.lit(packed)  # one array<long> literal, serialized once
    tests = [
        (F.call_function(
            "shiftright",
            F.element_at(arr, (p / 64).cast("int") + 1),
            (p % 64).cast("int")).bitwiseAND(F.lit(1).cast("long"))) == 1
        for p in _positions(F.col(col), m_bits, k)
    ]
    cond = tests[0]
    for t in tests[1:]:
        cond = cond & t
    return df.withColumn(out_col, cond)


def bloom_words_df(df: DataFrame, col: str, m_bits: int = 1 << 16,
                   k: int = 5) -> DataFrame:
    """Distributed form of the build: the (word-index, bits) table,
    never collected — input to :func:`bloom_probe_join` when the filter
    is too large to inline in a plan literal."""
    if m_bits % 64:
        raise ValueError("m_bits must be a multiple of 64")
    pos = F.explode(F.array(*_positions(F.col(col), m_bits, k))).alias("p")
    return (df.select(pos)
            .select((F.col("p") / 64).cast("long").alias("w"),
                    F.call_function(
                        "shiftleft", F.lit(1).cast("long"),
                        (F.col("p") % 64).cast("int")).alias("b"))
            .groupBy("w").agg(F.bit_or("b").alias("bits")))


def bloom_probe_join(df: DataFrame, col: str, words: DataFrame,
                     m_bits: int, k: int = 5,
                     out_col: str = "might_contain") -> DataFrame:
    """Probe against the distributed words table: explode each value's
    k positions, broadcast-join the |set-bits| word rows, AND the bit
    tests back per row. Shuffle-free on the probe side (broadcast);
    the aggregation groups on the probed DataFrame's own columns."""
    probe = df.withColumn(
        "_p", F.explode(F.array(*_positions(F.col(col), m_bits, k))))
    joined = probe.join(
        F.broadcast(words),
        (probe["_p"] / 64).cast("long") == words["w"], "left")
    hit = (F.call_function(
        "shiftright", F.coalesce(F.col("bits"), F.lit(0).cast("long")),
        (F.col("_p") % 64).cast("int")).bitwiseAND(F.lit(1).cast("long"))) == 1
    return (joined.withColumn("_hit", hit)
            .groupBy(*df.columns)
            .agg(F.bool_and("_hit").alias(out_col)))
