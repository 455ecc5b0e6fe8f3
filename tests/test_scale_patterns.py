"""Scale patterns: salted aggregation/join correctness + the bucketed
no-shuffle join, with plan-level proof."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from telescope_data_pipeline_spark.operators.skew import (
    read_table,
    salted_aggregate,
    salted_join,
    write_bucketed,
)
from telescope_data_pipeline_spark.plans.audit import physical_plan
from telescope_data_pipeline_spark.sources import load_table

SF = "/root/testdata/sf0.01"


def test_salted_aggregate_matches_plain(spark):
    li = load_table(spark, SF, "lineitem")
    salted = salted_aggregate(li, ["l_returnflag"], ["l_quantity", "l_extendedprice"])
    plain = (li.groupBy("l_returnflag")
             .agg(F.sum("l_quantity").alias("sum_l_quantity"),
                  F.sum("l_extendedprice").alias("sum_l_extendedprice"),
                  F.count(F.lit(1)).alias("n_rows")))
    s = {r.l_returnflag: r for r in salted.collect()}
    p = {r.l_returnflag: r for r in plain.collect()}
    assert set(s) == set(p)
    for k in p:
        assert s[k].n_rows == p[k].n_rows
        assert abs(s[k].sum_l_quantity - p[k].sum_l_quantity) < 1e-6
        assert abs(s[k].sum_l_extendedprice - p[k].sum_l_extendedprice) < 1e-4


def test_salted_join_matches_plain(spark):
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_linenumber",
                                                  "l_quantity")
    o = load_table(spark, SF, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority")
    got = salted_join(li, o, "l_orderkey").groupBy("o_orderpriority") \
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("q"))
    want = li.join(o, "l_orderkey").groupBy("o_orderpriority") \
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("q"))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_bucketed_join_has_no_shuffle(spark):
    """Two tables bucketed on the join key: the sort-merge join consumes
    the scans' bucket partitioning directly — zero Exchange nodes."""
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    write_bucketed(li, "b_lineitem", "l_orderkey")
    write_bucketed(o.withColumnRenamed("o_orderkey", "l_orderkey"),
                   "b_orders", "l_orderkey")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = read_table(spark, "b_lineitem").join(
            read_table(spark, "b_orders"), "l_orderkey")
        plan = physical_plan(joined)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        # and it still computes the right thing
        n = joined.count()
        want = li.join(o, li.l_orderkey == o.o_orderkey).count()
        assert n == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_cache_slot_repeat_ownership_keeps_shared_entry(spark):
    """Re-owning a plan-identical DataFrame must NOT evict the cache:
    CacheManager keys entries by plan equivalence, so cache()-then-
    unpersist(previous) on the same plan drops the entry the new caller
    depends on. The observed symptom was a ~60x slowdown — the simhash
    self-join lost its InMemoryTableScan legs and re-evaluated the
    interpreted fingerprint fold per consumer row."""
    from telescope_data_pipeline_spark.operators.cache_slot import CacheSlot
    from telescope_data_pipeline_spark.operators.dedup import (
        simhash_near_duplicates,
    )
    from telescope_data_pipeline_spark.plans.audit import physical_plan
    from telescope_data_pipeline_spark.sources import load_table

    slot = CacheSlot()
    d = load_table(spark, SF, "customer").select("c_custkey")
    first = slot.own(d.groupBy("c_custkey").count())
    first.count()
    again = slot.own(d.groupBy("c_custkey").count())
    assert again.count() == first.count()
    assert "InMemoryTableScan" in physical_plan(again.filter("count >= 0"))
    # different plan DOES evict: storage stays bounded to one table
    other = slot.own(d.groupBy("c_custkey").agg({"c_custkey": "max"}))
    assert slot._last is other

    # end-to-end: the repeat simhash invocation must keep its cached
    # fingerprint legs (both sides of the banded self-join)
    docs = load_table(spark, SF, "documents")
    simhash_near_duplicates(docs, "doc_id", "text", max_hamming=3) \
        .write.format("noop").mode("overwrite").save()
    out2 = simhash_near_duplicates(docs, "doc_id", "text", max_hamming=3)
    assert physical_plan(out2).count("InMemoryTableScan") >= 2, \
        "repeat invocation lost its cached fingerprint table"


def test_cache_slot_plan_compare_bridge_resolves(spark):
    """Canary for the internal _jdf bridge CacheSlot's plan-equivalence
    check rides: if a Spark upgrade breaks queryExecution().analyzed()
    .sameResult(), this fails LOUDLY instead of the slot silently
    degrading to unconditional eviction (round-4 VERDICT item 7)."""
    from telescope_data_pipeline_spark.operators.cache_slot import CacheSlot

    d = load_table(spark, SF, "region").select("r_regionkey")
    analyzed = d._jdf.queryExecution().analyzed()
    assert bool(analyzed.sameResult(analyzed))
    # the probe must agree that comparison is available on this runtime
    CacheSlot._compare_available = None
    try:
        assert CacheSlot._probe(d) is True
        assert CacheSlot._same_plan(d, d.select("r_regionkey")) in (True, False)
    finally:
        CacheSlot._compare_available = None


def test_cache_slot_degrades_to_unconditional_evict(spark):
    """When the plan-compare probe reports the bridge unavailable, the
    slot must evict the previous DataFrame unconditionally (bounded
    storage, recompute-safe) rather than keep every plan forever."""
    from telescope_data_pipeline_spark.operators.cache_slot import CacheSlot

    slot = CacheSlot()
    d = load_table(spark, SF, "region").select("r_regionkey")
    first = slot.own(d.distinct())
    first.count()
    CacheSlot._compare_available = False  # simulate Spark Connect
    try:
        again = slot.own(d.distinct())  # plan-identical
        # with comparison unavailable the previous DF was unpersisted;
        # correctness is unaffected (deterministic recompute)
        assert again.count() == first.count()
        assert slot._last is again
    finally:
        CacheSlot._compare_available = None
        spark.catalog.clearCache()


def _run_together(n: int, fn) -> list:
    """Call ``fn(i)`` from ``n`` threads released at once; return the
    results in thread order."""
    import threading

    start = threading.Barrier(n)
    out = [None] * n

    def work(i):
        start.wait()
        out[i] = fn(i)

    threads = [threading.Thread(target=work, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return out


def test_cache_slot_concurrent_owners_leave_one_cache(spark):
    """Eight threads owning distinct DataFrames on one slot at once must
    leave exactly one of them cached: an unlocked read-evict-write lets
    two owners evict the same predecessor and strand a cache."""
    from telescope_data_pipeline_spark.operators.cache_slot import CacheSlot

    slot = CacheSlot()
    dfs = [spark.range(i + 1) for i in range(8)]
    try:
        owned = _run_together(8, lambda i: slot.own(dfs[i]))
        assert sum(d.is_cached for d in owned) == 1
        assert slot._last.is_cached
    finally:
        spark.catalog.clearCache()


def test_stock_coalesce_floor_concurrent_callers_share_one_child(spark):
    """Eight threads asking for the stock-floor child session at once
    get ONE identical child (no duplicate sessions racing in)."""
    from telescope_data_pipeline_spark.session import stock_coalesce_floor

    prev = getattr(spark, "_tdp_stock_floor_session", None)
    if prev is not None:
        del spark._tdp_stock_floor_session
    try:
        children = _run_together(8, lambda i: stock_coalesce_floor(spark))
        assert all(c is children[0] for c in children)
        assert children[0] is not spark
    finally:
        if prev is not None:
            spark._tdp_stock_floor_session = prev


def test_byte_string_conf_parsing():
    """maxPartitionBytes accepts JVM byte-string suffixes; the spread
    heuristic must parse them like JavaUtils.byteStringAsBytes
    (round-4 ADVICE: '128m' used to throw and silently default)."""
    from telescope_data_pipeline_spark.sources.tables import (
        _byte_string_as_bytes,
    )

    assert _byte_string_as_bytes("134217728") == 128 * 1024 * 1024
    assert _byte_string_as_bytes("134217728b") == 128 * 1024 * 1024
    assert _byte_string_as_bytes("128m") == 128 * 1024 * 1024
    assert _byte_string_as_bytes("64MB") == 64 * 1024 * 1024
    assert _byte_string_as_bytes(" 1g ") == 1 << 30
    assert _byte_string_as_bytes("2k") == 2048
    assert _byte_string_as_bytes("1t") == 1 << 40
    assert _byte_string_as_bytes("garbage") == 128 * 1024 * 1024
    assert _byte_string_as_bytes("12.5m") == 128 * 1024 * 1024  # non-int


def test_aqe_splits_skewed_join_partition(spark, tmp_path):
    """The session claims AQE skew-join handling (session.py); prove it:
    a 90%-one-key join must show skew-split sort-merge partitions in
    the final adaptive plan (skew=true marker)."""
    from pyspark.sql import functions as F

    from telescope_data_pipeline_spark.plans.audit import physical_plan

    left = spark.range(0, 300_000).select(
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id"))
        .alias("k"), F.col("id").alias("v"))
    right = spark.range(0, 3_000).select(F.col("id").alias("k"),
                                         (F.col("id") * 2).alias("w"))
    conf = spark.conf
    old = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": conf.get(
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "5"),
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": conf.get(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256MB"),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": conf.get(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"),
        "spark.sql.autoBroadcastJoinThreshold": conf.get(
            "spark.sql.autoBroadcastJoinThreshold"),
    }
    try:
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        # Collect the RAW join: (a) a write/count would spawn a different
        # QueryExecution and the inspected plan would stay pre-AQE;
        # (b) a groupBy on the join key downstream suppresses
        # OptimizeSkewedJoin entirely — splitting a partition would break
        # the hash distribution the aggregation needs, and AQE refuses to
        # add the extra shuffle unless forceOptimizeSkewedJoin is set.
        j = left.join(right, "k")
        j.collect()
        plan = physical_plan(j)
        assert "skew=true" in plan, plan[:4000]
    finally:
        for k, v in old.items():
            conf.set(k, v)


def test_partitioned_layout_prunes_partitions(spark, tmp_path):
    """Hive-partitioned writes + an equality filter must prune at the
    LISTING level: PartitionFilters carries the predicate and the scan
    touches one directory, not the table."""
    from pyspark.sql import functions as F

    from telescope_data_pipeline_spark.plans.audit import formatted_plan
    from telescope_data_pipeline_spark.sources import load_table

    out = str(tmp_path / "docs_by_lang")
    (load_table(spark, "/root/testdata/sf0.001", "documents")
     .write.partitionBy("lang").mode("overwrite").parquet(out))
    df = (spark.read.parquet(out)
          .filter(F.col("lang") == "en")
          .select("doc_id", "n_chars"))
    plan = formatted_plan(df)
    assert "PartitionFilters" in plan and "lang" in plan, plan[:2000]
    import glob
    langs = [p.split("=")[-1] for p in glob.glob(out + "/lang=*")]
    assert len(langs) > 1  # pruning is meaningful: several partitions exist
