"""Scale-critical physical-plan properties, asserted not eyeballed.

These are the checks the 100 TB design note demands (SURVEY.md §4):
a plan that silently regresses to a cartesian product or an unpruned
scan is a correctness-of-scale bug even when row-level results match.
"""

from __future__ import annotations

import pytest

from telescope_data_pipeline_spark.plans.audit import (
    assert_plan,
    has_codegen,
    pushed_filters,
    read_schemas,
)
from telescope_data_pipeline_spark.queries import get

SF = "/root/testdata/sf0.01"


def _assert_windows_bucketed(plan: str) -> None:
    """Every window in ``plan`` must carry the range-bucket id ``_pid``
    and the plan must hash-partition on it: a bare ``W.orderBy`` global
    window would show an un-bucketed (data-column-only) windowspec and
    ship the whole corpus to one task at 100 TB.

    A ``"Exchange SinglePartition" not in plan`` ban cannot pin this:
    the lazy range-bucket scaffold (operators/range_bucket.py) has two
    BOUNDED single-partition steps, its 1-row min/max bounds and its
    ≤num_buckets bases window."""
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan
    assert all("_pid" in s for s in specs), specs
    assert "hashpartitioning(_pid" in plan, plan


def test_flagship_broadcasts_dim_and_pushes_filters(spark):
    df = get("q_flagship").fn(spark, SF)
    df.collect()  # AQE finalizes (and annotates codegen) on execution of
    # THIS df's QueryExecution — count() would spawn a different one
    assert_plan(df, contains=("BroadcastHashJoin",), absent=("CartesianProduct",))
    assert has_codegen(df)
    pushed = " | ".join(pushed_filters(df))
    assert "l_shipdate" in pushed and "o_orderdate" in pushed


def test_projection_prunes_scan_columns(spark):
    df = get("q_project").fn(spark, SF)
    schemas = read_schemas(df)
    assert schemas, "no parquet scan found"
    # 11-column lineitem must be read as only the 5 referenced columns.
    cols = schemas[0].split(",")
    assert len(cols) <= 5, f"scan reads too much: {schemas[0]}"


def test_topk_plans_take_ordered(spark):
    assert_plan(get("q_topk").fn(spark, SF), contains=("TakeOrderedAndProject",))


def test_nn_join_never_cartesian(spark):
    """The grid-bucketed NN join must plan as an equi-join on cell keys —
    if it degrades to a cartesian/BNL join the 100 TB story is dead."""
    assert_plan(get("q_join_nn").fn(spark, SF),
                absent=("CartesianProduct", "BroadcastNestedLoopJoin"))


def test_minhash_candidates_equi_join(spark):
    from telescope_data_pipeline_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        shingle,
    )
    from telescope_data_pipeline_spark.sources import load_table

    docs = load_table(spark, SF, "documents")
    cand = lsh_candidate_pairs(minhash_signatures(shingle(docs, "doc_id", "text")))
    assert_plan(cand, absent=("CartesianProduct", "BroadcastNestedLoopJoin"))


def test_broadcast_join_no_fact_shuffle(spark):
    """Dim joins broadcast; the only Exchange in the plan belongs to the
    final aggregation, not the joins."""
    df = get("q_join_broadcast").fn(spark, SF)
    assert_plan(df, contains=("BroadcastHashJoin",))
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    plan = physical_plan(df)
    # hashpartitioning exchanges: exactly the one feeding the groupBy.
    n_shuffles = plan.count("Exchange hashpartitioning")
    assert n_shuffles <= 1, f"fact table shuffled for a dim join:\n{plan}"


def test_sigclip_single_shuffle(spark):
    """The unrolled 3-iteration clip must reuse one hash partitioning —
    every window iteration sees its requirement already satisfied."""
    from telescope_data_pipeline_spark.operators.sigma_clip import sigma_clip
    from telescope_data_pipeline_spark.plans.audit import physical_plan
    from telescope_data_pipeline_spark.sources import load_table

    kept = sigma_clip(load_table(spark, SF, "events"), ["event_type"], "value")
    plan = physical_plan(kept)
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_asof_join_single_shuffle_no_range_join(spark):
    """asof_join is union + window: exactly one Exchange on the keys, no
    cartesian/broadcast-nested-loop pair explosion."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan
    from telescope_data_pipeline_spark.queries import get

    df = get("q_join_asof").fn(spark, SF)
    assert_plan(df, absent=("CartesianProduct", "BroadcastNestedLoopJoin",
                            "SortMergeJoin", "BroadcastHashJoin"))
    # two exchanges total: the query's view pre-agg + the ONE shuffle
    # the asof operator itself needs (union -> window on the keys)
    plan = physical_plan(df)
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_asof_join_tolerance_and_tie(spark):
    """Exact-tie timestamps match (ts >= right_ts); tolerance nulls
    matches older than the window."""
    import datetime as dt

    from telescope_data_pipeline_spark.operators.asof import asof_join

    t0 = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(1, t0, 10.0), (1, t0 + dt.timedelta(seconds=100), 20.0)],
        "id long, ts timestamp, lv double")
    right = spark.createDataFrame(
        [(1, t0, 1.0), (1, t0 + dt.timedelta(seconds=5), 2.0)],
        "k long, ts timestamp, rv double")
    right = right.withColumnRenamed("k", "id")
    out = {r.lv: r for r in
           asof_join(left, right, ["id"], "ts", "ts", ["rv"]).collect()}
    assert out[10.0].rv == 1.0       # exact tie matches (ts >= right_ts)
    assert out[20.0].rv == 2.0       # most recent prior (t0+5s)
    tol = {r.lv: r for r in
           asof_join(left, right, ["id"], "ts", "ts", ["rv"],
                     tolerance_s=10.0).collect()}
    assert tol[10.0].rv == 1.0
    assert tol[20.0].rv is None and tol[20.0].asof_ts is None  # 95 s stale


def test_decontaminate_broadcasts_benchmark(spark):
    """The benchmark gram set must broadcast — a shuffle join over the
    exploded corpus grams would move |corpus|·grams rows."""
    from telescope_data_pipeline_spark.queries import get

    assert_plan(get("q_decontaminate").fn(spark, SF),
                contains=("BroadcastHashJoin",),
                absent=("CartesianProduct", "BroadcastNestedLoopJoin"))


def test_funnel_single_hash_exchange(spark):
    """Window + same-key groupBy reuse one user_id partitioning; only
    the final 1-row global agg adds a SinglePartition exchange."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan
    from telescope_data_pipeline_spark.queries import get

    plan = physical_plan(get("q_events_funnel").fn(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_sim_bucketed_no_nested_loop(spark):
    """The judged similarity scale plan must be a hash equi-join on the
    cell key, not the broadcast nested-loop of the brute-force baseline."""
    from telescope_data_pipeline_spark.queries import get

    assert_plan(get("q_sim_bucketed").fn(spark, SF),
                absent=("BroadcastNestedLoopJoin", "CartesianProduct"))


def test_pack_sequences_no_single_partition_exchange(spark):
    """Sequence packing must run the cumulative sum as the distributed
    two-phase prefix scan — a bare orderBy window would plan an
    `Exchange SinglePartition` and ship the whole corpus to one task at
    100 TB. The final window must be keyed by the partition id (spread
    over the hash partitioning), never a global sort."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan
    from telescope_data_pipeline_spark.queries import get

    df = get("q_pack_sequences").fn(spark, SF)
    df.collect()  # finalize AQE
    _assert_windows_bucketed(physical_plan(df))


def test_mix_by_hash_zero_exchange(spark):
    """The 100 TB corpus-mixing form is a pure scan+filter: any Exchange
    in this plan means the per-language sort crept back in."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan
    from telescope_data_pipeline_spark.queries import get

    plan = physical_plan(get("q_mix_corpus_hash").fn(spark, SF))
    assert "Exchange" not in plan, plan


def test_cluster_dedup_path_no_nested_loop(spark):
    """A 100 TB dedup run reaches connected components only through
    banded candidates: the full chain (MinHash-LSH edges -> label
    propagation -> keep-min survivor join) must contain no cartesian or
    broadcast-nested-loop join anywhere — all-pairs edge generation is
    allowed only inside the 500-row oracle demo (q_cluster_components)."""
    from telescope_data_pipeline_spark.queries import get

    assert_plan(get("q_dedup_clusters").fn(spark, SF),
                absent=("BroadcastNestedLoopJoin", "CartesianProduct"))


def test_dup_spans_linear_join_no_nested_loop(spark):
    """Span dedup must stay a digest equi-join: gram groupBy + join back
    on the 16-byte md5 key, never a cartesian/nested-loop pairing."""
    assert_plan(get("q_dup_spans").fn(spark, SF),
                absent=("CartesianProduct", "BroadcastNestedLoopJoin"))


def test_bm25_broadcasts_df_table(spark):
    """The document-frequency table and the 1-row corpus stats must
    broadcast back onto the hits — a shuffle join there would move the
    whole hit stream twice."""
    assert_plan(get("q_bm25").fn(spark, SF),
                contains=("BroadcastHashJoin",),
                absent=("CartesianProduct",))


def test_scd2_single_join_no_sort(spark):
    """SCD2 is one equi-join + union: no window, no sort, no
    pair-explosion operator anywhere in the plan."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_scd2").fn(spark, SF)
    plan = physical_plan(df)
    for node in ("CartesianProduct", "BroadcastNestedLoopJoin",
                 "Window", "Sort"):
        assert node not in plan, f"unwanted {node}:\n{plan}"


def test_quality_gate_map_only(spark):
    """The composed quality gate is per-row HOF arithmetic: any Exchange
    means a rule accidentally became an aggregation."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    plan = physical_plan(get("q_quality_gate").fn(spark, SF))
    assert "Exchange" not in plan, plan


def test_incremental_dedup_no_nested_loop(spark):
    """Batch-vs-corpus dedup must stay a digest anti-join."""
    assert_plan(get("q_dedup_incremental").fn(spark, SF),
                absent=("CartesianProduct", "BroadcastNestedLoopJoin"))


def test_minhash_md5_no_nested_loop(spark):
    """The oracle-checked MinHash twin must keep the banded equi-join
    shape — candidates from (band_idx, band_hash), never all-pairs."""
    assert_plan(get("q_dedup_minhash_md5").fn(spark, SF),
                absent=("CartesianProduct", "BroadcastNestedLoopJoin"))


def test_epoch_shuffle_no_single_partition_sort(spark):
    """The seeded permutation must rank via bucket bases + local
    windows — a global ORDER BY row_number would ship the corpus to
    one task."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_epoch_shuffle").fn(spark, SF)
    df.collect()
    _assert_windows_bucketed(physical_plan(df))


def test_length_batches_no_single_partition_sort(spark):
    """Within-bucket batch ids must come from the distributed rank, not
    a per-bucket (or global) sort partition."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_length_batches").fn(spark, SF)
    df.collect()
    _assert_windows_bucketed(physical_plan(df))


def test_simhash_md5_no_nested_loop(spark):
    """The oracle-checked SimHash twin must keep the banded equi-join
    shape (chunk_idx, chunk), never all-pairs."""
    assert_plan(get("q_dedup_simhash_md5").fn(spark, SF),
                absent=("CartesianProduct", "BroadcastNestedLoopJoin"))


def test_line_dedup_digest_shuffle_no_nested_loop(spark):
    """C4-style block dedup: the global block count and the join back
    must be hash equi-joins on the md5 digest — never all-pairs — and
    re-assembly must not collapse to a single partition."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_line_dedup").fn(spark, SF)
    df.collect()
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan and \
        "BroadcastNestedLoopJoin" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_quality_percentile_broadcasts_thresholds(spark):
    """Per-language thresholds are |langs| rows: they must broadcast
    back onto the corpus (the corpus itself is never shuffled)."""
    assert_plan(get("q_quality_percentile").fn(spark, SF),
                contains=("BroadcastHashJoin",),
                absent=("CartesianProduct", "SortMergeJoin"))


def test_mix_token_budget_no_global_sort(spark):
    """The running token sum is a per-source window: one hash exchange
    on source, never an Exchange SinglePartition."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_mix_token_budget").fn(spark, SF)
    df.collect()
    plan = physical_plan(df)
    assert "Exchange SinglePartition" not in plan, plan


def test_stratified_split_no_global_sort(spark):
    """Per-stratum ranking must hash-shuffle on lang, never collapse to
    an Exchange SinglePartition."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_split_stratified").fn(spark, SF)
    df.collect()
    assert "Exchange SinglePartition" not in physical_plan(df)


def test_dedup_canonical_single_shuffle(spark):
    """Rank + group-size share ONE fingerprint partitioning: exactly one
    hash exchange in the plan, no all-pairs join."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_dedup_canonical").fn(spark, SF)
    df.collect()
    # count only the AQE final plan (the string repeats the pre-AQE
    # "Initial Plan" section below it)
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "CartesianProduct" not in plan


def test_bloom_probe_is_map_only(spark):
    """The literal-form Bloom probe must add ZERO exchanges: filter
    words ride the plan as a literal, bit tests are scalar expressions."""
    from telescope_data_pipeline_spark.operators.bloom import (
        bloom_build,
        bloom_probe_literal,
    )
    from telescope_data_pipeline_spark.plans.audit import physical_plan
    from telescope_data_pipeline_spark.sources import load_table
    from pyspark.sql import functions as F

    d = (load_table(spark, SF, "documents")
         .select("doc_id", F.md5("text").alias("dg")))
    packed = bloom_build(d.filter("doc_id % 2 = 0"), "dg",
                         m_bits=1 << 12, k=4)
    probed = bloom_probe_literal(d, "dg", packed, k=4)
    probed.collect()
    assert "Exchange" not in physical_plan(probed)


def test_dedup_bloom_no_nested_loop(spark):
    """Two-tier bloom dedup: the rescue join must stay a hash anti-join
    on digest."""
    assert_plan(get("q_dedup_bloom").fn(spark, SF),
                absent=("CartesianProduct", "BroadcastNestedLoopJoin"))


def test_kmeans_assignment_broadcast_no_cartesian(spark):
    """Assignment must broadcast the k-row centroid table (the
    deliberate small-side cross, like q_sim_topk) and reduce via one
    groupBy — never a CartesianProduct or sort-merge of the corpus."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_kmeans_step").fn(spark, SF)
    df.collect()
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan
    assert "Broadcast" in plan


def test_zorder_map_only(spark):
    """The Morton layout key is a per-row bit fold: zero Exchange — the
    whole point is that the write path gains no extra shuffle beyond
    the range partition the writer already does."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    plan = physical_plan(get("q_zorder_key").fn(spark, SF))
    assert "Exchange" not in plan, plan


def test_char_entropy_map_only(spark):
    """Both char-distribution signals are per-row HOF folds: zero
    Exchange, zero UDF (the round-robin spread exchange is allowed —
    it is load balancing, not data movement semantics)."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    plan = physical_plan(get("q_char_entropy").fn(spark, SF))
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_sparse_cosine_no_nested_loop(spark):
    """The term-space cosine must stay an equi-join on (term, doc pair)
    — an all-pairs fallback is the 100 TB killer."""
    assert_plan(get("q_sparse_cosine").fn(spark, SF),
                absent=("CartesianProduct", "BroadcastNestedLoopJoin"))


def test_inverted_index_single_aggregation_shuffle(spark):
    """Index build = explode + ONE map-side-combined groupBy on term."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_inverted_index").fn(spark, SF)
    df.collect()
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_pagerank_no_cartesian_and_broadcast_scalar(spark):
    """Each PageRank step is an |E| equi-join + groupBy; the |V| scalar
    rides a 1-row broadcast, so the only nested-loop join allowed is
    that broadcast cross join."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_pagerank").fn(spark, SF)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan, plan


def test_mv_maintenance_merges_partials(spark):
    """The MV merge must aggregate both sides before the union — the
    plan has hash aggregates below the final merge, and the history
    side is never joined row-level with the delta."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    plan = physical_plan(get("q_mv_maintenance").fn(spark, SF))
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 4, plan  # partial+final per side


def test_sample_reservoir_partitioned_window(spark):
    """Per-lang reservoir = hash window on lang, no single-partition
    collapse."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_sample_reservoir").fn(spark, SF)
    df.collect()
    assert "Exchange SinglePartition" not in physical_plan(df)


def test_anomaly_mad_broadcasts_stats(spark):
    """The |groups| stats table must broadcast back onto the event
    stream — a shuffled sort-merge join here re-shuffles the 100 TB
    fact side twice."""
    df = get("q_anomaly_mad").fn(spark, SF)
    df.collect()
    assert_plan(df, contains=("BroadcastHashJoin",),
                absent=("CartesianProduct",))


def test_pq_adc_broadcasts_codebooks_and_lut(spark):
    """PQ encode/score must broadcast the k*m codebook and the ADC
    lookup table — a shuffled join on either side re-shuffles the
    corpus twice; codes, not vectors, are the only shuffled payload."""
    df = get("q_pq_adc").fn(spark, SF)
    df.collect()
    assert_plan(df, contains=("BroadcastHashJoin",),
                absent=("CartesianProduct",))


def test_cdc_apply_partitioned_window(spark):
    """Changelog compaction is a per-key window: hash exchange on the
    key, never Exchange SinglePartition."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_cdc_apply").fn(spark, SF)
    df.collect()
    assert "Exchange SinglePartition" not in physical_plan(df)


def test_triangle_count_equi_joins_only(spark):
    """Degree-oriented triangle enumeration must plan as equi-joins on
    node keys — any nested-loop fallback is the scale killer."""
    assert_plan(get("q_triangle_count").fn(spark, SF),
                absent=("CartesianProduct", "BroadcastNestedLoopJoin"))


def test_clustering_coeff_equi_joins_only(spark):
    """q_clustering_coeff reuses the degree-oriented (Schank-Wagner)
    wedge join; pin the same shape as q_triangle_count — equi-joins on
    node keys only, no nested-loop fallback, and the top-20 is a
    TakeOrdered, not a global sort (round-11 VERDICT item 4)."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_clustering_coeff").fn(spark, SF)
    df.collect()
    assert_plan(df, contains=("TakeOrderedAndProject",),
                absent=("CartesianProduct", "BroadcastNestedLoopJoin"))
    assert "Exchange SinglePartition" not in physical_plan(df)


def test_fuzzy_join_equi_join_on_variants(spark):
    """FastSS candidates must come from the variant equi-join — an
    all-pairs levenshtein is exactly what the operator exists to
    avoid."""
    assert_plan(get("q_fuzzy_join").fn(spark, SF),
                absent=("CartesianProduct", "BroadcastNestedLoopJoin"))


def test_ohlc_single_aggregation_shuffle(spark):
    """OHLC bars are ONE map-side-combined groupBy: a second exchange
    would mean first/last lost their partial states."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_ohlc_bars").fn(spark, SF)
    df.collect()
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Exchange SinglePartition" not in plan


def test_grouped_regression_single_shuffle_exact_sums(spark):
    """Sufficient statistics ride one partial+final aggregation; the
    shuffle carries five longs per group."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_grouped_regression").fn(spark, SF)
    df.collect()
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_setsim_join_no_nested_loop(spark):
    """PPJoin candidates must come from the prefix-token equi-join;
    verification joins are equi-joins on doc ids."""
    assert_plan(get("q_setsim_join").fn(spark, SF),
                absent=("CartesianProduct", "BroadcastNestedLoopJoin"))


def test_quantile_norm_partitioned_window(spark):
    """Per-source percent rank: hash window on source, rank and count
    share ONE exchange; no single-partition collapse."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_quantile_norm").fn(spark, SF)
    df.collect()
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert "Exchange SinglePartition" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_bfs_levels_equi_joins_only(spark):
    """Each BFS hop is frontier-x-edges equi-join + visited anti-join;
    never a nested loop."""
    assert_plan(get("q_bfs_levels").fn(spark, SF),
                absent=("CartesianProduct",))


def test_negative_sample_bucket_equi_join(spark):
    """Negatives come from the ring-bucket equi-join — an anchors x
    corpus cross join is exactly what the ring exists to avoid."""
    assert_plan(get("q_negative_sample").fn(spark, SF),
                absent=("CartesianProduct", "BroadcastNestedLoopJoin"))


def test_random_projection_map_only(spark):
    """JL projection is per-row arithmetic: zero hash/range Exchange,
    zero UDF (content-addressed matrix needs no broadcast)."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    plan = physical_plan(get("q_random_projection").fn(spark, SF))
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bigram_pmi_no_nested_loop(spark):
    """PMI joins are word equi-joins plus a 1-row scalar broadcast."""
    assert_plan(get("q_bigram_pmi").fn(spark, SF),
                absent=("CartesianProduct",))


def test_ivf_probe_takeordered_and_broadcast_prune(spark):
    """IVF probe: the corpus is pruned by a broadcast semi-join on the
    probed cells and the final top-5 is TakeOrdered — no global sort,
    no CartesianProduct (the only nested-loop joins are 1-row query /
    k-row centroid broadcasts)."""
    df = get("q_ivf_probe").fn(spark, SF)
    df.collect()
    assert_plan(df, contains=("TakeOrderedAndProject",),
                absent=("CartesianProduct",))


def test_skyline_windowed_not_self_joined(spark):
    """The skyline comes from windows over ONE sort of the GRID
    SURVIVORS — the O(n^2) dominance self-join is exactly what the
    window form replaces, and the only joins allowed are the lossless
    grid pre-filter's: the 1-row stats broadcast, the <=G^2-row cell
    theta join (both nested-loop by nature, both bounded), and the
    corpus-side cell anti-join which must stay a HASH join."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_skyline").fn(spark, SF)
    df.collect()
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    # bounded-side nested loops only: the 1-row stats broadcast (once
    # per consumer branch) + the cell theta join
    assert plan.count("BroadcastNestedLoopJoin") <= 3, plan
    # the corpus-sized anti-join keys on the cell id as a hash join
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_nullsafe_join_stays_hash_join(spark):
    """<=> must plan as a (broadcast) HASH join — null-safe equality is
    still an equi-join key, not a degraded nested loop."""
    df = get("q_join_nullsafe").fn(spark, SF)
    df.collect()
    assert_plan(df, contains=("BroadcastHashJoin",),
                absent=("BroadcastNestedLoopJoin", "CartesianProduct"))


def test_new_slice_predicates_reach_parquet_scans(spark):
    """The bounded-slice predicates of the round-5 operators must push
    to the parquet scan (PushedFilters), not evaluate post-scan — at
    100 TB these ARE the partition-pruning keys."""
    for name, frag in [("q_fuzzy_join", "c_custkey"),
                       ("q_unpivot", "p_partkey"),
                       ("q_setsim_join", "doc_id"),
                       ("q_ohlc_bars", "ts")]:
        pushed = " | ".join(pushed_filters(get(name).fn(spark, SF)))
        assert frag in pushed, (name, pushed)


def test_ngram_repetition_map_only(spark):
    """Gram build/dedup/count never leave the row: no hash/range
    Exchange, no UDF."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    plan = physical_plan(get("q_ngram_repetition").fn(spark, SF))
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_oov_rate_broadcasts_vocab(spark):
    """The k-row vocabulary must broadcast onto the token stream, and
    the vocab cut must plan as TakeOrderedAndProject — NOT a
    partition-less Window collapsing all terms to one partition."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_oov_rate").fn(spark, SF)
    df.collect()
    assert_plan(df, contains=("BroadcastHashJoin",),
                absent=("CartesianProduct",))
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "Window" not in plan, plan


def test_semdedup_pairs_are_cluster_equijoin(spark):
    """SemDeDup's within-cluster pair enumeration must plan as a HASH
    join keyed on cid — never an unkeyed all-pairs join over the
    vectors. The only nested-loop joins allowed are the k-row centroid
    broadcast (the deliberate k-distances-per-vector expansion of
    assign_clusters); the n x n pair join itself must be keyed."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_semdedup").fn(spark, SF)
    df.collect()
    assert_plan(df, absent=("CartesianProduct",))
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    # the pair join keys on cid via a hash join (SMJ/SHJ/BHJ all fine)
    assert "cid" in plan
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan), plan
    # the only BNLJ inputs are the bounded k-row centroid broadcast —
    # never two corpus-sized sides (a second unkeyed join would double
    # the count: one per alias of the pair join)
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan


def test_dsir_model_broadcasts_onto_token_stream(spark):
    """DSIR's 256-bucket ratio table must broadcast back onto the
    exploded token stream as a hash equi-join on the bucket key (no
    shuffle of the stream for the model join); the only nested-loop
    joins are the two 1-row scalar-total broadcasts."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_dsir").fn(spark, SF)
    df.collect()
    assert_plan(df, contains=("BroadcastHashJoin",),
                absent=("CartesianProduct",))
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan


def test_interval_join_no_nested_loop(spark):
    """The interval overlap join must be the bucketed hash equi-join —
    the theta form would plan a nested loop over |L|x|R|."""
    df = get("q_join_interval").fn(spark, SF)
    df.collect()
    assert_plan(df, absent=("CartesianProduct", "BroadcastNestedLoopJoin"))


def test_shipping_priority_plan_shape(spark):
    """TPC-H Q3 shape: top-10 must plan TakeOrderedAndProject (no
    global sort), the filtered customer dim must broadcast, and the
    date/segment filters must reach the scans."""
    df = get("q_shipping_priority").fn(spark, SF)
    df.collect()
    assert_plan(df, contains=("TakeOrderedAndProject", "BroadcastHashJoin"),
                absent=("CartesianProduct",))
    pushed = " | ".join(pushed_filters(df))
    assert "l_shipdate" in pushed and "o_orderdate" in pushed
    assert "c_mktsegment" in pushed


def test_ks_drift_windows_partitioned(spark):
    """The KS cumulative-count window must be keyed by event_type — a
    partition-less window would collapse the distinct-value stream to
    one task. The per-type totals join must broadcast."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_ks_drift").fn(spark, SF)
    df.collect()
    plan = physical_plan(df)
    assert "Exchange SinglePartition" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_winsorize_broadcasts_percentiles(spark):
    """Pass 2 of the winsorize clip must join the tiny per-type
    percentile table by broadcast — the fact scan never reshuffles on
    the join key."""
    assert_plan(get("q_winsorize").fn(spark, SF),
                contains=("BroadcastHashJoin",),
                absent=("SortMergeJoin", "CartesianProduct"))


def test_containment_join_equi_only(spark):
    """The containment candidate join must stay an equi-join on prefix
    terms — never a nested-loop over doc pairs."""
    assert_plan(get("q_containment_join").fn(spark, SF),
                absent=("BroadcastNestedLoopJoin", "CartesianProduct"))


def test_phrase_search_equi_join_only(spark):
    """The positional phrase join must stay a hash equi-join on
    (doc_id, pos+1) — never a nested loop over postings."""
    assert_plan(get("q_phrase_search").fn(spark, SF),
                absent=("BroadcastNestedLoopJoin", "CartesianProduct"))


def test_maxsim_broadcasts_query_slices(spark):
    """MaxSim's 4x4 sub-vector pairing must ride a broadcast of the
    4-row query-slice table — the doc side never reshuffles."""
    assert_plan(get("q_maxsim_late").fn(spark, SF),
                contains=("BroadcastNestedLoopJoin",),
                absent=("SortMergeJoin",))


def test_doremi_broadcasts_model(spark):
    """The 256-row hashed-unigram model joins the token stream by
    broadcast; the only hash exchange belongs to the source aggregate."""
    assert_plan(get("q_doremi_step").fn(spark, SF),
                contains=("BroadcastHashJoin",),
                absent=("SortMergeJoin", "CartesianProduct"))


def test_shard_export_no_single_partition_exchange(spark, monkeypatch):
    """Shard assignment must run on the distributed prefix-sum scaffold —
    a global orderBy window would collapse the corpus to one task. The
    prefix sum lives in the shard WRITE (the returned manifest only
    reads the files back), so the pin inspects the written DataFrame."""
    from pyspark.sql.readwriter import DataFrameWriter

    from telescope_data_pipeline_spark.plans.audit import physical_plan

    written = []
    parquet = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        written.append(self._df)
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    get("q_shard_export").fn(spark, SF).collect()
    (shards,) = written
    _assert_windows_bucketed(physical_plan(shards))


def test_shard_export_span_guard_is_live(spark, tmp_path):
    """The composite-key span guard must survive column pruning: a
    doc_id at the 2^20 boundary has to fail the job LOUDLY (the
    round-6 advisor found the assert in a pruned column, i.e. dead)."""
    import pandas as pd
    import pytest

    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "embeddings"):
        import pyarrow.parquet as pq
        sch = pq.read_table(f"/root/testdata/sf0.001/{t}.parquet").schema
        pq.write_table(sch.empty_table(), str(tmp_path / f"{t}.parquet"))
    pd.DataFrame([{"doc_id": 1 << 20, "text": "over span doc",
                   "lang": "en", "source": "s", "n_chars": 13}]
                 ).to_parquet(tmp_path / "documents.parquet")
    with pytest.raises(Exception, match="composite-key span"):
        get("q_shard_export").fn(spark, str(tmp_path)).collect()


def test_ndcg_windows_partitioned_by_qid(spark):
    """Both ranking windows key on qid — no partition-less window, no
    single-partition exchange; the two sorts share one qid exchange."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_ndcg_mrr").fn(spark, SF)
    df.collect()
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert "Exchange SinglePartition" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_calibration_partial_aggregates(spark):
    """The 10-bin reliability aggregate must map-side combine: a
    partial HashAggregate below the exchange, no sort-based agg."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_calibration").fn(spark, SF)
    df.collect()
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert "Exchange SinglePartition" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_auc_jump_point_window_bounded(spark):
    """AUC's cumulative window runs over DISTINCT-score jump points
    (already aggregated), the totals ride a 1-row broadcast, and —
    the round-6 review fix — every window ORDERED BY score is
    PARTITIONED by the coarse bucket: the only unpartitioned window
    left is the exclusive bucket-offset prefix over |buckets| rows."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_auc_ranking").fn(spark, SF)
    assert_plan(df, contains=("HashAggregate",),
                absent=("CartesianProduct", "SortMergeJoin"))
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    for line in plan.splitlines():
        ls = line.strip()
        if ls.startswith("Window") and "score#" in ls:
            assert "[b#" in ls, f"score window not bucket-partitioned: {ls}"


def test_acf_windows_keyed_by_series(spark):
    """ACF's lag window partitions by event_type and the totals join
    broadcasts — no single-partition window over the event stream."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_acf").fn(spark, SF)
    df.collect()
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert "Exchange SinglePartition" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_zipf_vocab_cut_take_ordered(spark):
    """The top-100 spectrum cut must plan TakeOrderedAndProject — the
    regression's window runs over 100 rows, never the full vocab."""
    assert_plan(get("q_zipf_fit").fn(spark, SF),
                contains=("TakeOrderedAndProject",))


def test_linkage_candidates_equi_join(spark):
    """Candidate pairs come from a hash equi-join on the blocking key —
    never a nested-loop over all customer pairs."""
    assert_plan(get("q_linkage_blocked").fn(spark, SF),
                absent=("BroadcastNestedLoopJoin", "CartesianProduct"))


def test_ewma_fold_is_map_only_after_daily_agg(spark):
    """EWMA's recurrence runs inside per-series rows (aggregate HOF):
    two keyed aggregates, no window, no single-partition exchange."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_ewma").fn(spark, SF)
    df.collect()
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert "Exchange SinglePartition" not in plan, plan
    assert "Window" not in plan, plan


def test_bootstrap_fanout_no_shuffle_before_replicate_agg(spark):
    """The 100x fan-out is a generator (explode) feeding a map-side-
    combined groupBy on b — no join, no window, no cartesian."""
    assert_plan(get("q_bootstrap_ci").fn(spark, SF),
                contains=("Generate", "HashAggregate"),
                absent=("CartesianProduct", "SortMergeJoin", "Window"))


def test_kanonymity_single_aggregate(spark):
    """The k-anonymity audit is one map-side-combined groupBy + HAVING —
    no join, no window."""
    assert_plan(get("q_kanonymity").fn(spark, SF),
                contains=("HashAggregate",),
                absent=("Join", "Window"))


def test_kl_drift_totals_broadcast(spark):
    """Per-source counts cross-join a 1-row totals broadcast — the
    |V|-scalar pattern, no single-partition exchange on the fact side."""
    assert_plan(get("q_kl_drift").fn(spark, SF),
                contains=("BroadcastNestedLoopJoin",),
                absent=("SortMergeJoin",))


def test_kneser_ney_enrichment_joins_broadcast(spark):
    """The top-20 cut is TakeOrderedAndProject; the count-table
    enrichment joins ride the 20-row broadcast (no SortMergeJoin of
    the full bigram table against itself)."""
    assert_plan(get("q_kneser_ney").fn(spark, SF),
                contains=("TakeOrderedAndProject", "BroadcastHashJoin"),
                absent=("SortMergeJoin", "CartesianProduct"))


def test_markov_normalizer_window_on_aggregated_table(spark):
    """Transition probabilities: one user_id lag window, then the
    row-total normalizer runs over the ALREADY-AGGREGATED |types|^2
    table (partitioned by prev_type) — no second events pass, no
    cartesian."""
    assert_plan(get("q_markov_transitions").fn(spark, SF),
                contains=("Window", "HashAggregate"),
                absent=("CartesianProduct", "SortMergeJoin"))


def test_skew_audit_pure_aggregate(spark):
    """The skew audit is groupBy(key) -> grand aggregate: no join, no
    window, nothing but two aggregation levels."""
    assert_plan(get("q_skew_audit").fn(spark, SF),
                contains=("HashAggregate",),
                absent=("Join", "Window"))


def test_hll_register_joins_broadcast(spark):
    """HLL: the register spine fill and the exact-count comparison both
    join via broadcast — the fact stream is touched once by the
    register groupBy, never by a shuffled join."""
    assert_plan(get("q_hll_union").fn(spark, SF),
                contains=("BroadcastHashJoin",),
                absent=("SortMergeJoin", "CartesianProduct"))


def test_cms_probe_rides_broadcast_topk(spark):
    """Count-Min: the top-10 probe side is TakeOrderedAndProject and the
    cell lookup is a broadcast join against the bounded 2048-cell
    sketch — no shuffled join anywhere."""
    assert_plan(get("q_cms_count").fn(spark, SF),
                contains=("TakeOrderedAndProject", "BroadcastHashJoin"),
                absent=("SortMergeJoin", "CartesianProduct"))


def test_user_growth_bounded_cumulative_window(spark):
    """Growth accounting: two map-side-combined aggregates; the
    cumulative window is over the bounded |days| table. No joins."""
    assert_plan(get("q_user_growth").fn(spark, SF),
                contains=("HashAggregate", "Window"),
                absent=("Join",))


def test_bpe_merge_step_takeordered_no_join(spark):
    """BPE merge step: vocab groupBy -> in-row pair explode -> pair
    groupBy -> TakeOrderedAndProject. No join anywhere — the pair
    stream is bounded by vocabulary characters."""
    assert_plan(get("q_bpe_merge_step").fn(spark, SF),
                contains=("TakeOrderedAndProject", "Generate"),
                absent=("Join",))


def test_small_order_revenue_broadcasts_part_filter(spark):
    """Q17 shape: the filtered part list broadcasts into both lineitem
    passes; the per-part threshold join stays an equi-join (no
    cartesian, no nested loop)."""
    assert_plan(get("q_small_order_revenue").fn(spark, SF),
                contains=("BroadcastHashJoin",),
                absent=("CartesianProduct", "BroadcastNestedLoopJoin"))


def test_classification_report_single_pass(spark):
    """The confusion matrix is ONE conditional-aggregate pass over the
    fact table; the per-class reshape unions 1-row results. No join,
    no window."""
    assert_plan(get("q_classification_report").fn(spark, SF),
                contains=("HashAggregate", "Union"),
                absent=("Join", "Window"))


def test_dq_rules_fuses_same_scan_rules(spark):
    """Six rules cost three passes: per-table conditional aggregates
    plus one left join serving both FK and temporal rules — no
    cartesian, no window."""
    assert_plan(get("q_dq_rules").fn(spark, SF),
                contains=("HashAggregate", "Union"),
                absent=("CartesianProduct", "Window"))


def test_late_supplier_no_fact_self_join(spark):
    """Q21 shape: both existence tests collapse into one per-order
    aggregate — exactly one scan of lineitem joins orders, the blame
    filter re-joins per-order FLAGS (not the fact table against
    itself), and the final cut is TakeOrderedAndProject."""
    df = get("q_late_supplier").fn(spark, SF)
    assert_plan(df, contains=("TakeOrderedAndProject",),
                absent=("CartesianProduct", "BroadcastNestedLoopJoin"))
    from telescope_data_pipeline_spark.plans.audit import physical_plan
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    # the lateness leg is consumed by per_order AND blamed (two scans
    # of each input, no cache) — still linear; the forbidden shape is
    # a lineitem x lineitem theta join, which the absent-list pins
    assert plan.count("Scan parquet") <= 4


def test_label_propagation_pregel_shape(spark):
    """LPA: per-iteration |E| equi-join + (node,label) count + node-
    keyed window — no cartesian, no single-partition window."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan
    df = get("q_label_propagation").fn(spark, SF)
    assert_plan(df, contains=("Window", "HashAggregate"),
                absent=("CartesianProduct", "BroadcastNestedLoopJoin"))
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert "Exchange SinglePartition" not in plan


def test_sequence_pattern_one_shuffle(spark):
    """Journey reconstruction: one user_id groupBy (object agg), then
    map-side conditional counts — no join, no window."""
    # collect_list plans ObjectHashAggregate; "Aggregate" matches both
    assert_plan(get("q_sequence_pattern").fn(spark, SF),
                contains=("Aggregate",),
                absent=("Join", "Window"))


def test_sample_neyman_allocation_broadcast(spark):
    """Neyman sampling: stats groupBy, |strata|-row allocation joined
    back via broadcast, per-stratum rank window — no shuffled join of
    the corpus."""
    assert_plan(get("q_sample_neyman").fn(spark, SF),
                contains=("BroadcastHashJoin", "Window"),
                absent=("SortMergeJoin", "CartesianProduct"))


def test_pass_at_k_single_groupby(spark):
    """pass@k: one conditional-count groupBy; the estimator is map-side
    arithmetic. No join, no window."""
    assert_plan(get("q_pass_at_k").fn(spark, SF),
                contains=("HashAggregate",),
                absent=("Join", "Window"))


def test_changepoint_single_series_exchange(spark):
    """Change-point: prefix sums, series totals, and the argmax rank all
    share the event_type partitioning — exactly one hash exchange, no
    quadratic split recompute (no join at all)."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan
    df = get("q_changepoint").fn(spark, SF)
    assert_plan(df, contains=("Window",), absent=("Join",))
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_sessionize_single_user_exchange(spark):
    """Gap-and-island sessionization: the lag window, the session-id
    running sum, and the per-session groupBy share ONE user_id
    partitioning."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan
    df = get("q_sessionize").fn(spark, SF)
    assert_plan(df, contains=("Window",), absent=("Join",))
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_rfm_thresholds_broadcast_no_global_sort(spark):
    """RFM quintiles assign by broadcast thresholds — no ntile, no
    partition-less window, no single-partition exchange of the
    customer table (the 1-row threshold agg is the only collapse)."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan
    df = get("q_rfm_segments").fn(spark, SF)
    assert_plan(df, absent=("Window", "SortMergeJoin"))
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    # exactly the threshold aggregate's 1-row collapse, nothing else
    assert plan.count("Exchange SinglePartition") <= 1, plan


def test_seasonal_baseline_profile_broadcast(spark):
    """The hour-of-day profile (<= |types| x 24 cells) broadcasts back
    onto an unshuffled fact scan — the q_winsorize shape."""
    assert_plan(get("q_seasonal_baseline").fn(spark, SF),
                contains=("BroadcastHashJoin",),
                absent=("SortMergeJoin", "Window", "CartesianProduct"))


def test_holt_fold_in_row_no_udf(spark):
    """Holt runs as an in-row aggregate() fold over the bounded daily
    series — no Python UDF, no join; the only shuffles are the daily
    groupBy and the per-series collect."""
    plan_df = get("q_holt_forecast").fn(spark, SF)
    assert_plan(plan_df, contains=("Aggregate",),
                absent=("Join", "BatchEvalPython", "ArrowEvalPython"))


def test_attribution_single_window_pass(spark):
    """Last-touch attribution: one user_id window + channel groupBy —
    no join, no self-join of purchases against touches."""
    assert_plan(get("q_attribution").fn(spark, SF),
                contains=("Window", "HashAggregate"),
                absent=("Join",))


def test_source_overlap_digest_equi_join(spark):
    """Contamination matrix: DISTINCT (source, digest) before the
    self-join; the join is an equi-join on the digest — no nested
    loop, no all-pairs of documents."""
    assert_plan(get("q_source_overlap").fn(spark, SF),
                absent=("CartesianProduct", "BroadcastNestedLoopJoin"))


def test_mlm_mask_map_only(spark):
    """Masked-example generation is a pure map: zero Exchange, zero
    UDF — tokens never leave their row."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan
    df = get("q_mlm_mask").fn(spark, SF)
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert "Exchange" not in plan, plan
    assert_plan(df, absent=("BatchEvalPython", "ArrowEvalPython", "Join"))


def test_recursive_calendar_has_recursion_node(spark):
    """The calendar spine must come from the engine's native recursive
    execution (UnionLoop / recursive CTE plan node), not a collected
    driver loop."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan
    df = get("q_recursive_calendar").fn(spark, SF)
    plan = physical_plan(df)
    assert "UnionLoop" in plan or "Recursion" in plan or "CTE" in plan, plan


def test_kaplan_meier_bounded_windows(spark):
    """KM: user aggregate + |lags| groupBy; the cumulative windows run
    over the bounded distinct-lag table only — no shuffled join (the
    horizon and total are 1-row broadcasts)."""
    assert_plan(get("q_kaplan_meier").fn(spark, SF),
                contains=("Window", "BroadcastNestedLoopJoin"),
                absent=("SortMergeJoin",))


def test_ab_power_single_pass(spark):
    """Power analysis: one conditional aggregate, formula map-side."""
    assert_plan(get("q_ab_power").fn(spark, SF),
                contains=("HashAggregate",),
                absent=("Join", "Window"))


def test_dedup_cascade_digest_joins_only(spark):
    """The cascade's near-dup stage joins fingerprint digests of
    stage-2 SURVIVORS — no all-pairs, no raw text in any shuffle."""
    from telescope_data_pipeline_spark.queries import get
    # eager query (stage counts are the output) — assert on a rerun of
    # the heaviest internal shape instead: fingerprint self-join
    df = get("q_dedup_cascade").fn(spark, SF)
    rows = {r["stage"]: r for r in df.collect()}
    assert set(rows) == {"exact", "tokenset", "neardup"}
    # funnel closure: out of stage i == in of stage i+1
    assert rows["exact"]["docs_out"] == rows["tokenset"]["docs_in"]
    assert rows["tokenset"]["docs_out"] == rows["neardup"]["docs_in"]
    for r in rows.values():
        assert r["docs_in"] - r["docs_removed"] == r["docs_out"]
        assert r["docs_removed"] >= 0


def test_funnel_windowed_single_user_exchange(spark):
    """Time-boxed funnel: both range-frame windows and the per-user
    collapse share ONE user_id hash partitioning."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan
    df = get("q_funnel_windowed").fn(spark, SF)
    assert_plan(df, contains=("Window",), absent=("Join",))
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_rolling_active_users_no_range_join(spark):
    """WAU: bounded 7x in-row explode + hash equi-join on the day
    spine — never the nested-loop RANGE join of the naive form."""
    assert_plan(get("q_rolling_active_users").fn(spark, SF),
                contains=("Generate", "BroadcastHashJoin"),
                absent=("BroadcastNestedLoopJoin", "CartesianProduct"))


def test_kcore_pregel_shape(spark):
    """k-core peeling: per-round |E| semi-joins + degree groupBy — no
    cartesian, no nested loop."""
    assert_plan(get("q_kcore").fn(spark, SF),
                contains=("HashAggregate",),
                absent=("CartesianProduct", "BroadcastNestedLoopJoin"))


def test_graph_queries_share_cached_edge_list(spark):
    """r10 plan sweep: uncached, the co-purchase edge self-join was
    re-embedded 30-60x per iterative graph plan (each consumer branch
    per round). The shared _copurchase_edges CacheSlot + per-round
    localCheckpoint must keep every remaining base-table reference an
    InMemoryTableScan leg — the lineitem parquet scan may appear ONLY
    inside the cached relation's rendering (2 scans per leg), never as
    an independent subtree."""
    def _indent(line: str) -> int:
        body = line.lstrip(" :+-*(0123456789)")
        return len(line) - len(body)

    for name in ("q_triangle_count", "q_kcore", "q_label_propagation",
                 "q_assortativity"):
        df = get(name).fn(spark, SF)
        phys = df._jdf.queryExecution().executedPlan().toString()
        # indentation-aware walk: a lineitem FileScan line is legal only
        # when an ancestor line (less-indented, above it) is an
        # InMemoryRelation — i.e. the scan exists solely as the cached
        # relation's definition rendering, never as live plan subtree
        cache_stack: list[int] = []  # indents of open InMemoryRelation nodes
        for line in phys.splitlines():
            ind = _indent(line)
            while cache_stack and ind <= cache_stack[-1]:
                cache_stack.pop()
            if "InMemoryRelation" in line:
                cache_stack.append(ind)
            elif "/lineitem.parquet" in line and not cache_stack:
                raise AssertionError(
                    f"{name}: live (uncached) lineitem scan:\n{line}\n{phys}")


def test_kmv_theta_bounded_shapes(spark):
    """KMV theta sketch: the bottom-k is two-phase (sharded window then
    final window over <= 64k survivors) and the kept-set intersection
    is a hash equi-join — no cartesian product anywhere. The only
    nested-loop nodes allowed are the sanctioned 1-row scalar
    broadcasts (theta / exact-intersection count)."""
    df = get("q_kmv_theta").fn(spark, SF)
    assert_plan(df, contains=("HashAggregate", "Window"),
                absent=("CartesianProduct",))


def test_lift_gains_two_phase_rank(spark):
    """Lift/gains: the global rank must be the two-phase bucketed form
    (bucket-partitioned window), never a single global sort of the
    scored rows; the only windows beyond it run over the 10 decile
    rows."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_lift_gains").fn(spark, SF)
    df.collect()
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert "hashpartitioning(_pid" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_mutual_info_cell_reduction(spark):
    """MI: one full-data groupBy onto |X|*|Y| cells; margins re-aggregate
    the cells. No cartesian product (the 1-row scalar broadcasts plan
    as BroadcastNestedLoopJoin, the sanctioned shape)."""
    assert_plan(get("q_mutual_info").fn(spark, SF),
                contains=("HashAggregate",), absent=("CartesianProduct",))


def test_table_diff_digest_join(spark):
    """Table diff: one FULL OUTER hash/merge equi-join on (key, digest)
    projections — never a nested loop or cartesian."""
    assert_plan(get("q_table_diff").fn(spark, SF),
                contains=("FullOuter",),
                absent=("CartesianProduct", "BroadcastNestedLoopJoin"))


def test_gini_two_phase_rank(spark):
    """Gini: rank via the bucketed two-phase row number, weighted sum
    as one map-side-combined aggregate — no global sort."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_gini_concentration").fn(spark, SF)
    df.collect()
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert "hashpartitioning(_pid" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_skipgram_in_row_pairs(spark):
    """Skip-gram counts: pairs built in-row (Generate over the HOF
    output), then count + TakeOrdered — never the quadratic token
    self-join of the oracle formulation."""
    assert_plan(get("q_skipgram_counts").fn(spark, SF),
                contains=("Generate", "TakeOrderedAndProject"),
                absent=("CartesianProduct", "SortMergeJoin",
                        "BroadcastNestedLoopJoin"))


def test_pca_power_no_gram_matrix(spark):
    """PCA step: X'(Xv) via explode + cell groupBy + d-row broadcast —
    the Gram matrix never materializes, no cartesian join of X with
    itself."""
    assert_plan(get("q_pca_power_step").fn(spark, SF),
                contains=("Generate", "HashAggregate"),
                absent=("CartesianProduct",))


# --- round-9: mining.py physical shapes (VERDICT r8 item 3) ---------------


def test_psi_drift_bounded_shuffle(spark):
    """PSI: ONE fact scan with a side flag (never two jobs), bin edges a
    1-row scalar broadcast (sanctioned BNLJ), per-bin counts map-side
    combined onto 10 cells. No cartesian product."""
    assert_plan(get("q_psi_drift").fn(spark, SF),
                contains=("HashAggregate",), absent=("CartesianProduct",))


def test_assoc_rules_basket_keyed_self_join(spark):
    """Association rules: pair generation is an equi-join keyed on the
    ORDER key (fan-out bounded by basket size^2, never |orders|^2),
    brand dims broadcast, top-50 as TakeOrdered — no cartesian."""
    assert_plan(get("q_assoc_rules").fn(spark, SF),
                contains=("TakeOrderedAndProject", "HashAggregate"),
                absent=("CartesianProduct",))


def test_adamic_adar_hub_prune_before_pair_expansion(spark):
    """Adamic-Adar: the degree cap (2..40) must gate pair generation —
    hub parts pruned BEFORE their deg^2 pairs exist (round-8 ADVICE).
    In the r13 degree-first shape the cap filters a map-side-combined
    per-part COUNT (no list ever materializes for a hub), the gate
    join drops hub rows, and pair expansion is a Generate over the
    bounded (<= 40) collected array — no cartesian anywhere. The gate
    join on pk may plan sort-merge (its build side is |parts|-sized —
    NOT broadcastable at corpus scale), so only the genuinely
    scale-killing shapes are banned."""
    df = get("q_adamic_adar").fn(spark, SF)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "<= 40" in opt, f"degree cap missing:\n{opt}"
    assert_plan(df, contains=("TakeOrderedAndProject", "Generate"),
                absent=("CartesianProduct",
                        "BroadcastNestedLoopJoin"))


def test_adamic_adar_base_relation_computed_once(spark):
    """Adamic-Adar: round-9 VERDICT flagged the orders-join-lineitem-
    distinct base recomputed FOUR times (once per self-join branch and
    embedded degree agg). The r13 degree-first shape has two consumers
    of the distinct (ck, pk) edge list — the degree count and the gate
    join's probe side — which descend from the byte-identical subtree,
    so the edge list's shuffle must materialize ONCE and the second
    consumer must read it as ReusedExchange. That is a RUNTIME
    property: the initial adaptive plan prints both subtrees, so the
    assertion runs on the post-execution final plan.

    Cache-neutral: q_jaccard_linkpred CacheSlot-pins the SAME capped-
    arrays relation; clear the cache first so the pin cannot
    substitute an InMemoryRelation into this plan."""
    if spark.conf.get("spark.sql.adaptive.enabled") != "true":
        pytest.skip("ReusedExchange stage dedup is an AQE runtime "
                    "property; meaningless with AQE disabled")
    spark.catalog.clearCache()
    df = get("q_adamic_adar").fn(spark, SF)
    df.collect()
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in phys, phys[:2000]
    final = phys.split("+- == Initial Plan ==")[0]
    assert "ReusedExchange" in final, \
        f"edge-list exchange not reused:\n{final}"
    for tbl in ("orders", "lineitem"):
        n = final.count(f"/{tbl}.parquet")
        assert n == 1, f"{tbl} scanned {n}x in final plan (want 1):\n{final}"


def test_rate_shrinkage_single_aggregate(spark):
    """EB shrinkage: ONE shuffle builds both counters (conditional agg),
    the global prior is a 1-row scalar broadcast — no fact self-join,
    no sort-merge anywhere."""
    assert_plan(get("q_rate_shrinkage").fn(spark, SF),
                contains=("HashAggregate",),
                absent=("CartesianProduct", "SortMergeJoin"))


def test_woe_iv_bounded_shapes(spark):
    """WOE/IV: one fact join, one 5-group aggregate, a 1-row totals
    broadcast — no cartesian product on data tables."""
    assert_plan(get("q_woe_iv").fn(spark, SF),
                contains=("HashAggregate",), absent=("CartesianProduct",))


def test_feature_hashing_map_only_no_joins(spark):
    """The hashing trick: tokens hash map-side into 64 buckets — NO
    vocabulary join of any kind may appear (that is the entire point
    of the operator)."""
    assert_plan(get("q_feature_hashing").fn(spark, SF),
                contains=("Generate", "HashAggregate"),
                absent=("CartesianProduct", "SortMergeJoin",
                        "BroadcastHashJoin", "BroadcastNestedLoopJoin"))


def test_mutual_nn_broadcast_on_bounded_side_only(spark):
    """Mutual-NN (documented exactness anchor): the cross-score
    broadcasts the BOUNDED candidate side (BNLJ is the sanctioned
    shape here); both argmax directions rank ONE scored relation via
    windows — no shuffled join of the two sets."""
    assert_plan(get("q_mutual_nn").fn(spark, SF),
                contains=("BroadcastNestedLoopJoin", "Window"),
                absent=("CartesianProduct", "SortMergeJoin"))


def test_theilsen_size_band_before_pair_join(spark):
    """Theil-Sen: the 5..50 observation band must prune oversized users
    BEFORE the O(n^2) pair join (round-8 ADVICE) — the band filter
    appears under both self-join branches via the left-semi prune, and
    the pair join itself is user-keyed, never cartesian."""
    df = get("q_theilsen").fn(spark, SF)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("<= 50") >= 2, f"size band not on both sides:\n{opt}"
    assert_plan(df, absent=("CartesianProduct", "BroadcastNestedLoopJoin"))


# --- round-9: science.py physical shapes ----------------------------------


def test_cuped_single_fact_pass(spark):
    """CUPED: one conditional-agg groupBy builds BOTH period covariates
    (never two fact scans), pooled stats and theta ride 1-row scalar
    broadcasts — no sort-merge join anywhere."""
    assert_plan(get("q_cuped").fn(spark, SF),
                contains=("HashAggregate",),
                absent=("CartesianProduct", "SortMergeJoin"))


def test_mann_whitney_distinct_value_window(spark):
    """Mann-Whitney: rank algebra on DISTINCT pooled values (the KS
    jump-point shape) — one (type, value) groupBy, one type-keyed
    window, no per-row rank materialization, no cartesian."""
    assert_plan(get("q_mann_whitney").fn(spark, SF),
                contains=("HashAggregate", "Window"),
                absent=("CartesianProduct",))


def test_cohens_kappa_marginals_only(spark):
    """Kappa: one pass for n/agree + two 10-row marginal aggregates —
    the 10x10 confusion matrix never materializes; the only joins are
    bounded-side hash joins on the class key."""
    assert_plan(get("q_cohens_kappa").fn(spark, SF),
                contains=("HashAggregate",),
                absent=("CartesianProduct", "SortMergeJoin"))


def test_benford_constant_shuffle(spark):
    """Benford: map-only digit extraction + 9-cell map-side-combined
    count; windows run over the 9-row spine only."""
    assert_plan(get("q_benford").fn(spark, SF),
                contains=("HashAggregate",),
                absent=("CartesianProduct", "SortMergeJoin"))


def test_burstiness_single_user_exchange(spark):
    """Burstiness: ONE user-keyed exchange shared by the lag window and
    the sufficient-statistics groupBy — the sessionize shape."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_burstiness").fn(spark, SF)
    df.collect()
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert plan.count("Exchange hashpartitioning") <= 1, plan
    assert "CartesianProduct" not in plan, plan


def test_rolling_median_bounded_frame_no_join(spark):
    """Rolling median: one series-keyed window (4 lags + in-row array
    sort) — no join, no unbounded frame, no second exchange."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_rolling_median").fn(spark, SF)
    df.collect()
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert plan.count("Exchange hashpartitioning") <= 1, plan
    assert "Join" not in plan, plan


def test_hard_negatives_broadcast_anchor_side(spark):
    """Hard negatives: the BOUNDED 20-anchor set is the broadcast build
    side and the unbounded corpus streams (round-9 ADVICE: BNLJ
    presence alone can't distinguish which side broadcasts, and
    broadcasting the corpus would OOM at scale). Pin it structurally:
    the anchors' ``vec_id < 20`` filter must sit AFTER the
    BroadcastExchange node in the physical tree (the build subtree
    prints below the exchange; the streamed corpus side prints above
    it). Ranking windows on the anchor key — no shuffled all-pairs."""
    df = get("q_hard_negatives").fn(spark, SF)
    assert_plan(df, contains=("BroadcastNestedLoopJoin", "Window"),
                absent=("CartesianProduct", "SortMergeJoin"))
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in phys, phys
    build_subtree = phys.split("BroadcastExchange", 1)[1]
    assert "< 20" in build_subtree, (
        f"anchor filter not under the broadcast exchange:\n{phys}")
    streamed_side = phys.split("BroadcastExchange", 1)[0]
    assert "< 20" not in streamed_side, (
        f"anchor filter on the streamed side:\n{phys}")


def test_embed_int8_no_vector_shuffle(spark):
    """int8 audit: global scale is a 1-row broadcast; the explode and
    both groupBys (vectors, then 10 labels) partial-aggregate — the
    embedding vectors themselves never shuffle wide."""
    assert_plan(get("q_embed_int8").fn(spark, SF),
                contains=("Generate", "HashAggregate"),
                absent=("CartesianProduct", "SortMergeJoin"))


def test_centroid_sim_cell_reduction(spark):
    """Centroid similarity: ONE full-data groupBy onto |labels| x d
    cells; the 45-pair self-join runs on the 640-cell table with
    broadcast norms — metadata-sized, no cartesian on data."""
    assert_plan(get("q_centroid_sim").fn(spark, SF),
                contains=("Generate", "HashAggregate"),
                absent=("CartesianProduct",))


def test_readability_map_only(spark):
    """ARI: three regexp passes per row, zero Exchange, zero joins —
    the gate-at-the-scan text-quality shape."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_readability_ari").fn(spark, SF)
    plan = physical_plan(df)
    assert "Join" not in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan


# --- round-10: inference.py physical shapes --------------------------------


def test_spearman_group_keyed_ranks(spark):
    """Spearman: average-rank windows partition by the GROUP key (never
    a global single-partition sort), and every sufficient statistic is
    a grouped integer aggregate."""
    assert_plan(get("q_spearman").fn(spark, SF),
                contains=("Window", "HashAggregate"),
                absent=("CartesianProduct",))


def test_cramers_v_margins_on_cell_table(spark):
    """Cramér's V: margins come from windows over the (r x c) CELL
    table; the fact table contributes exactly one conditional-count
    groupBy — no join between fact-sized relations."""
    assert_plan(get("q_cramers_v").fn(spark, SF),
                contains=("Window", "HashAggregate"),
                absent=("CartesianProduct", "SortMergeJoin"))


def test_mcc_joinless_single_pass(spark):
    """MCC: ONE conditional-aggregate pass to a 1-row confusion matrix
    — no join operator of any kind in the plan."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    plan = physical_plan(get("q_mcc").fn(spark, SF))
    assert "Join" not in plan, plan


def test_js_drift_broadcast_totals(spark):
    """JS drift: q_kl_drift's shape — conditional-count groupBy on
    source, 1-row totals broadcast, no shuffled join."""
    assert_plan(get("q_js_drift").fn(spark, SF),
                contains=("HashAggregate",),
                absent=("CartesianProduct", "SortMergeJoin"))


def test_target_encode_probe_filter_under_join(spark):
    """LOO target encoding: the keyed 1/101 sample filter must sit on
    the probe side BELOW the category join (Catalyst pushes it to the
    scan), while the stats side reads everything — LOO requires it."""
    df = get("q_target_encode").fn(spark, SF)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "% 101" in opt, opt
    assert_plan(df, contains=("HashAggregate",),
                absent=("CartesianProduct",))


def test_fleiss_kappa_two_groupbys(spark):
    """Fleiss' kappa: explode to 3n rater rows, then map-side-combined
    groupBys — the category totals pivot on the CELL table, never the
    corpus; only 1-row broadcast scalars join."""
    assert_plan(get("q_fleiss_kappa").fn(spark, SF),
                contains=("Generate", "HashAggregate"),
                absent=("CartesianProduct", "SortMergeJoin"))


def test_did_joinless_single_pass(spark):
    """DiD: all four cells' sufficient statistics come from ONE
    conditional-aggregate fact pass; the pivot runs on 4 rows — no
    join operator anywhere."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    plan = physical_plan(get("q_did").fn(spark, SF))
    assert "Join" not in plan, plan


def test_bayes_ab_joinless(spark):
    """Bayesian A/B: per-user conversion groupBy then a 1-row
    conditional aggregate — no join operator anywhere."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    plan = physical_plan(get("q_bayes_ab").fn(spark, SF))
    assert "Join" not in plan, plan


def test_keyword_tfidf_doc_keyed_topk(spark):
    """TF-IDF keywords: the top-3 window partitions by doc_id (millions
    of independent partitions at scale), the sample filter reaches the
    tf probe scan, and nothing goes cartesian."""
    df = get("q_keyword_tfidf").fn(spark, SF)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "% 25" in opt, opt
    assert_plan(df, contains=("Window", "Generate"),
                absent=("CartesianProduct",))


def test_info_gain_joinless_single_pass(spark):
    """Information gain: eight integer conditional counts from one
    groupBy pass — no join operator anywhere."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    plan = physical_plan(get("q_info_gain").fn(spark, SF))
    assert "Join" not in plan, plan


def test_sprt_stream_keyed_walk(spark):
    """SPRT: the cumulative walk partitions by the experiment stream
    key; the first-crossing lookup joins a |streams|-row relation back
    to |streams|-row totals — no cartesian, no fact-table join."""
    assert_plan(get("q_sprt").fn(spark, SF),
                contains=("Window",),
                absent=("CartesianProduct",))


# --- round-10 second batch: metrics.py physical shapes ----------------------


def test_recall_at_k_qid_keyed(spark):
    """Recall@k: one qid-keyed window + grouped conditional sums — the
    q_ndcg_mrr shape, no cartesian."""
    assert_plan(get("q_recall_at_k").fn(spark, SF),
                contains=("Window", "HashAggregate"),
                absent=("CartesianProduct",))


def test_ece_ten_key_rollup(spark):
    """ECE: 10-key bin groupBy then a 10-row rollup — no fact-table
    join, no window."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    plan = physical_plan(get("q_ece").fn(spark, SF))
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_smd_balance_single_fact_pass(spark):
    """SMD balance: one per-user groupBy feeds the covariate explode —
    the fact table is scanned once however many covariates are
    screened; no joins beyond 1-row broadcasts."""
    assert_plan(get("q_smd_balance").fn(spark, SF),
                contains=("Generate", "HashAggregate"),
                absent=("CartesianProduct", "SortMergeJoin",
                        "BroadcastHashJoin"))


def test_trend_test_joinless(spark):
    """Cochran-Armitage: 5-key groupBy to five integer sums, 1-row z —
    no join operator anywhere."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    plan = physical_plan(get("q_trend_test").fn(spark, SF))
    assert "Join" not in plan, plan


def test_session_entropy_joinless(spark):
    """Type-mix entropy: two map-side-combined groupBys and a 4-key
    rollup — no joins, no windows."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    plan = physical_plan(get("q_session_entropy").fn(spark, SF))
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan


def test_jaccard_drift_vocab_shuffle_only(spark):
    """Vocabulary Jaccard: distinct + one token groupBy; no join —
    membership flags aggregate in place."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    plan = physical_plan(get("q_jaccard_drift").fn(spark, SF))
    assert "Join" not in plan, plan


def test_forecast_accuracy_stream_keyed(spark):
    """MAPE/RMSE: (type, day) groupBy + per-stream lag window, grouped
    integer folds — no cartesian, no fact join."""
    assert_plan(get("q_forecast_accuracy").fn(spark, SF),
                contains=("Window", "HashAggregate"),
                absent=("CartesianProduct", "SortMergeJoin"))


def test_novelty_rate_digest_join(spark):
    """Novelty rate: the join-back is keyed on the 16-byte digest —
    never a cartesian; text itself never shuffles (only md5 survives
    the first projection)."""
    df = get("q_novelty_rate").fn(spark, SF)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "md5" in opt, opt
    assert_plan(df, contains=("HashAggregate",),
                absent=("CartesianProduct", "BroadcastNestedLoopJoin"))


def test_ips_offpolicy_joinless_map_only(spark):
    """IPS/SNIPS: hash propensities and clipped weights are map-side
    integer expressions; one 1-row aggregate — no join, no window."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    plan = physical_plan(get("q_ips_offpolicy").fn(spark, SF))
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan


def test_hhi_cell_rollup(spark):
    """HHI: (lang, source) groupBy then a lang rollup over cells —
    the only join is the |cells|-to-|langs| one, never fact-sized."""
    assert_plan(get("q_hhi").fn(spark, SF),
                contains=("HashAggregate",),
                absent=("CartesianProduct", "SortMergeJoin"))


def test_topk_overlap_window_on_count_table(spark):
    """Top-k overlap: the per-snapshot ranking window runs over the
    (snap, tok) COUNT table, not the exploded corpus — the Generate
    feeds an aggregate BEFORE any window."""
    assert_plan(get("q_topk_overlap").fn(spark, SF),
                contains=("Generate", "Window", "HashAggregate"),
                absent=("CartesianProduct", "SortMergeJoin"))


def test_perplexity_vocab_join_and_totals_broadcast(spark):
    """Perplexity: token-vocabulary join (AQE picks broadcast at demo
    scale) plus a 1-row totals broadcast; no cartesian on data."""
    assert_plan(get("q_perplexity").fn(spark, SF),
                contains=("Generate", "HashAggregate"),
                absent=("CartesianProduct",))


def test_target_encode_stats_cached_single_fact_pass(spark):
    """LOO target encoding: the |categories|-row stats table is cached,
    so the encode join and the global-rate aggregate share ONE fact
    pass — at most one LIVE orders scan (the probe side) outside the
    cached relation's rendering."""
    def _indent(line: str) -> int:
        body = line.lstrip(" :+-*(0123456789)")
        return len(line) - len(body)

    df = get("q_target_encode").fn(spark, SF)
    df.collect()
    phys = df._jdf.queryExecution().executedPlan().toString() \
        .split("== Initial Plan ==")[0]
    cache_stack: list[int] = []
    live = 0
    for line in phys.splitlines():
        ind = _indent(line)
        while cache_stack and ind <= cache_stack[-1]:
            cache_stack.pop()
        if "InMemoryRelation" in line:
            cache_stack.append(ind)
        if ("Scan parquet" in line or "FileScan" in line) \
                and not cache_stack:
            live += 1
    assert live <= 1, phys


def test_perplexity_vocab_cached(spark):
    """Perplexity: the vocabulary is cached, so the totals aggregate
    and the scoring join share one corpus explode — at most one LIVE
    documents scan (the scoring pass) outside the cached rendering."""
    def _indent(line: str) -> int:
        body = line.lstrip(" :+-*(0123456789)")
        return len(line) - len(body)

    df = get("q_perplexity").fn(spark, SF)
    df.collect()
    phys = df._jdf.queryExecution().executedPlan().toString() \
        .split("== Initial Plan ==")[0]
    cache_stack: list[int] = []
    live = 0
    for line in phys.splitlines():
        ind = _indent(line)
        while cache_stack and ind <= cache_stack[-1]:
            cache_stack.pop()
        if "InMemoryRelation" in line:
            cache_stack.append(ind)
        if ("Scan parquet" in line or "FileScan" in line) \
                and not cache_stack:
            live += 1
    assert live <= 1, phys


def test_ttr_hapax_vocab_rollup(spark):
    """TTR/hapax: one (source, token) groupBy then a sources rollup —
    no joins, no windows."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    plan = physical_plan(get("q_ttr_hapax").fn(spark, SF))
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan


def test_outlier_iqr_broadcast_fences(spark):
    """IQR outliers: the per-group quartile table joins back onto the
    stream as a BROADCAST — the fact table never shuffles for the
    fence test."""
    assert_plan(get("q_outlier_iqr").fn(spark, SF),
                contains=("BroadcastHashJoin", "HashAggregate"),
                absent=("CartesianProduct", "SortMergeJoin"))


def test_compress_ratio_map_only(spark):
    """Compression ratio: the zlib kernel is a map-only Arrow stage —
    no Exchange, no join; the sample filter sits under the Python
    node."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    plan = physical_plan(get("q_compress_ratio").fn(spark, SF))
    assert "Join" not in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "MapInPandas" in plan, plan


def test_nelson_aalen_bounded_windows(spark):
    """Nelson-Aalen: cumulative windows run over the BOUNDED
    distinct-lag table (the q_kaplan_meier shape) — no fact-sized
    join, no cartesian on data (the 1-row horizon broadcast is the
    only cross join)."""
    assert_plan(get("q_nelson_aalen").fn(spark, SF),
                contains=("Window", "HashAggregate"),
                absent=("CartesianProduct", "SortMergeJoin"))


def test_krippendorff_joinless_groupbys(spark):
    """Krippendorff's alpha: explode + two map-side-combined groupBys
    + 1-row broadcast marginals — no data-sized join, no window."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    plan = physical_plan(get("q_krippendorff").fn(spark, SF))
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Window" not in plan, plan


def test_silhouette_centroid_broadcast_no_pairwise(spark):
    """Silhouette: the k x d centroid table joins back as a BROADCAST
    onto the exploded dims — the O(n^2) pairwise form must never
    appear (no vector-vector join of any kind)."""
    assert_plan(get("q_silhouette").fn(spark, SF),
                contains=("Generate", "BroadcastHashJoin",
                          "HashAggregate"),
                absent=("CartesianProduct", "SortMergeJoin",
                        "BroadcastNestedLoopJoin"))


def test_mann_kendall_bounded_pairwise(spark):
    """Mann-Kendall: the sign self-join is keyed on the stream over
    the BOUNDED daily table — equi-join, never cartesian."""
    assert_plan(get("q_mann_kendall").fn(spark, SF),
                contains=("HashAggregate",),
                absent=("CartesianProduct", "BroadcastNestedLoopJoin"))


def test_runs_test_bounded_windows(spark):
    """Runs test: median split + lag window run over the bounded daily
    table, keyed per stream — no cartesian."""
    assert_plan(get("q_runs_test").fn(spark, SF),
                contains=("Window", "HashAggregate"),
                absent=("CartesianProduct",))


def test_kruskal_wallis_distinct_value_window(spark):
    """Kruskal-Wallis: rank algebra on DISTINCT pooled values (the
    q_mann_whitney shape) — one (type, value) groupBy, one type-keyed
    window, no per-row rank materialization, no cartesian."""
    assert_plan(get("q_kruskal_wallis").fn(spark, SF),
                contains=("HashAggregate", "Window"),
                absent=("CartesianProduct",))


def test_brown_forsythe_broadcast_medians(spark):
    """Brown-Forsythe: the |groups|-row median table joins back as a
    BROADCAST; everything else is conditional aggregation."""
    assert_plan(get("q_brown_forsythe").fn(spark, SF),
                contains=("BroadcastHashJoin", "HashAggregate"),
                absent=("CartesianProduct", "SortMergeJoin"))


def test_lorenz_points_no_global_ntile(spark):
    """q_lorenz_points (round-10 VERDICT item 1): the decile must come
    from the distributed two-pass rank, never a global ntile(10) window
    over the full documents table. The only SinglePartition exchange
    allowed is the 10-row cumulative-share window AFTER the decile
    aggregate; no Window node may run over the unaggregated corpus in
    one task (the windowspecdefinitions must all be _pid-bucketed)."""
    import re

    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_lorenz_points").fn(spark, SF)
    df.collect()
    # NOTE: cached relations embed their own nested AdaptiveSparkPlan
    # blocks, so the usual split('== Initial Plan ==')[0] slice would
    # truncate the outer final plan at the FIRST nested block — scan
    # the full text instead (initial sections repeat the same specs).
    plan = physical_plan(df)
    assert "ntile" not in plan, plan
    # every window over more than the 10-row decile tail is bucketed:
    # partition-less specs list no partition columns before the sort
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected the rank + cumulative-share windows"
    wide = [s for s in specs if "_pid" not in s and "decile" not in s]
    assert not wide, f"unbucketed window specs: {wide}\n{plan}"


def test_spearman_no_priority_partitioned_fact_rank(spark):
    """q_spearman (round-10 VERDICT item 2): ranks must come from
    grouped_cum_counts' (pri, _pid)-bucketed local windows over
    DISTINCT values — a W.partitionBy("pri") rank window over the
    per-order fact stream sorts |orders|/5 rows in one task. Assert
    every window spec in the plan carries the _pid bucket column and
    the y rank map joins back by broadcast."""
    import re

    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_spearman").fn(spark, SF)
    df.collect()
    # full plan text: nested cached-relation AQE blocks break the
    # usual initial-plan slice (see test_lorenz_points_no_global_ntile)
    plan = physical_plan(df)
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected bucketed rank windows in the plan"
    # allowed: the _pid-bucketed x windows, and the y window over
    # DISTINCT (pri, n_items) jump points — basket width is bounded
    # by data nature (~dozens of distinct values per group)
    unbucketed = [s for s in specs
                  if "_pid" not in s and "n_items" not in s]
    assert not unbucketed, f"pri-only window specs: {unbucketed}\n{plan}"
    assert "BroadcastHashJoin" in plan, plan
    # the only SinglePartition collapses allowed are 1-row scalar
    # aggregates (the value-range bounds); never a Window above one
    # (the verify-skill plan-regex recipe)
    for m in re.finditer(r"Exchange SinglePartition", plan):
        above = plan[max(0, m.start() - 400):m.start()]
        tail = "\n".join(above.splitlines()[-3:])
        assert "Window" not in tail, plan


def test_cache_slot_degrades_without_jdf_bridge(spark):
    """CacheSlot (round-10 VERDICT item 7): when the Spark-internal
    _jdf plan-comparison bridge is unavailable (Spark Connect), the
    slot must degrade to unconditional eviction — correct results,
    no exception — not fail the suite."""
    from telescope_data_pipeline_spark.operators.cache_slot import CacheSlot

    class _NoBridge:
        @property
        def _jdf(self):
            raise AttributeError("no py4j bridge on this runtime")

    saved = CacheSlot._compare_available
    try:
        # simulate the first-use probe hitting a Connect-like runtime
        CacheSlot._compare_available = None
        assert CacheSlot._probe(_NoBridge()) is False
        assert CacheSlot._compare_available is False

        # slots still function: own() caches, evicts, returns results
        slot = CacheSlot()
        a = slot.own(spark.range(100).selectExpr("id", "id * 2 AS v"))
        assert a.count() == 100
        b = slot.own(spark.range(50).selectExpr("id", "id * 3 AS v"))
        assert b.count() == 50
        assert b.storageLevel.useMemory  # new owner really cached
        # plan-identical re-ownership: evicts unconditionally in
        # degraded mode, but stays correct
        c = slot.own(spark.range(50).selectExpr("id", "id * 3 AS v"))
        assert c.count() == 50
        for df in (b, c):
            df.unpersist()
    finally:
        CacheSlot._compare_available = saved


def test_abc_analysis_distributed_rank_no_global_sort(spark):
    """q_abc_analysis: the revenue rank and running revenue must come
    from the two-pass bucketed operators — a global ORDER BY window
    would plan a single-task sort of the parts table. All window specs
    must be _pid-bucketed; the only SinglePartition collapses allowed
    are 1-row scalar aggregates (never under a Window)."""
    import re

    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_abc_analysis").fn(spark, SF)
    df.collect()
    plan = physical_plan(df)
    assert "ntile" not in plan
    # every window spec must carry the _pid bucket column: the local
    # cumulative windows partition by it, and the ≤ num_buckets bases
    # window orders by it (that one's SinglePartition exchange is the
    # bounded-by-construction collapse the two-pass shape allows — a
    # banned global cumsum would instead show a (neg, pk)-ordered spec
    # with no _pid anywhere)
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected bucketed prefix-sum windows"
    wide = [s for s in specs if "_pid" not in s]
    assert not wide, f"unbucketed window specs: {wide}\n{plan}"


def test_goodman_gamma_bounded_cross_only(spark):
    """q_goodman_gamma: the pair enumeration must be the broadcast
    cross of the bounded contingency table (<= 5x8 cells), never a
    fact-table cartesian — the plan's only nested-loop join inputs are
    the tiny aggregates."""
    df = get("q_goodman_gamma").fn(spark, SF)
    df.collect()
    assert_plan(df, absent=("CartesianProduct",))
    # the per-order base is an equi-join (broadcast or sort-merge),
    # and every nested-loop node must be broadcast (bounded side)
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "CartesianProduct" not in plan


def test_threshold_sweep_takeordered_argmin(spark):
    """q_threshold_sweep: the argmin row must come from TakeOrdered
    over the 21-row sweep, and the bucket x threshold cross must be a
    broadcast of the 21-row dim."""
    assert_plan(get("q_threshold_sweep").fn(spark, SF),
                contains=("TakeOrderedAndProject",),
                absent=("CartesianProduct", "SortMergeJoin"))


def test_r11_single_pass_scan_counts(spark):
    """Round-11 plan audit pins: the one-pass rewrites must keep their
    scan counts — q_gwet_ac1 and q_qq_points read the fact table once
    (arm/category masks ride inside the aggregates); q_logrank reads
    events twice (per-user + horizon, both necessary) with ONE shared
    window sort; q_friedman/q_cochran_q read once into the cached cell
    table (InMemoryTableScan legs thereafter)."""
    import re

    from telescope_data_pipeline_spark.plans.audit import physical_plan

    def audit(name):
        df = get(name).fn(spark, SF)
        df.collect()
        plan = physical_plan(df).split("== Initial Plan ==")[0]
        return (len(re.findall(r"FileScan parquet", plan)),
                plan.count("Window"), plan)

    for name, max_scans in (("q_gwet_ac1", 1), ("q_qq_points", 1),
                            ("q_friedman", 1), ("q_cochran_q", 1)):
        scans, _, plan = audit(name)
        assert scans <= max_scans, f"{name}: {scans} scans\n{plan}"
    scans, windows, plan = audit("q_logrank")
    assert scans <= 2, f"q_logrank: {scans} scans\n{plan}"
    assert windows == 1, f"q_logrank: {windows} Window nodes\n{plan}"


# --- round-12: profiling.py physical shapes --------------------------------


def test_gini_by_group_bucketed_rank_windows(spark):
    """q_gini_by_group: languages are low-cardinality, so a
    W.partitionBy(lang) rank window would push each language's whole
    stream through one task (the q_spearman lesson). Assert every
    window spec carries grouped_cum_counts' _pid bucket column, and no
    Window sits above a SinglePartition exchange."""
    import re

    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_gini_by_group").fn(spark, SF)
    df.collect()
    plan = physical_plan(df)
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected bucketed jump-point windows in the plan"
    unbucketed = [s for s in specs if "_pid" not in s]
    assert not unbucketed, f"lang-only window specs: {unbucketed}\n{plan}"
    for m in re.finditer(r"Exchange SinglePartition", plan):
        above = plan[max(0, m.start() - 400):m.start()]
        tail = "\n".join(above.splitlines()[-3:])
        assert "Window" not in tail, plan


def test_vocab_growth_single_partition_only_on_spine(spark):
    """q_vocab_growth: the only single-partition window is the 10-row
    checkpoint spine (the q_lorenz_points-approved shape); the token
    stream itself contributes only map-side-combined aggregates and
    equi-joins."""
    import re

    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_vocab_growth").fn(spark, SF)
    df.collect()
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    # the fact-stream aggregates are real hash aggregates
    assert "HashAggregate" in plan
    # any window spec must order by the 10-row spine's bucket column
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("bucket" in s for s in specs), specs


def test_emd_drift_bounded_spine_windows(spark):
    """q_emd_drift: the fact stream contributes only the 40-row binned
    counts (map-side-combined hash aggregate); every window spec runs
    over the 20-row bin spine (ordered by `bin`) — never the value
    stream."""
    import re

    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_emd_drift").fn(spark, SF)
    df.collect()
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("bin" in s for s in specs), specs


def test_chao1_joinless_two_groupbys(spark):
    """q_chao1: the frequency spectrum is two map-side-combined
    groupBys over the token explode — no window, no join of any kind
    touches the fact stream."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_chao1").fn(spark, SF)
    df.collect()
    plan = physical_plan(df)
    for banned in ("CartesianProduct", "BroadcastNestedLoopJoin",
                   "SortMergeJoin", "Window"):
        assert banned not in plan, f"{banned} in plan:\n{plan}"
    assert "HashAggregate" in plan


def test_theil_index_joinless_distinct_value_rollup(spark):
    """q_theil_index: one distinct-(lang, n_chars) groupBy then one
    per-language rollup — joinless, windowless, and the expensive ln()
    evaluates once per DISTINCT value, not per row."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_theil_index").fn(spark, SF)
    df.collect()
    plan = physical_plan(df)
    for banned in ("CartesianProduct", "BroadcastNestedLoopJoin",
                   "SortMergeJoin", "Window"):
        assert banned not in plan, f"{banned} in plan:\n{plan}"
    assert "HashAggregate" in plan


def test_ldiversity_qi_partitioned_windows(spark):
    """q_ldiversity: the per-class statistics windows partition on the
    quasi-identifier tuple (bounded rows per class) — never a global
    window — and the customer-order join is an equi-join."""
    import re

    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_ldiversity").fn(spark, SF)
    df.collect()
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("c_nationkey" in s for s in specs), specs


def test_mood_median_distributed_jump_median(spark):
    """q_mood_median: the grand median comes from the lazy bucketed
    jump-point table — every window over the VALUE stream carries the
    _pid bucket column; the only unpartitioned windows order by the
    <= 5-row group table's `grp`."""
    import re

    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_mood_median").fn(spark, SF)
    df.collect()
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected jump-point + group-table windows"
    bad = [s for s in specs if "_pid" not in s and "grp" not in s]
    assert not bad, f"unbucketed value-stream window specs: {bad}\n{plan}"


def test_ccf_lags_broadcast_spine_equi_join(spark):
    """q_ccf_lags: both fact streams collapse to bounded daily tables
    BEFORE any join; the 15-row lag spine broadcasts (the only
    nested-loop join), and the lag match itself is an equi-join on the
    day index."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_ccf_lags").fn(spark, SF)
    df.collect()
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2  # 15-row spine only
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan), plan
    assert "Window" not in plan, plan


def test_hilbert_map_only(spark):
    """The Hilbert layout key is 8 chained per-row projections of
    integer CASE arithmetic: zero Exchange — same contract as
    test_zorder_map_only (the write path gains nothing beyond the
    range partition the writer already does)."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    plan = physical_plan(get("q_hilbert_key").fn(spark, SF))
    assert "Exchange" not in plan, plan


def test_matryoshka_recall_broadcast_eval_set(spark):
    """q_matryoshka_recall: the 16-query x 3-dim eval set broadcasts
    onto the corpus scan (the q_sim_topk bounded-anchor pattern); the
    ranking window partitions on (dim, query_id), never globally."""
    import re

    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_matryoshka_recall").fn(spark, SF)
    df.collect()
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("query_id" in s for s in specs), specs


def test_isotonic_calibration_bounded_minimax(spark):
    """q_isotonic_calibration: the fact stream collapses to 20 integer
    pairs (hash aggregate); the minimax runs over broadcast 20-row
    spines (the only nested-loop joins), and every window spec orders
    by the bounded bucket spine."""
    import re

    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_isotonic_calibration").fn(spark, SF)
    df.collect()
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("b#" in s or "bucket" in s for s in specs), specs


def test_trending_terms_takeordered_topk(spark):
    """q_trending_terms: the z-score table reduces via
    TakeOrderedAndProject (no global sort materializes); the totals
    ride a 1-row broadcast; no window touches the token stream."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_trending_terms").fn(spark, SF)
    df.collect()
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan, plan


def test_simpson_diversity_joinless_two_groupbys(spark):
    """q_simpson_diversity: two map-side-combined groupBys, joinless,
    windowless — all-integer until the final divisions."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_simpson_diversity").fn(spark, SF)
    df.collect()
    plan = physical_plan(df)
    for banned in ("CartesianProduct", "BroadcastNestedLoopJoin",
                   "SortMergeJoin", "Window"):
        assert banned not in plan, f"{banned} in plan:\n{plan}"
    assert "HashAggregate" in plan


def test_cochran_armitage_joinless_two_folds(spark):
    """q_cochran_armitage: one 5-row groupBy + one 1-row fold —
    joinless, windowless (the q_anova_oneway shape)."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_cochran_armitage").fn(spark, SF)
    df.collect()
    plan = physical_plan(df)
    for banned in ("CartesianProduct", "BroadcastNestedLoopJoin",
                   "SortMergeJoin", "Window"):
        assert banned not in plan, f"{banned} in plan:\n{plan}"
    assert "HashAggregate" in plan


def test_mantel_haenszel_stratum_table_window(spark):
    """q_mantel_haenszel: equi-join + groupBy to |strata| rows; the
    only windows pool over the bounded stratum table."""
    import re

    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_mantel_haenszel").fn(spark, SF)
    df.collect()
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("stratum" in s for s in specs), specs


def test_html_extract_map_only(spark):
    """q_html_extract: a per-row regex chain — no window, no join; the
    only Exchange allowed is the round-robin spread of the single-file
    toy scan."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_html_extract").fn(spark, SF)
    df.collect()
    plan = physical_plan(df)
    for banned in ("Window", "CartesianProduct", "SortMergeJoin",
                   "BroadcastHashJoin", "HashAggregate"):
        assert banned not in plan, f"{banned} in plan:\n{plan}"


def test_r12_single_pass_scan_counts(spark):
    """Round-12 plan audit pins (the r11 precedent): the single-pass
    queries keep ONE fact scan; the 1-row-broadcast-scalar queries read
    at most twice (edges/median/bounds subtree + consumer — the
    accepted q_psi_drift shape); q_mood_median's jump-table subtrees
    print repeatedly but execute ONCE (ReusedExchange dedupes the
    distinct-value shuffle — assert the reuse is present)."""
    import re

    from telescope_data_pipeline_spark.plans.audit import physical_plan

    def audit(name):
        df = get(name).fn(spark, SF)
        df.collect()
        plan = physical_plan(df).split("== Initial Plan ==")[0]
        return len(re.findall(r"FileScan parquet", plan)), plan

    single = ("q_chao1", "q_theil_index", "q_trending_terms",
              "q_simpson_diversity", "q_cochran_armitage",
              "q_html_extract", "q_hilbert_key", "q_isotonic_calibration")
    for name in single:
        scans, plan = audit(name)
        assert scans <= 1, f"{name}: {scans} scans\n{plan}"
    for name in ("q_emd_drift", "q_ldiversity", "q_ccf_lags",
                 "q_mantel_haenszel", "q_matryoshka_recall"):
        scans, plan = audit(name)
        assert scans <= 2, f"{name}: {scans} scans\n{plan}"
    scans, plan = audit("q_mood_median")
    assert scans <= 4, f"q_mood_median: {scans} scans\n{plan}"
    assert "ReusedExchange" in plan, \
        f"q_mood_median lost its exchange reuse\n{plan}"


def test_ljung_box_keyed_windows(spark):
    """q_ljung_box: identical plan contract to q_acf/q_pacf — the lag
    window partitions BY SERIES (event_type), never globally; no
    cartesian anywhere."""
    import re

    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_ljung_box").fn(spark, SF)
    df.collect()
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("event_type" in s for s in specs), specs


def test_granger_bounded_daily_window(spark):
    """q_granger: both fact streams collapse to calendar-bounded daily
    tables (hash aggregates) BEFORE the day equi-join; the single
    unpartitioned lag window runs over that bounded joined table (the
    approved q_lorenz_points shape) and orders by `day`."""
    import re

    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_granger").fn(spark, SF)
    df.collect()
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan), plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("day" in s for s in specs), specs


def test_tcloseness_class_partitioned_windows(spark):
    """q_tcloseness: the CDF windows partition on the quasi-identifier
    class (5-row frames); the only nested-loop joins broadcast the
    bounded spine / 1-row global total."""
    import re

    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_tcloseness").fn(spark, SF)
    df.collect()
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("c_nationkey" in s for s in specs), specs


def test_kde_curve_map_only_21_cells(spark):
    """q_kde_curve: the fact scan expands 21x map-side and combines
    into 21 cells — no window, no sort-merge join; the grid+edges ride
    broadcasts."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_kde_curve").fn(spark, SF)
    df.collect()
    plan = physical_plan(df)
    for banned in ("CartesianProduct", "SortMergeJoin", "Window"):
        assert banned not in plan, f"{banned} in plan:\n{plan}"
    assert "HashAggregate" in plan


def test_knn_outlier_broadcast_bounded_cross(spark):
    """q_knn_outlier: the exactness-baseline self-cross broadcasts the
    bounded label slice (documented bounded-anchor pattern); the NN
    ranking window partitions per query point, never globally."""
    import re

    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_knn_outlier").fn(spark, SF)
    df.collect()
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("id_a" in s for s in specs), specs
    assert "TakeOrderedAndProject" in plan  # top-20 never a global sort


def test_atkinson_joinless_distinct_value_rollup(spark):
    """q_atkinson: same contract as q_theil_index — one distinct-value
    groupBy then one per-language rollup; joinless, windowless, ln()/
    1/x evaluate once per DISTINCT value."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_atkinson").fn(spark, SF)
    df.collect()
    plan = physical_plan(df)
    for banned in ("CartesianProduct", "BroadcastNestedLoopJoin",
                   "SortMergeJoin", "Window"):
        assert banned not in plan, f"{banned} in plan:\n{plan}"
    assert "HashAggregate" in plan


def test_assurance_bounded_spine_windows(spark):
    """Round-12 assurance batch: every window in the drift/calibration/
    eval queries runs over a bounded spine (20 bins / 10 bins / 20
    qids / k items), never the fact stream; no cartesian products
    (the 1-row broadcast scalar crosses plan as BroadcastNestedLoop
    of a 1-row side, the approved shape)."""
    import re

    from telescope_data_pipeline_spark.plans.audit import physical_plan

    for name, spine in (("q_hellinger_drift", "bin"),
                        ("q_hosmer_lemeshow", "bin"),
                        ("q_map_eval", "qid"),
                        ("q_rbo_overlap", "qid"),
                        ("q_cronbach_alpha", "item")):
        df = get(name).fn(spark, SF)
        df.collect()
        plan = physical_plan(df)
        assert "CartesianProduct" not in plan, name
        specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
        assert specs and all(spine in s for s in specs), (name, specs)


def test_hurst_windows_keyed_by_stream(spark):
    """q_hurst_exponent: every window partitions at least by the
    series key (event_type) — the block windows additionally by
    (m, blk) with partitions bounded by m <= 64; no global sort, no
    cartesian."""
    import re

    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_hurst_exponent").fn(spark, SF)
    df.collect()
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("event_type" in s for s in specs), specs


def test_jaccard_linkpred_single_scan_no_selfjoin(spark):
    """q_jaccard_linkpred: pairs AND customer degrees both derive from
    the one capped-arrays relation, shared through AQE exchange reuse
    (r13: the CacheSlot pin + eager count() was measured ~25% slower —
    the q_hits_step finding) — each base table is file-scanned exactly
    once, pair expansion is a Generate over the bounded array (no
    self-join), the degree cap survives to the optimized plan, and the
    top-100 is a TakeOrdered."""
    import re

    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_jaccard_linkpred").fn(spark, SF)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "<= 40" in opt, f"degree cap missing:\n{opt}"
    df.collect()
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    for banned in ("CartesianProduct", "BroadcastNestedLoopJoin",
                   "InMemoryTableScan"):  # the pin must stay gone
        assert banned not in plan, f"{banned} in plan:\n{plan}"
    assert "Generate" in plan and "TakeOrderedAndProject" in plan
    assert "ReusedExchange" in plan, \
        f"arrays build not shared via exchange reuse:\n{plan}"
    for tbl in ("orders", "lineitem"):
        n = len(re.findall(rf"FileScan parquet [^\n]*{tbl}", plan))
        assert n <= 1, f"{tbl} scanned {n}x (want <=1):\n{plan}"


def test_hits_and_powerlaw_keyed_joins_only(spark):
    """q_hits_step / q_powerlaw_alpha: every join is a keyed equi-join
    or a 1-row scalar broadcast; top-k plans as TakeOrdered where a
    ranking exists; no window touches the edge stream. q_hits_step's
    three consumers (a1, h1, a2) share the distinct-edge build through
    AQE exchange reuse — NOT a CacheSlot pin, which was measured 1.6x
    slower (see the query docstring): the final plan must carry
    ReusedExchange references to the shared edge shuffle."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_hits_step").fn(spark, SF)
    df.collect()
    plan = physical_plan(df)
    for banned in ("CartesianProduct", "BroadcastNestedLoopJoin",
                   "Window"):
        assert banned not in plan, f"{banned} in q_hits_step:\n{plan}"
    assert "TakeOrderedAndProject" in plan
    final = plan.split("== Initial Plan ==")[0]
    assert "ReusedExchange" in final or "InMemoryTableScan" in final, \
        f"edge build not shared across consumers:\n{final}"

    df2 = get("q_powerlaw_alpha").fn(spark, SF)
    df2.collect()
    plan2 = physical_plan(df2)
    for banned in ("CartesianProduct", "BroadcastNestedLoopJoin",
                   "Window", "SortMergeJoin"):
        assert banned not in plan2, f"{banned} in q_powerlaw_alpha:\n{plan2}"


def test_energy_distance_prefix_pass_no_pair_blowup(spark):
    """q_energy_distance: the pairwise double sums must ride the
    distributed prefix pass — every windowspec carries the _pid bucket
    column (no global single-task sort over the distinct-value spine)
    except none; no join of any kind touches the value stream beyond
    the 1-row broadcasts."""
    import re

    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_energy_distance").fn(spark, SF)
    df.collect()
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    # the only windows are the per-bucket local cumsum and the tiny
    # per-bucket base fold — both keyed by _pid
    assert specs and all("_pid" in s for s in specs), specs


def test_embedding_drift_single_groupby_dim_spine(spark):
    """q_embedding_drift: one map-side-combined groupBy on the bounded
    dim key carries all four conditional sums; every window runs over
    the 64-row dim spine; no join at all."""
    import re

    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_embedding_drift").fn(spark, SF)
    df.collect()
    plan = physical_plan(df)
    for banned in ("CartesianProduct", "SortMergeJoin",
                   "BroadcastHashJoin", "BroadcastNestedLoopJoin"):
        assert banned not in plan, f"{banned} in plan:\n{plan}"
    assert "Generate" in plan  # the posexplode flatMap
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("dim" in s for s in specs), specs


def test_classic_relational_batch_plans(spark):
    """Round-12 classic relational shapes: Q2's decorrelated MIN has
    no correlated subquery artifacts (joins + aggregates only, top-100
    as TakeOrdered); Q4 plans a LEFT SEMI with the non-equi residual;
    Q22 plans a LEFT ANTI; Q18/Q11 rank with TakeOrdered; nothing
    plans a CartesianProduct."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    shapes = {
        "q_min_cost_supplier": ("TakeOrderedAndProject", "BroadcastHashJoin"),
        "q_priority_pipeline": ("LeftSemi",),
        "q_order_count_dist": ("HashAggregate",),
        "q_important_stock": ("TakeOrderedAndProject",),
        "q_large_volume_cust": ("TakeOrderedAndProject",),
        "q_sales_opportunity": ("LeftAnti",),
    }
    for name, needles in shapes.items():
        df = get(name).fn(spark, SF)
        df.collect()
        plan = physical_plan(df)
        assert "CartesianProduct" not in plan, name
        for needle in needles:
            assert needle in plan, f"{name}: {needle} missing\n{plan}"


def test_session4_micro_batch_plans(spark):
    """q_ab_srm / q_theils_u2 / q_sax_symbols / q_mix_temperature: no
    cartesian; folds and windows stay on bounded keyed relations (the
    daily table / the language dim); SRM is two map-side-combined
    aggregates."""
    import re

    from telescope_data_pipeline_spark.plans.audit import physical_plan

    for name, window_key in (("q_ab_srm", None),
                             ("q_theils_u2", None),
                             ("q_sax_symbols", "event_type"),
                             ("q_mix_temperature", None)):
        df = get(name).fn(spark, SF)
        df.collect()
        plan = physical_plan(df)
        assert "CartesianProduct" not in plan, name
        assert "HashAggregate" in plan or "SortAggregate" in plan, name
        specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
        if window_key is None:
            # aggregate()-fold / pure-aggregate queries: the only
            # acceptable window is the bounded daily row_number inside
            # q_theils_u2's series collection — keyed if present
            assert all("event_type" in s for s in specs), (name, specs)
        else:
            assert specs and all(window_key in s for s in specs), name


def test_q15_q16_shapes(spark):
    """q_top_supplier: MAX-equality via a 1-row broadcast (ties
    surface); q_supplier_variety: NOT IN over a non-null key plans a
    plain LEFT ANTI (no null-aware cartesian), distinct-count expands
    to the two-level aggregate."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_top_supplier").fn(spark, SF)
    df.collect()
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan

    df2 = get("q_supplier_variety").fn(spark, SF)
    df2.collect()
    plan2 = physical_plan(df2)
    assert "LeftAnti" in plan2
    assert "CartesianProduct" not in plan2
    assert "BroadcastNestedLoopJoin" not in plan2


def test_volume_shipping_broadcast_chains(spark):
    """Q7 shape: both filtered nation->dim chains broadcast and the
    fact joins stay keyed — no cartesian, no nested loop."""
    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_volume_shipping").fn(spark, SF)
    df.collect()
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan
    for banned in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert banned not in plan, banned


def test_session4_final_batch_plans(spark):
    """q_gumbel_fit / q_shapley_attribution / q_ratio_delta /
    q_holt_winters: folds and aggregates over bounded keyed relations;
    the only windows are keyed by user/stream; no cartesian beyond the
    1-row / 16-row literal-spine broadcasts."""
    import re

    from telescope_data_pipeline_spark.plans.audit import physical_plan

    for name in ("q_gumbel_fit", "q_shapley_attribution",
                 "q_ratio_delta", "q_holt_winters"):
        df = get(name).fn(spark, SF)
        df.collect()
        plan = physical_plan(df)
        assert "CartesianProduct" not in plan, name
        specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
        assert all(("user_id" in s) or ("event_type" in s)
                   for s in specs), (name, specs)


def test_rmst_bounded_spine_plan(spark):
    """q_rmst (round-12 VERDICT watch item 4 — the one session-4
    survival query without a plan pin, for uniformity with
    q_rmst_arms): per-user keyed aggregate, then all windows run over
    the bounded distinct-duration spine (global-order frames on
    d_days, the q_logrank-approved shape); the only crossJoins are the
    1-row horizon/total broadcasts, never a cartesian over users."""
    import re

    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_rmst").fn(spark, SF)
    df.collect()
    plan = physical_plan(df)
    # the 1-row horizon/total broadcasts legitimately plan as
    # BroadcastNestedLoopJoin; only an unbroadcast cartesian is banned
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("d_days" in s for s in specs), specs


def test_round13_batch_plans(spark):
    """Round-13 additions: every heavy input collapses to a bounded
    relation before any non-equi logic runs.

    - q_kendall_tau: the cell self-join carries the pri equi-key, so
      it plans as a BroadcastHashJoin with the (bx > ax, by != ay)
      range condition as a residual — never a nested-loop or
      cartesian; no window at all.
    - q_benjamini_hochberg: windows rank only the bounded battery; the
      crossJoins are 1-row broadcasts (BroadcastNestedLoopJoin), never
      a cartesian; no sort-merge join anywhere.
    - q_krippendorff_alpha: keyed equi-joins and groupBys only.
    - q_conformal_interval: every window is the bucketed two-pass rank
      machinery keyed at least by event_type.
    - q_weibull_fit: all windows run on the bounded d_days spine (the
      q_rmst shape)."""
    import re

    from telescope_data_pipeline_spark.plans.audit import physical_plan

    df = get("q_kendall_tau").fn(spark, SF)
    df.collect()
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    final = plan.split("== Initial Plan ==")[0]
    assert re.search(r"BroadcastHashJoin \[p#\d+\], \[p2#\d+\]", final), \
        f"cell theta join lost its equi-key:\n{final}"

    df = get("q_benjamini_hochberg").fn(spark, SF)
    df.collect()
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("p_tilde" in s for s in specs), specs

    df = get("q_krippendorff_alpha").fn(spark, SF)
    df.collect()
    plan = physical_plan(df)
    for banned in ("CartesianProduct", "BroadcastNestedLoopJoin",
                   "Window"):
        assert banned not in plan, f"{banned} in q_krippendorff_alpha"

    df = get("q_conformal_interval").fn(spark, SF)
    df.collect()
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("event_type" in s for s in specs), specs

    df = get("q_weibull_fit").fn(spark, SF)
    df.collect()
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("d_days" in s for s in specs), specs
