"""Invariant tests for the round-3 training-data operators: structural
properties the oracle hash cannot express (coverage, reconstruction,
quota exactness), checked on the real documents table at sf0.001."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from telescope_data_pipeline_spark.queries import all_queries

SF = "/root/testdata/sf0.001"
QS = all_queries()


def test_split_assign_partitions_every_doc_once(spark):
    out = QS["q_split_assign"].fn(spark, SF)
    total = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert out.count() == total
    assert out.select("doc_id").distinct().count() == total
    splits = {r["split"] for r in out.select("split").distinct().collect()}
    assert splits <= {"train", "val", "test"}
    # determinism: same assignment on recompute
    a = {(r["doc_id"], r["split"]) for r in out.collect()}
    b = {(r["doc_id"], r["split"]) for r in QS["q_split_assign"].fn(spark, SF).collect()}
    assert a == b


def test_pack_sequences_placements_are_consistent(spark):
    out = QS["q_pack_sequences"].fn(spark, SF).toPandas().sort_values("doc_id")
    # offsets live inside the window budget
    assert (out["seq_off"] >= 0).all() and (out["seq_off"] < 512).all()
    # sequence ids are non-decreasing in concat order and dense enough:
    # a doc starts in the window right where the previous tokens end
    cum = 0
    for _, row in out.iterrows():
        assert row["seq_id"] == cum // 512
        assert row["seq_off"] == cum % 512
        cum += row["n_tok"]


def test_doc_chunks_reconstruct_documents(spark):
    """Stride-48 chunks, each 64 tokens: dropping the 16-token overlap
    from every chunk after the first must reconstruct the document."""
    docs = (spark.read.parquet(f"{SF}/documents.parquet")
            .select("doc_id", "text").toPandas().set_index("doc_id"))
    chunks = (QS["q_doc_chunks"].fn(spark, SF).toPandas()
              .sort_values(["doc_id", "chunk_start"]))
    for doc_id, grp in chunks.groupby("doc_id"):
        toks: list[str] = []
        for _, row in grp.iterrows():
            ctoks = row["chunk_text"].split(" ")
            assert len(ctoks) == row["chunk_len"] <= 64
            # tokens [chunk_start, chunk_start+chunk_len) — append only
            # the suffix not already covered by the previous chunk
            assert row["chunk_start"] <= len(toks)
            toks.extend(ctoks[len(toks) - row["chunk_start"]:])
        want = [t for t in __import__("re").split(r"\s+", docs.loc[doc_id, "text"])
                if t != ""]
        assert toks == want, f"doc {doc_id} failed reconstruction"


def test_mix_corpus_quota_exact(spark):
    out = QS["q_mix_corpus"].fn(spark, SF).toPandas()
    import math

    totals = (spark.read.parquet(f"{SF}/documents.parquet")
              .groupBy("lang").count().toPandas().set_index("lang")["count"])
    got = out.groupby("lang").size()
    for lang, n in totals.items():
        frac = 0.5 if lang == "en" else 0.25
        assert got.get(lang, 0) == math.ceil(n * frac), lang
    # reproducible draw
    again = QS["q_mix_corpus"].fn(spark, SF).toPandas()
    assert set(map(tuple, out.values)) == set(map(tuple, again.values))


def test_unigram_logprob_bounds_and_templates(spark):
    out = QS["q_unigram_logprob"].fn(spark, SF).toPandas()
    # log-probabilities are strictly negative unless the corpus is one
    # token repeated (it is not), and never positive by construction
    assert (out["avg_logprob"] <= 0).all()
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert len(out) == n_docs
    # a document made of the corpus's most common tokens must score
    # higher than one made of its rarest: verify via extremes
    assert out["avg_logprob"].max() > out["avg_logprob"].min()


def test_lazy_prefix_sum_matches_global_window(spark):
    """Two-phase scan == single-partition global window, and the plan
    never concentrates rows: every Window node retains a partition
    spec."""
    from pyspark.sql import Window as W

    from telescope_data_pipeline_spark.operators.prefix_sum import (
        lazy_prefix_sum,
    )

    t = (spark.read.parquet(f"{SF}/documents.parquet")
         .select("doc_id", F.length("text").alias("v")))
    got = lazy_prefix_sum(t, "doc_id", ["doc_id"], "v",
                          num_buckets=7).toPandas()
    wref = (W.orderBy("doc_id")
            .rowsBetween(W.unboundedPreceding, W.currentRow))
    want = t.withColumn("cum", F.sum("v").over(wref)).toPandas()
    g = got.sort_values("doc_id").reset_index(drop=True)
    w = want.sort_values("doc_id").reset_index(drop=True)
    assert (g["cum"] == w["cum"]).all()

    plan = lazy_prefix_sum(t, "doc_id", ["doc_id"], "v", num_buckets=7) \
        ._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            # partition-local window: spec carries the _pid partition key
            assert "_pid" in line, f"unpartitioned window in plan: {line}"


def _greedy_ref(lengths, budget):
    win, off, wins, offs = 0, 0, [], []
    for ln in lengths:
        if off + ln > budget:
            win, off = win + 1, 0
        wins.append(win)
        offs.append(off)
        off += ln
    return wins, offs


@pytest.mark.parametrize("n_parts", [1, 3, 7, 16])
def test_pack_greedy_shard_semantics(spark, n_parts):
    """Greedy no-straddle packing within range shards: one shard ==
    the sequential greedy fold exactly; any shard count preserves the
    greedy invariants with globally contiguous window indices."""
    from telescope_data_pipeline_spark.operators.packing import pack_greedy

    budget = 256
    t = (spark.read.parquet(f"{SF}/documents.parquet")
         .select("doc_id",
                 F.size(F.filter(F.split("text", r"\s+"),
                                 lambda x: x != "")).alias("n_tok")))
    got = (pack_greedy(t, "doc_id", "n_tok", budget=budget,
                       num_partitions=n_parts)
           .toPandas().sort_values("doc_id").reset_index(drop=True))
    ref = t.toPandas().sort_values("doc_id").reset_index(drop=True)
    assert (got["doc_id"] == ref["doc_id"]).all()

    if n_parts == 1:
        wins, offs = _greedy_ref(ref["n_tok"], budget)
        assert list(got["win"]) == wins
        assert list(got["off"]) == offs

    # invariants for any shard count:
    # windows fill within budget and nothing straddles
    fill = got.groupby("win").apply(
        lambda g: (g["off"] + g["n_tok"]).max(), include_groups=False)
    assert (fill <= budget).all()
    # window ids are contiguous from 0
    wins_used = sorted(got["win"].unique())
    assert wins_used == list(range(len(wins_used)))
    # within each window, docs tile without gaps (greedy = dense fill)
    for _, g in got.groupby("win"):
        g = g.sort_values("off")
        expect = 0
        for _, row in g.iterrows():
            assert row["off"] == expect
            expect += row["n_tok"]
    # corpus order is preserved across the global window sequence
    order = got.sort_values(["win", "off"])["doc_id"]
    assert list(order) == sorted(order)
    # packing efficiency: every window closed by the greedy rule holds
    # more than budget - max_item tokens (only the last window of each
    # shard may be emptier)
    total = ref["n_tok"].sum()
    max_item = ref["n_tok"].max()
    closed = len(wins_used) - n_parts
    assert closed * (budget - max_item) < total


def test_pack_greedy_rejects_oversized(spark):
    from telescope_data_pipeline_spark.operators.packing import pack_greedy

    t = spark.createDataFrame([(1, 10), (2, 700)], "doc_id long, n_tok long")
    with pytest.raises(Exception, match="exceeds the window budget"):
        pack_greedy(t, "doc_id", "n_tok", budget=512,
                    num_partitions=2).collect()


def test_lazy_prefix_sum_double_column(spark):
    """The base type follows the value column: a DoubleType input must
    work (a hardcoded long offset schema rejected float subtotals —
    round-3 ADVICE) and match the global-window reference."""
    from pyspark.sql import Window as W

    from telescope_data_pipeline_spark.operators.prefix_sum import (
        lazy_prefix_sum,
    )

    t = (spark.read.parquet(f"{SF}/documents.parquet")
         .select("doc_id", (F.length("text") / 7.0).alias("v")))
    got = (lazy_prefix_sum(t, "doc_id", ["doc_id"], "v", num_buckets=5)
           .toPandas().sort_values("doc_id").reset_index(drop=True))
    wref = W.orderBy("doc_id").rowsBetween(W.unboundedPreceding, W.currentRow)
    want = (t.withColumn("cum", F.sum("v").over(wref))
            .toPandas().sort_values("doc_id").reset_index(drop=True))
    assert (abs(got["cum"] - want["cum"]) < 1e-6).all()


def test_prefix_sum_and_packing_caches_are_bounded(spark):
    """Repeated invocations must not accumulate cached tables: the
    packer owns a single cache slot (round-3 ADVICE / VERDICT item 4)
    and the lazy prefix sum caches nothing."""
    from telescope_data_pipeline_spark.operators.packing import pack_greedy
    from telescope_data_pipeline_spark.operators.prefix_sum import (
        lazy_prefix_sum,
    )

    t = (spark.read.parquet(f"{SF}/documents.parquet")
         .select("doc_id", F.length("text").alias("v")))

    def n_cached() -> int:
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    lazy_prefix_sum(t, "doc_id", ["doc_id"], "v", num_buckets=3).count()
    pack_greedy(t, "doc_id", "v", budget=4096, num_partitions=3).count()
    after_first = n_cached()
    for _ in range(3):
        lazy_prefix_sum(t, "doc_id", ["doc_id"], "v", num_buckets=3).count()
        pack_greedy(t, "doc_id", "v", budget=4096, num_partitions=3).count()
    assert n_cached() <= after_first


def test_mix_by_hash_tracks_exact_rank_form(spark):
    """Hash-threshold mixing (the 100 TB form) selects per-language
    counts within binomial tolerance of the exact rank form, stays
    deterministic across runs, and its plan has NO Exchange at all —
    the whole point versus the per-language sort of the rank form."""
    import math

    sf = "/root/testdata/sf0.01"
    got = QS["q_mix_corpus_hash"].fn(spark, sf).toPandas()
    exact = QS["q_mix_corpus"].fn(spark, sf).toPandas()
    totals = (spark.read.parquet(f"{sf}/documents.parquet")
              .groupBy("lang").count().toPandas().set_index("lang")["count"])
    got_n = got.groupby("lang").size()
    exact_n = exact.groupby("lang").size()
    for lang, n in totals.items():
        frac = 0.5 if lang == "en" else 0.25
        sigma = math.sqrt(n * frac * (1 - frac))
        assert abs(got_n.get(lang, 0) - exact_n.get(lang, 0)) <= 4 * sigma, \
            f"{lang}: hash={got_n.get(lang, 0)} exact={exact_n.get(lang, 0)}"

    again = QS["q_mix_corpus_hash"].fn(spark, sf).toPandas()
    assert set(map(tuple, got.values)) == set(map(tuple, again.values))

    plan = (QS["q_mix_corpus_hash"].fn(spark, sf)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan, f"mix_by_hash plan shuffles:\n{plan}"


def test_mix_by_hash_is_monotone_under_corpus_growth(spark):
    """Content addressing: selection of a doc depends only on its own
    id, so restricting the corpus never changes who is selected —
    backfills and incremental ingests draw consistently."""
    from telescope_data_pipeline_spark.operators.mixing import mix_by_hash

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "lang")
    full = {r["doc_id"] for r in
            mix_by_hash(d, "doc_id", "lang", {"en": 0.5}, 0.25).collect()}
    half = d.filter(F.col("doc_id") % 2 == 0)
    sub = {r["doc_id"] for r in
           mix_by_hash(half, "doc_id", "lang", {"en": 0.5}, 0.25).collect()}
    assert sub == {i for i in full if i % 2 == 0}


def test_hash_fraction_threshold_edges():
    from telescope_data_pipeline_spark.operators.mixing import (
        hash_fraction_threshold,
    )

    assert hash_fraction_threshold(0.0) == "0" * 32
    assert hash_fraction_threshold(0.5) == "8" + "0" * 31
    assert hash_fraction_threshold(1.0) == "f" * 32
    with pytest.raises(ValueError):
        hash_fraction_threshold(1.5)


def test_dup_spans_flags_real_duplicates(spark):
    """Every span q_dup_spans reports must be a genuine >1-occurrence
    8-gram, and per-doc counts must equal the brute-force count."""
    import collections

    import pandas as pd

    from telescope_data_pipeline_spark.queries import get

    sf = "/root/testdata/sf0.001"
    out = {r.doc_id: r for r in get("q_dup_spans").fn(spark, sf).collect()}
    docs = pd.read_parquet(f"{sf}/documents.parquet")
    grams: dict[int, list] = {}
    freq = collections.Counter()
    for doc_id, text in zip(docs.doc_id, docs.text):
        toks = [t for t in text.split() if t]
        gs = [" ".join(toks[i:i + 8]) for i in range(len(toks) - 7)]
        grams[doc_id] = gs
        freq.update(gs)
    for doc_id, gs in grams.items():
        dup_starts = [i for i, g in enumerate(gs) if freq[g] > 1]
        if dup_starts:
            assert doc_id in out, f"doc {doc_id} missing"
            assert out[doc_id].n_dup_spans == len(dup_starts)
            assert out[doc_id].first_dup_start == dup_starts[0]
        else:
            assert doc_id not in out


def test_bm25_matches_reference_formula(spark):
    """Spot-check the Spark BM25 against a NumPy implementation of the
    Robertson formula at sf0.001."""
    import math

    import pandas as pd

    from telescope_data_pipeline_spark.queries import get

    sf = "/root/testdata/sf0.001"
    out = {r.doc_id: r.bm25 for r in get("q_bm25").fn(spark, sf).collect()}
    docs = pd.read_parquet(f"{sf}/documents.parquet")
    terms = ("spark", "join", "window")
    toks = {d: [t for t in txt.split() if t]
            for d, txt in zip(docs.doc_id, docs.text)}
    n_docs = len(toks)
    avgdl = sum(map(len, toks.values())) / n_docs
    df = {t: sum(1 for ts in toks.values() if t in ts) for t in terms}
    for doc_id, ts in toks.items():
        score = 0.0
        for t in terms:
            tf = ts.count(t)
            if not tf:
                continue
            idf = math.log((n_docs - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
            score += idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * len(ts) / avgdl))
        if score:
            assert abs(out[doc_id] - score) < 1e-4, doc_id
        else:
            assert doc_id not in out


def test_scd2_versioning_invariants(spark):
    """Changed keys carry exactly two versions (closed + current), and
    validity windows chain correctly."""
    from telescope_data_pipeline_spark.queries import get

    sf = "/root/testdata/sf0.001"
    rows = get("q_scd2").fn(spark, sf).collect()
    by_key: dict[int, list] = {}
    for r in rows:
        by_key.setdefault(r.c_custkey, []).append(r)
    for key, vs in by_key.items():
        cur = [v for v in vs if v.is_current]
        assert len(cur) == 1, key
        assert cur[0].valid_to is None
        if key % 7 == 0:
            assert len(vs) == 2
            closed = next(v for v in vs if not v.is_current)
            assert closed.valid_to == cur[0].valid_from == "2024-06-01"
            assert round(cur[0].acctbal - closed.acctbal, 2) == 100.0
        else:
            assert len(vs) == 1


def test_fingerprint_short_doc_boundary(spark, tmp_path):
    """A doc with >= 1 gram but fewer grams than the winnow window must
    yield the boundary fingerprint (min over all grams), not crash:
    Spark's sequence(0, -1) counts DOWN and would feed slice() an
    illegal 0 start (latent until a 5-7-token doc appears)."""
    import pandas as pd

    from telescope_data_pipeline_spark.queries import get

    pd.DataFrame({
        "doc_id": [1, 2], "lang": ["en", "en"],
        "text": ["a b c d e", "a b c d e f g h"],
    }).to_parquet(tmp_path / "documents.parquet")
    for name in ("q_fingerprint", "q_fingerprint_md5"):
        rows = get(name).fn(spark, str(tmp_path)).collect()
        per: dict[int, int] = {}
        for r in rows:
            per[r.doc_id] = per.get(r.doc_id, 0) + 1
        assert per[1] == 1, name   # 1 gram < window: single boundary fp
        assert per[2] >= 1, name   # 4 grams = 1 full window


def test_range_bucket_null_key_raises(spark):
    """A NULL order key has no position in a total order — the bucket
    expression must raise executor-side, not silently drop the row
    (prefix sums) or NaN-crash the packing kernel."""
    import pytest

    from telescope_data_pipeline_spark.operators.prefix_sum import (
        lazy_prefix_sum,
    )

    df = spark.createDataFrame([(1, 5), (None, 7), (3, 2)],
                               "k long, v long")
    with pytest.raises(Exception, match="NULL k has no position"):
        lazy_prefix_sum(df, "k", ["k"], "v").collect()


def test_prefix_sum_timestamp_key(spark):
    """Event-time keys bucket through unix_micros — same exact result
    as the sequential cumulative sum."""
    import datetime as dt

    from telescope_data_pipeline_spark.operators.prefix_sum import (
        lazy_prefix_sum,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [(t0 + dt.timedelta(seconds=i), i + 1) for i in range(50)]
    df = spark.createDataFrame(rows, "ts timestamp, v long")
    got = {r.ts: r.cum for r in
           lazy_prefix_sum(df, "ts", ["ts"], "v", num_buckets=7).collect()}
    acc = 0
    for ts, v in rows:
        acc += v
        assert got[ts] == acc


def test_range_bucket_full_range_keys_no_overflow(spark):
    """Keys spanning nearly the whole int64 range (64-bit hashes as the
    order key) must bucket without ANSI ARITHMETIC_OVERFLOW: the
    (key - lo) * n arithmetic runs in double, monotone and clamped."""
    from telescope_data_pipeline_spark.operators.prefix_sum import (
        lazy_prefix_sum,
    )

    ks = [-(2 ** 62) - 123, -(2 ** 40), -17, 0, 999, 2 ** 41, 2 ** 62 + 456]
    df = spark.createDataFrame([(k, 1) for k in ks], "k long, v long")
    got = sorted((r.k, r.cum) for r in
                 lazy_prefix_sum(df, "k", ["k"], "v",
                                 num_buckets=4).collect())
    assert [c for _, c in got] == list(range(1, len(ks) + 1))


def test_pack_greedy_rejects_string_key(spark):
    """Unsupported order-key types fail fast with guidance, instead of
    the silent pid-drift hazard the removed generic path carried."""
    import pytest

    from telescope_data_pipeline_spark.operators.packing import pack_greedy

    df = spark.createDataFrame([("a", 10)], "k string, v long")
    with pytest.raises(TypeError, match="integral, date, or timestamp"):
        pack_greedy(df, "k", "v")


def test_lazy_row_number_is_a_permutation(spark):
    """Positions are exactly 0..n-1, stable across repeat runs, and
    different seeds give different permutations."""
    from pyspark.sql import functions as F

    from telescope_data_pipeline_spark.operators.rank import (
        lazy_row_number,
    )

    df = spark.range(0, 997).select(F.col("id").alias("doc_id"))

    def perm(seed):
        h = F.md5(F.concat(F.lit(seed), F.col("doc_id").cast("string")))
        out = lazy_row_number(
            df.select("doc_id", h.alias("h")),
            order_cols=["h", "doc_id"],
            bucket_key=F.conv(F.substring("h", 1, 15), 16, 10),
            num_buckets=13)
        return {r.doc_id: r.position for r in out.collect()}

    p1 = perm("s1:")
    assert sorted(p1.values()) == list(range(997))
    assert p1 == perm("s1:")           # reproducible
    assert p1 != perm("s2:")           # seed changes the permutation


def test_lazy_rank_queries_start_no_jobs_while_built(spark):
    """Building the rank queries must not run Spark: the range-bucket
    scaffold is lazy (bounds, bucket totals and bases all live in the
    returned plan), so ``length_bucketed_batches`` with known id bounds
    and ``q_epoch_shuffle`` start zero jobs until an action."""
    import uuid

    from telescope_data_pipeline_spark.queries import get
    from telescope_data_pipeline_spark.queries.llm import (
        length_bucketed_batches,
    )

    sc = spark.sparkContext
    t = (spark.read.parquet(f"{SF}/documents.parquet")
         .select("doc_id", F.col("n_chars").cast("long").alias("n_tok"))
         .filter(F.col("n_tok") > 0)
         .withColumn("bucket", F.ceil(F.log2("n_tok")).cast("long")))

    def jobs_while_building(build):
        group = f"build-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            df = build()
        finally:
            sc._jsc.clearJobGroup()
        return df, list(sc.statusTracker().getJobIdsForGroup(group))

    batches, jobs = jobs_while_building(
        lambda: length_bucketed_batches(t, id_bounds=(0, 1 << 20)))
    assert jobs == []
    shuffled, jobs = jobs_while_building(
        lambda: get("q_epoch_shuffle").fn(spark, SF))
    assert jobs == []
    # the lazily-built plans still run and cover every document
    n_docs = t.count()
    assert batches.count() == n_docs
    assert shuffled.count() == spark.read.parquet(
        f"{SF}/documents.parquet").count()


def test_weighted_sample_bias_and_determinism(spark):
    """Efraimidis-Spirakis selection must favor heavier documents (mean
    selected weight well above the corpus mean) and be bit-stable
    across invocations."""
    from telescope_data_pipeline_spark.queries import get

    sf = "/root/testdata/sf0.01"
    sel = get("q_weighted_sample").fn(spark, sf).collect()
    assert len(sel) == 100
    again = get("q_weighted_sample").fn(spark, sf).collect()
    assert sorted(map(tuple, sel)) == sorted(map(tuple, again))
    import pandas as pd

    docs = pd.read_parquet(f"{sf}/documents.parquet")
    corpus_mean = docs[docs.n_chars > 0].n_chars.mean()
    sel_mean = sum(r.weight for r in sel) / len(sel)
    assert sel_mean > corpus_mean * 1.1, (sel_mean, corpus_mean)


def test_length_batches_id_bounds_param_is_lazy_and_identical(spark):
    """Passing known id_bounds must (a) produce the identical batching
    and (b) build the plan with NO driver action — proven by handing it
    a DataFrame whose ids lie inside the claimed bounds and comparing
    against the scan-fallback result."""
    from telescope_data_pipeline_spark.queries.llm import (
        length_bucketed_batches,
    )
    from telescope_data_pipeline_spark.sources import load_table
    from pyspark.sql import functions as F

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    n_tok = F.size(F.filter(F.split("text", r"\s+"), lambda x: x != ""))
    t = (d.select("doc_id", n_tok.cast("long").alias("n_tok"))
         .filter(F.col("n_tok") > 0)
         .withColumn("bucket", F.ceil(F.log2("n_tok")).cast("long")))
    lohi = t.agg(F.min("doc_id"), F.max("doc_id")).first()
    with_bounds = length_bucketed_batches(
        t, id_bounds=(int(lohi[0]), int(lohi[1])))
    fallback = length_bucketed_batches(t)
    assert sorted(map(tuple, with_bounds.collect())) == \
        sorted(map(tuple, fallback.collect()))
    # wider (but still valid) bounds also reproduce the same batching:
    # the composite key is order-preserving under any span >= true span
    wider = length_bucketed_batches(
        t, id_bounds=(int(lohi[0]) - 5, int(lohi[1]) + 100))
    assert sorted(map(tuple, wider.collect())) == \
        sorted(map(tuple, fallback.collect()))
    import pytest

    with pytest.raises(ValueError, match="span too wide"):
        length_bucketed_batches(t, id_bounds=(0, 1 << 58))


@pytest.mark.full
def test_kmeans_sse_monotone_and_converges(spark):
    """Lloyd's algorithm must never increase within-cluster SSE, and on
    this small corpus reaches a fixed point: one more iteration leaves
    the assignment unchanged."""
    from telescope_data_pipeline_spark.operators.kmeans import (
        assign_clusters,
        kmeans_iterate,
        sse,
    )
    from telescope_data_pipeline_spark.sources import load_table
    from pyspark.sql import functions as F

    e = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    errs = []
    for iters in (0, 1, 3, 6):
        if iters == 0:
            cent = (e.filter(F.col("vec_id") < 8)
                    .select(F.col("vec_id").alias("cid"),
                            F.transform("embedding", lambda x:
                                        x.cast("double")).alias("cvec")))
            a = assign_clusters(e, cent)
        else:
            a = kmeans_iterate(e, k=8, iters=iters)
        errs.append(sse(a))
    assert errs == sorted(errs, reverse=True), errs
    assert errs[-1] < errs[0]
    # fixed point: with early stop, a generous iteration budget lands on
    # the converged assignment, and one more budgeted run reproduces it
    a_conv = {(r.vec_id, r.cid) for r in
              kmeans_iterate(e, k=8, iters=40)
              .select("vec_id", "cid").collect()}
    a_more = {(r.vec_id, r.cid) for r in
              kmeans_iterate(e, k=8, iters=41)
              .select("vec_id", "cid").collect()}
    assert a_conv == a_more


def test_compress_ratio_separates_boilerplate_from_noise(spark, tmp_path):
    """zlib compression ratio (q_compress_ratio): planted repetitive
    text must compress far below random text, byte counts must be
    exact, and the keyed 1/10 sample must only emit doc_id % 10 == 0."""
    import random
    import string
    import zlib

    rep = "the same boilerplate line repeats here. " * 50
    rng = random.Random(7)
    noise = "".join(rng.choice(string.ascii_letters + " ")
                    for _ in range(2000))
    rows = [(0, rep, "en", "rep_src", len(rep)),
            (10, noise, "en", "noise_src", len(noise)),
            (20, "tiny", "en", "tiny_src", 4),
            (3, "excluded by the sample key", "en", "skip_src", 26)]
    d = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long") \
        .coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {r["doc_id"]: r for r in
           all_queries()["q_compress_ratio"].fn(spark, d).collect()}
    assert set(out) == {0, 10, 20}  # 1/10 keyed sample, never random
    assert out[0]["n_raw"] == len(rep.encode())
    assert out[0]["n_compressed"] == len(zlib.compress(rep.encode(), 6))
    assert out[0]["ratio"] < 0.1          # boilerplate collapses
    assert out[10]["ratio"] > 0.5         # noise barely compresses
    assert out[0]["ratio"] < out[10]["ratio"]
    assert out[20]["n_raw"] == 4          # tiny doc survives the clip
