"""Property-based invariants (SURVEY.md §5.3) — hypothesis generates the
inputs, Spark evaluates the expressions, numpy is the ground truth."""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from telescope_data_pipeline_spark.functions.astro import (
    flux_from_mag,
    julian_date,
    mag,
    phase_fold,
)

pytestmark = pytest.mark.usefixtures("spark")


@pytest.fixture(scope="module")
def sql(spark):
    def run(expr_col, rows, schema):
        return [r.out for r in
                spark.createDataFrame(rows, schema).select(expr_col.alias("out")).collect()]

    return run


@settings(max_examples=20, deadline=None)
@given(st.lists(st.floats(min_value=1e-6, max_value=1e12,
                          allow_nan=False, allow_infinity=False),
                min_size=1, max_size=20))
def test_mag_flux_round_trip(sql, fluxes):
    """flux -> mag -> flux is the identity (p_io.py:111 inverse pair)."""
    out = sql(flux_from_mag(mag(F.col("f"))), [(f,) for f in fluxes], "f double")
    assert np.allclose(out, fluxes, rtol=1e-9)


@settings(max_examples=20, deadline=None)
@given(st.lists(st.floats(min_value=0, max_value=4e9,
                          allow_nan=False, allow_infinity=False),
                min_size=1, max_size=20))
def test_julian_date_matches_numpy(sql, secs):
    out = sql(julian_date(F.col("s")), [(s,) for s in secs], "s double")
    want = [s / 86400.0 + 2440587.5 for s in secs]
    assert np.allclose(out, want, rtol=0, atol=1e-9)


@settings(max_examples=20, deadline=None)
@given(st.lists(st.floats(min_value=0, max_value=1e6,
                          allow_nan=False, allow_infinity=False),
                min_size=1, max_size=20),
       st.floats(min_value=0.5, max_value=100))
def test_phase_fold_in_unit_interval(sql, ts, period):
    out = sql(phase_fold(F.col("t"), 0.0, period), [(t,) for t in ts], "t double")
    assert all(0.0 <= p < 1.0 or math.isclose(p, 0.0) for p in out)


def test_sigma_clip_matches_numpy_reference(spark):
    """The window-based operator equals a direct numpy implementation of
    the same 3-iteration sigma=2 clip."""
    rng = np.random.default_rng(9)
    vals = np.concatenate([rng.normal(50, 5, 500), rng.uniform(200, 400, 20)])
    df = spark.createDataFrame([("g", float(v)) for v in vals], "g string, value double")

    from telescope_data_pipeline_spark.operators.sigma_clip import sigma_clip

    kept = np.sort([r.value for r in sigma_clip(df, ["g"], "value").collect()])

    cur = vals.copy()
    for _ in range(3):
        m, s = cur.mean(), cur.std(ddof=1)
        cur = cur[(cur >= m - 2 * s) & (cur <= m + 2 * s)]
    assert np.allclose(kept, np.sort(cur))


def test_nn_join_matches_brute_force(spark):
    """Grid-bucketed NN join == brute-force nearest neighbor, including
    the left-outer null for out-of-range rows (core.py:148-177)."""
    rng = np.random.default_rng(4)
    left = [(int(i), float(v)) for i, v in enumerate(rng.uniform(0, 1000, 120))]
    right = [(int(i + 1000), float(v)) for i, v in enumerate(rng.uniform(0, 1000, 60))]
    ldf = spark.createDataFrame(left, "lid long, lv double")
    rdf = spark.createDataFrame(right, "rid long, rv double")

    from telescope_data_pipeline_spark.operators.nn_join import nn_join

    got = {r.lid: (r.rid, r.dist)
           for r in nn_join(ldf, rdf, ["lid"], [("lv", "rv")], 25.0, ["rid"]).collect()}

    for lid, lv in left:
        best = min(((abs(lv - rv), rid) for rid, rv in right), default=None)
        if best is None or best[0] >= 25.0:
            assert got[lid][0] is None, lid
        else:
            assert got[lid][0] == best[1], lid
            assert math.isclose(got[lid][1], best[0], rel_tol=1e-9)


def test_asof_join_matches_pandas_merge_asof(spark):
    """asof_join == pandas merge_asof(direction='backward') on random
    keyed time series — pandas is the independent ground truth for the
    union+window rewrite (exact ties match; missing keys stay null)."""
    import pandas as pd

    rng = np.random.default_rng(11)
    n_l, n_r = 300, 200
    left = pd.DataFrame({
        "k": rng.integers(0, 8, n_l),
        "t": rng.integers(0, 10_000, n_l).astype("datetime64[s]"),
        "lv": rng.normal(size=n_l).round(3),
    })
    right = pd.DataFrame({
        "k": rng.integers(0, 10, n_r),  # some keys absent on the left
        "t": rng.integers(0, 10_000, n_r).astype("datetime64[s]"),
        "rv": rng.normal(size=n_r).round(3),
    }).drop_duplicates(["k", "t"])  # asof requires unique (key, ts)

    from telescope_data_pipeline_spark.operators.asof import asof_join

    lsp = spark.createDataFrame(left.rename(columns={"t": "ts"}))
    rsp = spark.createDataFrame(right.rename(columns={"t": "ts"}))
    got = (asof_join(lsp, rsp, ["k"], "ts", "ts", ["rv"])
           .toPandas()
           .sort_values(["k", "ts", "lv"]).reset_index(drop=True))

    want = (pd.merge_asof(left.sort_values("t"), right.sort_values("t"),
                          on="t", by="k", direction="backward")
            .rename(columns={"t": "ts"})
            .sort_values(["k", "ts", "lv"]).reset_index(drop=True))
    assert len(got) == len(want) == n_l
    pd.testing.assert_series_equal(got["rv"], want["rv"],
                                   check_exact=False, rtol=1e-12)


@settings(max_examples=8, deadline=None)
@given(st.lists(st.integers(min_value=-2**40, max_value=2**40),
                min_size=1, max_size=60, unique=True),
       st.integers(min_value=1, max_value=9))
def test_prefix_sum_matches_sequential_fold(spark, keys, n_parts):
    """Any unique integral key set, any shard count: the distributed
    prefix sum equals the sequential cumulative sum in key order."""
    from telescope_data_pipeline_spark.operators.prefix_sum import (
        lazy_prefix_sum,
    )

    rows = [(k, (k % 13) - 6) for k in keys]
    df = spark.createDataFrame(rows, "k long, v long")
    got = {r.k: r.cum for r in
           lazy_prefix_sum(df, "k", ["k"], "v",
                           num_buckets=n_parts).collect()}
    acc = 0
    for k, v in sorted(rows):
        acc += v
        assert got[k] == acc


@settings(max_examples=8, deadline=None)
@given(st.lists(st.integers(min_value=-2**40, max_value=2**40),
                min_size=1, max_size=60, unique=True),
       st.integers(min_value=1, max_value=9))
def test_distributed_row_number_matches_sort(spark, keys, n_parts):
    """Any unique key set, any bucket count, bucketed by a coarser
    monotone ``bucket_key`` projection (many rows per bucket, ties inside
    a bucket resolve by the full order): positions equal the rank in a
    plain sort."""
    from pyspark.sql import functions as F

    from telescope_data_pipeline_spark.operators.rank import (
        lazy_row_number,
    )

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    got = {r.k: r.position for r in
           lazy_row_number(df, order_cols=["k"],
                           bucket_key=F.floor(F.col("k") / 1000),
                           num_buckets=n_parts).collect()}
    for pos, k in enumerate(sorted(keys)):
        assert got[k] == pos


@settings(max_examples=8, deadline=None)
@given(st.lists(st.integers(min_value=-2**40, max_value=2**40),
                min_size=1, max_size=60, unique=True),
       st.integers(min_value=1, max_value=9))
def test_lazy_row_number_matches_sort(spark, keys, n_buckets):
    """Any unique key set, any bucket count, bucketed by the order
    column itself: positions equal the rank in a plain sort —
    bucket-boundary differences must never move a global position."""
    from telescope_data_pipeline_spark.operators.rank import (
        lazy_row_number,
    )

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    got = {r.k: r.position for r in
           lazy_row_number(df, order_cols=["k"],
                           num_buckets=n_buckets).collect()}
    for pos, k in enumerate(sorted(keys)):
        assert got[k] == pos


@settings(max_examples=8, deadline=None)
@given(st.lists(st.tuples(st.integers(min_value=0, max_value=3),
                          st.integers(min_value=-2**40, max_value=2**40)),
                min_size=1, max_size=80),
       st.integers(min_value=1, max_value=9))
def test_grouped_cum_counts_matches_sort(spark, rows, n_buckets):
    """Any (group, value) multiset, any bucket count: _c equals the
    pair's multiplicity and _cum_before equals the count of same-group
    rows with strictly smaller value — the lazy grouped two-pass rank
    agrees with a plain per-group sort."""
    from telescope_data_pipeline_spark.operators.rank import (
        grouped_cum_counts,
    )

    df = spark.createDataFrame(rows, "g int, v long")
    got = {(r.g, r.v): (r._c, r._cum_before) for r in
           grouped_cum_counts(df, "g", "v",
                              num_buckets=n_buckets).collect()}
    from collections import Counter
    mult = Counter(rows)
    pairs = set(rows)
    assert set(got) == pairs
    for g, v in pairs:
        want_c = mult[(g, v)]
        want_cb = sum(n for (g2, v2), n in mult.items()
                      if g2 == g and v2 < v)
        assert got[(g, v)] == (want_c, want_cb), (g, v)


# ---------------------------------------------------------------------------
# Candidate-generation exactness: pure-Python models of the algebraic
# claims the distributed operators rely on (the oracle proves them on
# driver data; these prove them on adversarial data).
# ---------------------------------------------------------------------------

def _ed1_neighborhood(s: str) -> set[str]:
    """Depth-1 deletion neighborhood incl. self (q_fuzzy_join's FastSS)."""
    return {s} | {s[:i] + s[i + 1:] for i in range(len(s))}


def _levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@given(st.lists(st.text(alphabet="abc", min_size=0, max_size=6),
                min_size=2, max_size=8, unique=True))
@settings(max_examples=200, deadline=None)
def test_fastss_deletion_join_is_complete_for_ed1(strings):
    """Two strings are within edit distance 1 IFF their deletion
    neighborhoods intersect — the equi-join key q_fuzzy_join shuffles
    loses NO pair (completeness) and admits no unverifiable pair the
    levenshtein refine wouldn't reject (soundness is the refine)."""
    for i, a in enumerate(strings):
        for b in strings[i + 1:]:
            candidates_meet = bool(_ed1_neighborhood(a) & _ed1_neighborhood(b))
            if _levenshtein(a, b) <= 1:
                assert candidates_meet, (a, b)


@given(st.lists(st.frozensets(st.integers(0, 30), min_size=1, max_size=12),
                min_size=2, max_size=8))
@settings(max_examples=200, deadline=None)
def test_ppjoin_prefix_filter_is_lossless(sets):
    """PPJoin's prefix filter (q_setsim_join): order every set by a
    global token order, keep the first |s| - ceil(t|s|) + 1 tokens;
    any pair with Jaccard >= t shares a prefix token. Integer prefix
    arithmetic: ceil(4m/5) = (4m+4) div 5, exactly as the query."""
    t_num, t_den = 4, 5  # t = 0.8
    order = {}
    for s in sets:
        for tok in s:
            order.setdefault(tok, len(order))
    def prefix(s):
        m = len(s)
        p = m - (t_num * m + t_den - 1) // t_den + 1
        return set(sorted(s, key=lambda x: order[x])[:p])
    for i, a in enumerate(sets):
        for b in sets[i + 1:]:
            inter = len(a & b)
            jacc = inter / (len(a) + len(b) - inter)
            if jacc >= t_num / t_den:
                assert prefix(a) & prefix(b), (a, b)


@given(st.integers(0, 255), st.integers(0, 255),
       st.integers(0, 255), st.integers(0, 255))
@settings(max_examples=300, deadline=None)
def test_morton_interleave_orders_like_reference(x1, y1, x2, y2):
    """q_zorder_key's HOF bit fold equals the textbook bit interleave,
    and equal inputs give equal codes (injectivity over the 8-bit
    domain)."""
    def morton(x, y):
        return sum((((x >> i) & 1) << (2 * i)) | (((y >> i) & 1) << (2 * i + 1))
                   for i in range(8))
    def morton_fold(x, y):  # the query's fold: acc + bit*2^(2i) + bit*2^(2i+1)
        acc = 0
        for i in range(8):
            acc += ((x >> i) & 1) * (2 ** (2 * i)) \
                 + ((y >> i) & 1) * (2 ** (2 * i + 1))
        return acc
    assert morton_fold(x1, y1) == morton(x1, y1)
    if (x1, y1) != (x2, y2):
        assert morton(x1, y1) != morton(x2, y2)


@given(st.lists(st.integers(1, 50), min_size=2, max_size=10))
@settings(max_examples=200, deadline=None)
def test_scd2_intervals_partition_the_timeline(bal_deltas):
    """q_scd2_asof's no-window read rests on: for any key, the SCD2
    [valid_from, valid_to) intervals are disjoint and cover from first
    valid_from to infinity — exactly one version matches any as-of
    date >= first change. Model: sequential updates at increasing
    dates."""
    dates = [f"2024-{m:02d}-01" for m in range(1, len(bal_deltas) + 1)]
    rows = []  # (valid_from, valid_to)
    for i, d in enumerate(dates):
        if rows:
            rows[-1] = (rows[-1][0], d)  # close previous
        rows.append((d, None))
    for probe in dates:
        live = [r for r in rows
                if r[0] <= probe and (r[1] is None or r[1] > probe)]
        assert len(live) == 1


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.tuples(st.integers(-500, 500), st.integers(0, 200)),
             min_size=1, max_size=12),
    st.lists(st.tuples(st.integers(-500, 500), st.integers(0, 200)),
             min_size=1, max_size=12),
    st.integers(1, 97),
)
def test_interval_join_matches_bruteforce(spark, lefts, rights, width):
    """Bucketed interval overlap join == the O(n*m) closed-interval
    reference, for random intervals and bucket widths (boundary values
    included by the integer strategies)."""
    from telescope_data_pipeline_spark.operators.interval_join import (
        interval_overlap_join,
    )

    l = spark.createDataFrame(
        [(i, s, s + d) for i, (s, d) in enumerate(lefts)],
        "lid long, ls long, le long")
    r = spark.createDataFrame(
        [(i, s, s + d) for i, (s, d) in enumerate(rights)],
        "rid long, rs long, re long")
    got = {(row.lid, row.rid) for row in
           interval_overlap_join(l, r, "ls", "le", "rs", "re",
                                 bucket_width=width).collect()}
    want = {(i, j)
            for i, (s1, d1) in enumerate(lefts)
            for j, (s2, d2) in enumerate(rights)
            if s1 <= s2 + d2 and s2 <= s1 + d1}
    assert got == want


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.integers(0, 9), min_size=1, max_size=120),
    st.integers(2, 12),
    st.integers(1, 8),
)
def test_heavy_hitters_matches_bruteforce(spark, draws, k, parts):
    """MG-candidates + exact rescue == GROUP BY/HAVING for random
    streams, thresholds, and partition counts (partitioning must never
    change the exact answer)."""
    from collections import Counter

    from telescope_data_pipeline_spark.operators.heavy_hitters import (
        heavy_hitters_exact,
    )

    df = spark.createDataFrame([(f"k{d}",) for d in draws],
                               "w string").repartition(parts)
    got = {(r.w, r.c) for r in heavy_hitters_exact(df, "w", k).collect()}
    counts = Counter(f"k{d}" for d in draws)
    n = len(draws)
    want = {(w, c) for w, c in counts.items() if c * k > n}
    assert got == want


@given(st.lists(st.floats(min_value=-1e9, max_value=1e9,
                          allow_nan=False, allow_infinity=False),
                min_size=1, max_size=400),
       st.sampled_from([0.02, 0.05, 0.1]))
@settings(max_examples=15, deadline=None)
def test_quantile_sketch_error_bound_property(spark, vals, eps):
    """For ANY value distribution (duplicates, constants, heavy tails)
    the sketch answer's true rank stays within eps*n + shard slack of
    the target rank — the operator's guaranteed contract, not a
    statistical one."""
    import bisect

    from telescope_data_pipeline_spark.operators.quantile_sketch import (
        approx_quantiles,
    )

    df = spark.createDataFrame([(v,) for v in vals], "x double")
    svals = sorted(vals)
    n = len(svals)
    n_shards = 4
    for p, est in zip([0.25, 0.5, 0.75],
                      approx_quantiles(df, "x", [0.25, 0.5, 0.75],
                                       eps=eps, n_shards=n_shards)):
        lo = bisect.bisect_left(svals, est)
        hi = bisect.bisect_right(svals, est)
        target = p * n
        dist = 0 if lo <= target <= hi else min(abs(lo - target),
                                                abs(hi - target))
        # each shard's per-gap slack is <= ceil(n_s*eps/2); the +1 per
        # shard covers the ceil rounding at tiny shard sizes
        assert dist <= eps * n + n_shards + 1, (p, est, dist, n, eps)


@settings(max_examples=8, deadline=None)
@given(st.lists(st.tuples(st.integers(min_value=-2**40, max_value=2**40),
                          st.integers(min_value=-1000, max_value=1000)),
                min_size=1, max_size=60),
       st.integers(min_value=1, max_value=9))
def test_lazy_prefix_sum_matches_sort(spark, rows, n_buckets):
    """The lazy (no driver fold, no cache) prefix sum equals a plain
    sorted cumulative sum for any key set, values, and bucket count.
    Duplicate keys are disambiguated by a per-row id tiebreaker."""
    from telescope_data_pipeline_spark.operators.prefix_sum import (
        lazy_prefix_sum,
    )

    data = [(k, v, i) for i, (k, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "k long, v long, id long")
    out = lazy_prefix_sum(df, bucket_col="k", order_cols=["k", "id"],
                          value_col="v", num_buckets=n_buckets)
    got = {r.id: r.cum for r in out.collect()}
    acc = 0
    for k, v, i in sorted(data, key=lambda t: (t[0], t[2])):
        acc += v
        assert got[i] == acc, (k, i)


def _hilbert_xy2d(n: int, x: int, y: int) -> int:
    """Independent reference: the classic public-domain Hilbert xy2d
    quadrant fold (rotate/flip + offset), written WITHOUT the SQL CASE
    formulation so a shared bug cannot hide."""
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = n - 1 - x
                y = n - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_reference_is_bijective_with_unit_steps():
    """The reference itself: xy2d is a bijection on the 256x256 grid,
    and consecutive d values are Manhattan-distance-1 neighbors — the
    locality property that makes Hilbert the better layout curve (a
    Morton curve violates it at every power-of-two seam)."""
    seen = {}
    for x in range(256):
        for y in range(256):
            seen[_hilbert_xy2d(256, x, y)] = (x, y)
    assert len(seen) == 65536 and min(seen) == 0 and max(seen) == 65535
    for d in range(0, 65535, 97):  # sampled consecutive pairs
        (x1, y1), (x2, y2) = seen[d], seen[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, (d, x1, y1, x2, y2)


def test_hilbert_query_matches_reference(spark):
    """End-to-end golden: q_hilbert_key's 8-step SQL CASE fold equals
    the independent Python reference on every real part row — this
    catches a shared bug the DuckDB oracle (which runs the SAME
    generated SQL) cannot."""
    from telescope_data_pipeline_spark.queries import get

    rows = (get("q_hilbert_key").fn(spark, "/root/testdata/sf0.001")
            .collect())
    assert rows
    for r in rows:
        assert r.hval == _hilbert_xy2d(256, r.x, r.y), (r.x, r.y, r.hval)
        assert r.hbucket == r.hval // 4096


def _pava_stack(blocks):
    """Independent stack-based pool-adjacent-violators reference:
    sequential pooling, the textbook algorithm q_isotonic_calibration's
    minimax identity must reproduce."""
    stack = []  # [n, pos, width]
    for n, p in blocks:
        stack.append([n, p, 1])
        while len(stack) > 1:
            n2, p2, w2 = stack[-1]
            n1, p1, w1 = stack[-2]
            r1 = p1 / n1 if n1 else None
            r2 = p2 / n2 if n2 else None
            if r1 is None or r2 is None or r1 > r2:
                stack[-2] = [n1 + n2, p1 + p2, w1 + w2]
                stack.pop()
            else:
                break
    out = []
    for n, p, w in stack:
        out += [p / n if n else None] * w
    return out


def _pava_minimax(blocks):
    """The query's formula: iso[i] = max_{j<=i} min_{k>=i} rate(j..k)."""
    cn = [0]
    cp = [0]
    for n, p in blocks:
        cn.append(cn[-1] + n)
        cp.append(cp[-1] + p)
    out = []
    B = len(blocks)
    for i in range(B):
        best = None
        for j in range(i + 1):
            worst = None
            for k in range(i, B):
                dn = cn[k + 1] - cn[j]
                if dn == 0:
                    continue
                r = (cp[k + 1] - cp[j]) / dn
                if worst is None or r < worst:
                    worst = r
            if worst is not None and (best is None or worst > best):
                best = worst
        out.append(best)
    return out


@given(st.lists(st.tuples(st.integers(0, 20), st.integers(0, 20)),
                min_size=1, max_size=12))
@settings(max_examples=300, deadline=None)
def test_isotonic_minimax_equals_stack_pava(raw):
    """The distributed minimax identity equals sequential PAVA at every
    bucket that CARRIES DATA (pos clamped to <= n). At zero-weight
    (empty) buckets the L2 isotonic solution is non-unique — any value
    between the neighbouring levels is optimal — and the two forms may
    legitimately pick different ones; at positive-weight buckets the
    solution is unique, so there they must agree exactly. Both outputs
    must also be monotone over the non-empty buckets."""
    blocks = [(n, min(p, n)) for n, p in raw]
    a = _pava_minimax(blocks)
    b = _pava_stack(blocks)
    prev = None
    for i, (n, _p) in enumerate(blocks):
        if n == 0:
            continue
        assert a[i] is not None and b[i] is not None, (i, blocks)
        assert abs(a[i] - b[i]) < 1e-12, (i, blocks, a, b)
        if prev is not None:
            assert a[i] >= prev - 1e-12, (i, blocks, a)
        prev = a[i]


@settings(max_examples=8, deadline=None)
@given(st.lists(st.tuples(st.integers(min_value=-2**40, max_value=2**40),
                          st.integers(min_value=-1000, max_value=1000),
                          st.integers(min_value=-1000, max_value=1000)),
                min_size=1, max_size=60),
       st.integers(min_value=1, max_value=9))
def test_lazy_prefix_sums_multi_measure(spark, rows, n_buckets):
    """The multi-measure form (round 12, q_energy_distance's carrier)
    computes EVERY measure's cumulative sum over the same total order
    in one pass — each must equal the plain sorted cumulative sum."""
    from telescope_data_pipeline_spark.operators.prefix_sum import (
        lazy_prefix_sums,
    )

    data = [(k, v, w, i) for i, (k, v, w) in enumerate(rows)]
    df = spark.createDataFrame(data, "k long, v long, w long, id long")
    out = lazy_prefix_sums(df, "k", ["k", "id"],
                           {"v": "cum_v", "w": "cum_w"},
                           num_buckets=n_buckets)
    got = {r.id: (r.cum_v, r.cum_w) for r in out.collect()}
    av = aw = 0
    for k, v, w, i in sorted(data, key=lambda t: (t[0], t[3])):
        av += v
        aw += w
        assert got[i] == (av, aw), (k, i)
