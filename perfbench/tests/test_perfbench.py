"""Tests of the benchmark's own machinery. None of them starts Spark.

    python -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

import checks
import data
import spans
import stats
import status


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self) -> float:
        return self.t


def test_self_time_subtracts_union_of_children():
    clock = FakeClock()
    tr = spans.Tracer(clock=clock)
    with tr.span("root"):
        clock.t = 1.0
        with tr.span("a"):
            clock.t = 3.0
            with tr.span("a.inner"):
                clock.t = 4.0
        clock.t = 5.0
        with tr.span("b"):
            clock.t = 6.0
        clock.t = 10.0
    root, a, inner, b = range(4)
    assert tr.spans[root].duration == 10.0
    assert tr.self_time(inner) == 1.0
    assert tr.self_time(a) == 2.0          # 3 s minus its 1 s child
    assert tr.self_time(b) == 1.0
    assert tr.self_time(root) == 6.0       # 10 s minus a (3 s) and b (1 s)
    assert tr.total("a") == 3.0


def test_covered_merges_overlapping_intervals_and_clips():
    assert spans.covered([(0, 2), (1, 3), (5, 20)], 0, 10) == 8.0
    assert spans.covered([], 0, 10) == 0.0


def test_tracer_sets_and_restores_job_groups():
    seen = []
    tr = spans.Tracer(set_group=seen.append)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans[0].group, tr.spans[1].group
    assert seen == [outer, inner, outer, None]
    assert tr.groups("inner") == [inner]


def test_tail_percentile_rule():
    # The highest percentile with at least ten samples beyond it.
    assert stats.tail_percentile(100) == 90
    assert stats.tail_percentile(1000) == 99
    assert stats.tail_percentile(52) == 80
    assert stats.tail_percentile(20) == 50
    assert stats.tail_percentile(19) is None
    assert stats.tail_percentile(0) is None


def test_percentile_interpolates():
    assert stats.percentile([1, 2, 3, 4, 5], 50) == 3
    assert stats.percentile([0, 10], 90) == pytest.approx(9.0)
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[os.path.relpath(p, root)] = open(p, "rb").read()
    return out


def test_campaign_bytes_depend_only_on_seed(tmp_path):
    kw = dict(n_epochs=2, size=96, n_stars=3)
    data.write_campaign(str(tmp_path / "a"), seed=7, **kw)
    data.write_campaign(str(tmp_path / "b"), seed=7, **kw)
    data.write_campaign(str(tmp_path / "c"), seed=8, **kw)
    a, b, c = (_tree_bytes(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert sorted(a) == sorted(c)
    assert any(a[k] != c[k] for k in a if k.endswith(".fits"))


def test_tables_depend_only_on_seed():
    a, b, c = (data.make_tables(0.0005, s) for s in (3, 3, 4))
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 3000
    assert a["documents"].column("n_chars").to_pylist() == [
        len(t) for t in a["documents"].column("text").to_pylist()]


def test_digest_is_order_insensitive_and_catches_corruption():
    df = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 2.0, None]})
    same = df.iloc[::-1][["v", "k"]]
    assert checks.digest(df) == checks.digest(same)
    bad = df.copy()
    bad.loc[1, "v"] = 2.5
    assert checks.digest(bad) != checks.digest(df)
    assert checks.digest(df.iloc[:2]).rows == 2


def test_oracle_digest_matches_and_flags_a_wrong_result(tmp_path):
    sf_dir = data.write_tables(str(tmp_path), 0.0005, seed=1)
    sql = "SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY 1"
    want = checks.oracle_digest(sf_dir, sql)
    got = pd.read_parquet(os.path.join(sf_dir, "lineitem.parquet")).groupby(
        "l_returnflag").size().rename("n").reset_index()
    assert checks.digest(got) == want
    # The same counts as doubles are a different result, as in the oracle gate.
    assert checks.digest(got.astype({"n": "float64"})) != want
    got.loc[0, "n"] += 1
    assert checks.digest(got) != want


def _fake_outputs(out: str, n_epochs: int, stars: list[dict]) -> None:
    for e in range(n_epochs):
        d = os.path.join(out, "csv", f"epoch_id={e}")
        os.makedirs(d)
        rows = [s for s in stars if s["epoch_id"] == e]
        with open(os.path.join(d, "part-0.csv"), "w") as f:
            f.write("id,x_fit,y_fit\n")
            f.writelines(f"{i},{s['x'] + 0.3},{s['y'] - 0.2}\n" for i, s in enumerate(rows))
    os.makedirs(os.path.join(out, "fits"))
    for e in range(n_epochs):
        open(os.path.join(out, "fits", f"stacked_e{e}.fits"), "wb").close()
    os.makedirs(os.path.join(out, "pdf"))
    with open(os.path.join(out, "pdf", "diagnostics.pdf"), "wb") as f:
        f.write(b"%PDF /Type /Pages " + b"/Type /Page " * n_epochs)
    os.makedirs(os.path.join(out, "txt", "stats.txt"))
    with open(os.path.join(out, "txt", "stats.txt", "part-0.txt"), "w") as f:
        f.writelines(f"epoch {e}: sources=3\n" for e in range(n_epochs))


def test_campaign_checks_pass_on_good_output_and_catch_corruption(tmp_path):
    stars = [{"epoch_id": e, "x": 30.0 + 10 * k, "y": 40.0, "flux": 1e5}
             for e in range(2) for k in range(3)]
    out = str(tmp_path / "out")
    _fake_outputs(out, 2, stars)
    assert all(checks.sink_checks(out, 2).values())
    phot = checks.read_photometry(out)
    assert checks.stars_recovered(phot, stars) == (6, 6)

    moved = [dict(s, x=s["x"] + 1.5) if i == 4 else s for i, s in enumerate(stars)]
    assert checks.stars_recovered(phot, moved) == (5, 6)
    os.remove(os.path.join(out, "fits", "stacked_e1.fits"))
    with open(os.path.join(out, "txt", "stats.txt", "part-0.txt"), "a") as f:
        f.write("epoch 1: sources=3\n")
    result = checks.sink_checks(out, 2)
    assert not result["fits"] and not result["txt"]
    assert result["csv"] and result["pdf"]


def test_parse_metric_reads_the_total():
    text = "total (min, med, max (stageId: taskId))\n7.9 s (1.8 s, 2.0 s, 2.0 s (stage 2.0: task 6))"
    assert status.parse_metric(text) == pytest.approx(7.9)
    assert status.parse_metric("807.9 KiB") == pytest.approx(807.9 / 1024)
    assert status.parse_metric("496 ms") == pytest.approx(0.496)
    assert status.parse_metric(None) == 0.0


def test_status_reader_degrades_to_wall_only():
    class NoInternals:
        class sparkContext:  # noqa: N801 - mimics the attribute name
            pass

    warnings = []
    reader = status.StatusReader(NoInternals(), warn=warnings.append)
    assert not reader.available
    assert len(warnings) == 1 and "wall times only" in warnings[0]
    assert reader.job_counts(["g"]) == {}
    assert reader.python_metrics(-1) == {}
    assert reader.execution_mark() == -1
