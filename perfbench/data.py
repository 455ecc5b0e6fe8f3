"""Seeded inputs for the benchmark workloads.

Two generators, both pure functions of their seed:

- ``write_tables``: the ten relational tables the query registry reads
  (region .. embeddings), at a scale factor, as one parquet file each.
  Shapes and value ranges follow the schemas in
  ``telescope_data_pipeline_spark.schemas`` so every registered query runs
  on them, and value distributions follow the driver's tables of the same
  scale, so the headline queries get the same plans (README.md, "Seeded
  tables against the driver's tables"); the values are drawn from the
  seed, so another seed gives other data of the same shape.
- ``write_campaign``: a synthetic FITS image campaign (epochs of three
  shifted exposures with planted Gaussian stars) plus its manifest CSV and
  the planted truth (star positions and integer shifts).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_VOCAB = ("join hash row batch scan column customer filter small slow merge "
          "order vector line data table agg value key stream window a spark "
          "part group big sort query fast the").split()
_ADJ = "small red large new blue hot old cold".split()
_NOUN = "ring widget gizmo plate rod anvil gear bolt".split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_DAY_US = 86_400_000_000


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    us = rng.integers(lo, hi + 1, n) * _DAY_US
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 100, n)
    words = np.asarray(_VOCAB)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    # ~5% near-duplicates: an earlier document with a trailing marker
    # token, which the dedup queries pair up.
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": list(rng.choice(_LANGS, n, p=_LANG_P)),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    v = rng.normal(size=(n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel())
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * dim + 1, dim), pa.int32()), flat),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The ten tables at scale factor ``sf`` (lineitem = 6M x sf rows)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_evt = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 10)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": list(rng.choice(_SEGMENTS, n_cust))})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": list(rng.choice(_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": list(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": list(rng.choice(_PRIORITIES, n_ord))})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": list(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": list(rng.choice(["F", "O"], n_line)),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)})
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = start + np.sort(rng.integers(0, 30 * _DAY_US, n_evt))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
        "event_type": list(rng.choice(_EVENT_TYPES, n_evt)),
        "value": np.maximum(np.round(rng.exponential(50.0, n_evt), 2), 0.01),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_evt)]})
    t["documents"] = _documents(rng, max(int(50_000 * sf), 500))
    t["embeddings"] = _embeddings(rng, max(int(20_000 * sf), 500))
    return t


def write_tables(out_dir: str, sf: float, seed: int) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# ---------------------------------------------------------------------------
# FITS campaign
# ---------------------------------------------------------------------------

STAR_SIGMA = 1.8
MAX_SHIFT = 8
_STAMP = 12


def make_campaign(seed: int, n_epochs: int, size: int, n_stars: int,
                  imgs_per_epoch: int = 3):
    """Return ``(frames, stars, shifts)``: one ``(filename, epoch_id,
    pixels, header)`` per exposure, and the planted truth.

    Each epoch plants ``n_stars`` isolated Gaussian stars (flux 30k-150k,
    sigma 1.8 px, at least 14 px apart and 24 px from the border) on a
    flat background of 100 with Gaussian noise 2; exposures 1.. of an
    epoch are the reference exposure rolled by an integer shift of up to
    ``MAX_SHIFT`` px on each axis.
    """
    rng = np.random.default_rng(seed)
    stars, shifts, frames = [], [], []
    yy, xx = np.mgrid[0:size, 0:size]
    margin = 24
    for e in range(n_epochs):
        xs, ys = [], []
        for _ in range(1000 * n_stars):
            if len(xs) == n_stars:
                break
            x, y = rng.uniform(margin, size - margin, 2)
            if all(np.hypot(x - a, y - b) >= 14.0 for a, b in zip(xs, ys)):
                xs.append(x)
                ys.append(y)
        if len(xs) < n_stars:
            raise ValueError(f"cannot place {n_stars} stars 14 px apart on {size} px")
        fluxes = rng.uniform(30_000, 150_000, n_stars)
        base = np.zeros((size, size))
        for x, y, f in zip(xs, ys, fluxes):
            stars.append({"epoch_id": e, "x": x, "y": y, "flux": f})
            amp = f / (2 * np.pi * STAR_SIGMA ** 2)
            # The profile is below 1e-9 of its peak beyond 12 px.
            r0, c0 = int(y) - _STAMP, int(x) - _STAMP
            win = (slice(r0, r0 + 2 * _STAMP + 1), slice(c0, c0 + 2 * _STAMP + 1))
            base[win] += amp * np.exp(-((xx[win] - x) ** 2 + (yy[win] - y) ** 2)
                                      / (2 * STAR_SIGMA ** 2))
        for i in range(imgs_per_epoch):
            dx, dy = ((0, 0) if i == 0 else
                      (int(v) for v in rng.integers(-MAX_SHIFT, MAX_SHIFT + 1, 2)))
            img = np.roll(np.roll(base, dy, axis=0), dx, axis=1)
            img = img + 100.0 + rng.normal(0.0, 2.0, (size, size))
            fname = f"e{e:02d}_i{i}.fits"
            shifts.append({"epoch_id": e, "filename": fname, "dx": dx, "dy": dy})
            header = {"FILTER": "V", "AIRMASS": f"{1.2 + 0.01 * i:.2f}",
                      "EXPTIME": "60.0", "SITEID": "syn",
                      "DATE-OBS": f"2024-03-{1 + e // 4:02d}T{6 * (e % 4):02d}:{5 * i:02d}:00"}
            frames.append((fname, e, img.astype(np.float32), header))
    return frames, stars, shifts


def write_campaign(out_dir: str, seed: int, n_epochs: int, size: int,
                   n_stars: int) -> dict:
    """Write the campaign's FITS files, ``manifest.csv`` and
    ``truth.json``; return the truth (stars, shifts, counts)."""
    from telescope_data_pipeline_spark.sources.fits import write_fake_fits

    os.makedirs(out_dir, exist_ok=True)
    frames, stars, shifts = make_campaign(seed, n_epochs, size, n_stars)
    lines = []
    for fname, epoch, pixels, header in frames:
        write_fake_fits(os.path.join(out_dir, fname), pixels, header)
        lines.append(f"{fname},{epoch}")
    with open(os.path.join(out_dir, "manifest.csv"), "w") as f:
        f.write("\n".join(lines) + "\n")
    truth = {"n_epochs": n_epochs, "n_images": len(frames), "size": size,
             "stars": stars, "shifts": shifts}
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f)
    return truth
