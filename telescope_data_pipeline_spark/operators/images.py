"""Image-pipeline kernels: synthetic frames, FWHM, detection, align+stack.

Spark-first re-expression of the reference's per-image NumPy kernels
(SURVEY.md §2.10). Design rules:

- An image is ONE row (flat float array + width/height); parallelism is
  across images, never within one (reference images are 4096², well
  under a task's memory; fixture images are 128²).
- Per-image kernels are Arrow-batched pandas UDFs (``mapInPandas``) —
  one Python crossing per batch of images.
- Cross-image logic (alignment shifts, stacking) is expressed on
  DataFrames: the shift estimate is a grouped aggregate over the
  star-match table (reference core.py:148-213 ``calculate_shift`` +
  ``roll_image``), the stack a grouped ``applyInPandas`` (reference
  core.py:215-279 ``median_combiner``/``image_combiner``).
- numpy-only: the reference leans on scipy/photutils/astropy
  (curve_fit, DAOStarFinder, EPSFBuilder); the same measurements are
  made here with moment analysis and local-maxima detection, which are
  textbook methods and accurate on the planted-Gaussian fixtures.
"""

from __future__ import annotations

from collections.abc import Iterator
from datetime import datetime, timedelta

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import IMAGE

GAUSSIAN_SIGMA_TO_FWHM = 2.3548200450309493  # 2*sqrt(2*ln 2)
SATURATION = 50_000.0  # reference core.py:79 skip threshold


# ---------------------------------------------------------------------------
# Synthetic fixture (FIXTURES.md §B2): planted 2-D Gaussians, known truth.
# ---------------------------------------------------------------------------

def make_synthetic_images(
    spark: SparkSession,
    n_epochs: int = 4,
    imgs_per_epoch: int = 3,
    size: int = 128,
    n_stars: int = 12,
    bkg_level: float = 100.0,
    noise_sigma: float = 2.0,
    star_sigma: float = 1.8,
    seed: int = 42,
) -> tuple[DataFrame, pd.DataFrame, pd.DataFrame]:
    """Deterministic image set with planted stars.

    Returns (images_df, truth_stars, truth_shifts):
    - images_df: schemas.IMAGE rows; images within an epoch are shifted
      by known integer offsets ≤ 8 px (reference match cutoff is 20 px,
      core.py:172).
    - truth_stars: per-epoch star list (x, y, flux) in REFERENCE-image
      coordinates, including one saturated and one border star
      (exercised by the masking predicates, core.py:79 / core.py:309).
    - truth_shifts: (epoch_id, filename, dx, dy).
    """
    rng = np.random.default_rng(seed)
    rows, truth, shifts = [], [], []
    min_sep = 14.0  # isolate planted stars: aperture tests need clean
    # sources (blends are PSF-photometry territory); 14 px still sits
    # inside the 5·fwhm≈21 px crowding radius, so the mask is exercised.
    for e in range(n_epochs):
        xs, ys = np.empty(n_stars), np.empty(n_stars)
        placed = 0
        while placed < n_stars:
            x, y = rng.uniform(20, size - 20, 2)
            if placed == 0 or np.hypot(xs[:placed] - x, ys[:placed] - y).min() >= min_sep:
                xs[placed], ys[placed] = x, y
                placed += 1
        # amplitudes = flux/(2πσ²) ∈ [1.5k, 7.4k]: above the 1000-count
        # faint floor (core.py:107-113), below the 50k saturation.
        fluxes = rng.uniform(30_000, 150_000, n_stars)
        fluxes[0] = 3.0e6          # saturated peak ≫ 50k (core.py:79)
        xs[1], ys[1] = 4.0, 4.0    # border star (core.py:309-310)
        for k in range(n_stars):
            truth.append({"epoch_id": e, "star": k, "x": xs[k], "y": ys[k],
                          "flux": fluxes[k]})
        yy, xx = np.mgrid[0:size, 0:size]
        base = np.zeros((size, size), dtype=np.float64)
        for k in range(n_stars):
            a = fluxes[k] / (2 * np.pi * star_sigma**2)
            base += a * np.exp(-(((xx - xs[k]) ** 2 + (yy - ys[k]) ** 2)
                                 / (2 * star_sigma**2)))
        for i in range(imgs_per_epoch):
            dx, dy = (0, 0) if i == 0 else tuple(rng.integers(-8, 9, 2))
            img = np.roll(np.roll(base, dy, axis=0), dx, axis=1)
            img += bkg_level + rng.normal(0, noise_sigma, (size, size))
            fname = f"e{e:02d}_i{i}.fits"
            shifts.append({"epoch_id": e, "filename": fname, "dx": int(dx),
                           "dy": int(dy)})
            rows.append((
                fname, e, "V", size, size,
                img.astype(np.float32).ravel().tolist(),
                1.2 + 0.01 * i,
                datetime(2024, 3, 1) + timedelta(hours=6 * e, minutes=5 * i),
                60.0, "syn", {"ORIGIN": "synthetic"},
            ))
    images = spark.createDataFrame(rows, schema=IMAGE)
    return images, pd.DataFrame(truth), pd.DataFrame(shifts)


# ---------------------------------------------------------------------------
# FWHM estimation (reference core.py:52-114 find_fwhm).
# ---------------------------------------------------------------------------

FWHM_SCHEMA = T.StructType([
    T.StructField("filename", T.StringType(), False),
    T.StructField("epoch_id", T.IntegerType(), False),
    T.StructField("fwhm", T.DoubleType(), True),
    T.StructField("sigma", T.DoubleType(), True),
])


def measure_fwhm(images: DataFrame, cut_half: int = 8) -> DataFrame:
    """Per-image FWHM from the brightest unsaturated star.

    Mirrors the reference loop (core.py:72-105): take the highest peak,
    skip if saturated (>= 50k) or too faint (< 1000 above background),
    measure the width, iterate over candidates (cap 100, core.py:106).
    Failure → null (the reference's 0-sentinel, core.py:95, becomes a
    proper NULL per SURVEY.md §1)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                img = np.asarray(row["pixels"], dtype=np.float64).reshape(
                    row["height"], row["width"]).copy()
                bkg = float(np.median(img))
                sigma = None
                for _ in range(100):
                    iy, ix = np.unravel_index(np.argmax(img), img.shape)
                    peak = img[iy, ix] - bkg
                    if peak < 1000:            # core.py:107-113 abort
                        break
                    y0, y1 = max(iy - cut_half, 0), iy + cut_half + 1
                    x0, x1 = max(ix - cut_half, 0), ix + cut_half + 1
                    cut = img[y0:y1, x0:x1] - bkg
                    img[y0:y1, x0:x1] = bkg    # mask region (core.py:99-103)
                    if img[iy, ix] >= SATURATION or peak + bkg >= SATURATION:
                        continue               # skip saturated (core.py:79)
                    # FWHM from the half-max area: a Gaussian's region
                    # above A/2 has area π(FWHM/2)² — exact, and immune
                    # to neighbors fainter than half this star's peak
                    # (the blending that biases second moments).
                    n_half = int((cut >= peak / 2).sum())
                    s = 2.0 * np.sqrt(n_half / np.pi) / GAUSSIAN_SIGMA_TO_FWHM
                    if 0.3 < s < 10:
                        sigma = s
                        break
                out.append({
                    "filename": row["filename"], "epoch_id": row["epoch_id"],
                    "fwhm": None if sigma is None else sigma * GAUSSIAN_SIGMA_TO_FWHM,
                    "sigma": sigma,
                })
            yield pd.DataFrame(out)

    return images.mapInPandas(kernel, schema=FWHM_SCHEMA)


# ---------------------------------------------------------------------------
# Star detection (reference core.py:116-146 find_stars — UDTF shape).
# ---------------------------------------------------------------------------

DETECT_SCHEMA = T.StructType([
    T.StructField("filename", T.StringType(), False),
    T.StructField("epoch_id", T.IntegerType(), False),
    T.StructField("id", T.LongType(), False),
    T.StructField("xcentroid", T.DoubleType(), False),
    T.StructField("ycentroid", T.DoubleType(), False),
    T.StructField("npix", T.IntegerType(), True),
    T.StructField("sky", T.DoubleType(), True),
    T.StructField("peak", T.DoubleType(), True),
    T.StructField("flux", T.DoubleType(), True),
    T.StructField("mag", T.DoubleType(), True),
])


def detect_stars(images: DataFrame, threshold_sigma: float = 10.0,
                 box: int = 5, ap_radius: int = 6) -> DataFrame:
    """Local-maxima star finder: one image row → N detection rows.

    Threshold = sky + threshold_sigma * clipped_std (reference
    core.py:141-143 uses bkg + 10·σ with σ from sigma_clipped_stats).
    Centroid from intensity-weighted moments in a ``box`` window;
    aperture flux within ``ap_radius``. mag = -2.5 log10(flux)
    (p_io.py:111)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            frames = []
            for _, row in pdf.iterrows():
                img = np.asarray(row["pixels"], dtype=np.float64).reshape(
                    row["height"], row["width"])
                # Robust background stats via MAD — a plain std is
                # star-inflated, which would push the threshold above
                # every real source (sigma_clipped_stats analog).
                sky = float(np.median(img))
                std = float(1.4826 * np.median(np.abs(img - sky)))
                thr = sky + threshold_sigma * std
                h = box // 2
                # 3x3 local maximum above threshold, excluding borders.
                core = img[1:-1, 1:-1]
                neigh = np.stack([img[1 + dy:img.shape[0] - 1 + dy,
                                      1 + dx:img.shape[1] - 1 + dx]
                                  for dy in (-1, 0, 1) for dx in (-1, 0, 1)
                                  if (dy, dx) != (0, 0)])
                is_peak = (core > thr) & (core >= neigh.max(axis=0))
                ys, xs = np.nonzero(is_peak)
                recs, sid = [], 0
                for py, px in zip(ys + 1, xs + 1):
                    y0, y1 = max(py - h, 0), py + h + 1
                    x0, x1 = max(px - h, 0), px + h + 1
                    cut = np.clip(img[y0:y1, x0:x1] - sky, 0, None)
                    tot = cut.sum()
                    if tot <= 0:
                        continue
                    cyy, cxx = np.mgrid[y0:y1, x0:x1]
                    cx = float((cxx * cut).sum() / tot)
                    cy = float((cyy * cut).sum() / tot)
                    ay0, ay1 = max(py - ap_radius, 0), py + ap_radius + 1
                    ax0, ax1 = max(px - ap_radius, 0), px + ap_radius + 1
                    flux = float(np.clip(img[ay0:ay1, ax0:ax1] - sky, 0, None).sum())
                    recs.append({
                        "filename": row["filename"], "epoch_id": row["epoch_id"],
                        "id": sid, "xcentroid": cx, "ycentroid": cy,
                        "npix": int((cut > 0).sum()), "sky": sky,
                        "peak": float(img[py, px]),
                        "flux": flux,
                        "mag": float(-2.5 * np.log10(flux)) if flux > 0 else None,
                    })
                    sid += 1
                if recs:
                    frames.append(pd.DataFrame(recs))
            yield (pd.concat(frames) if frames
                   else pd.DataFrame(columns=[f.name for f in DETECT_SCHEMA]))

    return images.mapInPandas(kernel, schema=DETECT_SCHEMA)


# ---------------------------------------------------------------------------
# Alignment (reference core.py:148-213) — DataFrame ops via the NN join.
# ---------------------------------------------------------------------------

def estimate_shifts(detections: DataFrame, max_dist: float = 20.0) -> DataFrame:
    """Per-image integer shift vs the epoch's reference image (first
    filename): NN-match stars (grid-bucketed join), median dx/dy,
    round to int (core.py:203-208). Pure DataFrame ops — the O(n·m)
    reference loop becomes a bucketed equi-join."""
    ref_name = detections.groupBy("epoch_id").agg(
        F.min("filename").alias("ref_file"))
    ref = (detections.join(F.broadcast(ref_name), "epoch_id")
           .filter(F.col("filename") == F.col("ref_file"))
           .select("epoch_id",
                   F.col("xcentroid").alias("rx"), F.col("ycentroid").alias("ry")))
    other = (detections.join(F.broadcast(ref_name), "epoch_id")
             .filter(F.col("filename") != F.col("ref_file"))
             .select("epoch_id", "filename", "id", "xcentroid", "ycentroid"))

    # Match within each epoch: bucket on (epoch, cellx, celly).
    cell = lambda c: F.floor(c / F.lit(max_dist)).cast("long")  # noqa: E731
    r = ref.withColumn("cx", cell(F.col("rx"))).withColumn("cy", cell(F.col("ry")))
    offs = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    r_exp = r.withColumn(
        "o", F.explode(F.array(*[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b")) for a, b in offs]))
    ).select("epoch_id", "rx", "ry",
             (F.col("cx") + F.col("o.a")).alias("cx"),
             (F.col("cy") + F.col("o.b")).alias("cy"))
    o = (other.withColumn("cx", cell(F.col("xcentroid")))
              .withColumn("cy", cell(F.col("ycentroid"))))
    cand = (o.join(r_exp, on=["epoch_id", "cx", "cy"])
            .withColumn("dist", F.sqrt(F.pow(F.col("xcentroid") - F.col("rx"), 2)
                                       + F.pow(F.col("ycentroid") - F.col("ry"), 2)))
            .filter(F.col("dist") < max_dist))
    from pyspark.sql import Window as W
    best = (cand.withColumn("rn", F.row_number().over(
                W.partitionBy("epoch_id", "filename", "id")
                 .orderBy("dist", "rx", "ry")))
            .filter(F.col("rn") == 1))
    return (best.groupBy("epoch_id", "filename")
            .agg(F.round(F.median(F.col("rx") - F.col("xcentroid")), 0)
                  .cast("int").alias("dx"),
                 F.round(F.median(F.col("ry") - F.col("ycentroid")), 0)
                  .cast("int").alias("dy"),
                 F.count(F.lit(1)).alias("n_matched")))


STACK_SCHEMA = T.StructType([
    T.StructField("epoch_id", T.IntegerType(), False),
    T.StructField("band", T.StringType(), True),
    T.StructField("width", T.IntegerType(), False),
    T.StructField("height", T.IntegerType(), False),
    T.StructField("pixels", T.ArrayType(T.FloatType()), False),
    T.StructField("n_images", T.IntegerType(), False),
])


def align_and_stack(images: DataFrame, shifts: DataFrame,
                    clip_sigma: float = 2.0) -> DataFrame:
    """Shift each image onto the epoch reference (np.roll semantics,
    core.py:209) and sigma-clipped median-combine per epoch
    (core.py:215-243). Grouped applyInPandas: N image rows → 1 stacked
    row; the shuffle key is epoch_id, matching the reference's
    per-image-set independence. Single-image epochs pass through
    (psf_phot.py:57-67 edge case)."""
    joined = images.join(shifts.select("epoch_id", "filename", "dx", "dy"),
                         on=["epoch_id", "filename"], how="left") \
                   .fillna({"dx": 0, "dy": 0})

    def stack(pdf: pd.DataFrame) -> pd.DataFrame:
        w, h = int(pdf["width"].iloc[0]), int(pdf["height"].iloc[0])
        planes = []
        for _, row in pdf.iterrows():
            img = np.asarray(row["pixels"], dtype=np.float64).reshape(h, w)
            planes.append(np.roll(np.roll(img, int(row["dy"]), axis=0),
                                  int(row["dx"]), axis=1))
        cube = np.stack(planes)
        if len(planes) > 1:
            med = np.median(cube, axis=0)
            std = cube.std(axis=0)
            mask = np.abs(cube - med) > clip_sigma * std
            clipped = np.ma.masked_array(cube, mask=mask)
            stacked = np.ma.median(clipped, axis=0).filled(med)
        else:
            stacked = cube[0]
        return pd.DataFrame([{
            "epoch_id": int(pdf["epoch_id"].iloc[0]),
            "band": pdf["band"].iloc[0], "width": w, "height": h,
            "pixels": stacked.astype(np.float32).ravel(),
            "n_images": len(planes),
        }])

    return joined.groupBy("epoch_id").applyInPandas(stack, schema=STACK_SCHEMA)
