"""Output checks, run outside every timed region.

- Query results are compared order-insensitively with the repository's
  own oracle comparison (``tests/oracle_utils.py``: columns sorted by
  name, values canonicalised bit-exactly, rows sorted), then hashed. A
  query with a DuckDB oracle must hash-match the oracle over the same
  parquet files; a rows-only query must match its own first validation
  pass.
- Campaign outputs are checked against the planted truth: every planted
  star recovered within 1 px, one CSV partition, one FITS file, one PDF
  page and one TXT line per epoch, and the same photometry row count on
  every pass.
"""

from __future__ import annotations

import csv
import glob
import hashlib
import os
import re
from dataclasses import dataclass

import numpy as np
import pandas as pd

from tests.oracle_utils import canonical_rows, run_oracle


@dataclass(frozen=True)
class Digest:
    rows: int
    sha: str


def digest(pdf: pd.DataFrame) -> Digest:
    cols, rows = canonical_rows(pdf)
    h = hashlib.sha256(repr((cols, rows)).encode())
    return Digest(len(rows), h.hexdigest())


def oracle_digest(sf_dir: str, sql: str) -> Digest:
    """Digest of a DuckDB oracle run over the parquet tables in ``sf_dir``."""
    return digest(run_oracle(sql, sf_dir))


# ---------------------------------------------------------------------------
# Campaign
# ---------------------------------------------------------------------------

_PAGE = re.compile(rb"/Type\s*/Page\b")


def read_photometry(out_dir: str) -> dict[int, list[dict]]:
    """CSV sink rows per epoch: ``{epoch: [row, ...]}``."""
    rows: dict[int, list[dict]] = {}
    for path in glob.glob(os.path.join(out_dir, "csv", "epoch_id=*", "*.csv")):
        epoch = int(os.path.basename(os.path.dirname(path)).split("=", 1)[1])
        with open(path, newline="") as f:
            rows.setdefault(epoch, []).extend(csv.DictReader(f))
    return rows


def sink_checks(out_dir: str, n_epochs: int) -> dict[str, bool]:
    """One CSV partition, FITS file, PDF page and TXT line per epoch."""
    epochs = set(range(n_epochs))
    csv_dirs = glob.glob(os.path.join(out_dir, "csv", "epoch_id=*"))
    csv_ok = ({int(d.rsplit("=", 1)[1]) for d in csv_dirs} == epochs and
              all(len(glob.glob(os.path.join(d, "*.csv"))) == 1 for d in csv_dirs))
    fits = {os.path.basename(p) for p in glob.glob(os.path.join(out_dir, "fits", "*.fits"))}
    fits_ok = fits == {f"stacked_e{e}.fits" for e in epochs}
    pdf_path = os.path.join(out_dir, "pdf", "diagnostics.pdf")
    pdf_ok = (os.path.isfile(pdf_path) and
              len(_PAGE.findall(open(pdf_path, "rb").read())) == n_epochs)
    lines = []
    for p in glob.glob(os.path.join(out_dir, "txt", "stats.txt", "part-*")):
        with open(p) as f:
            lines += [ln for ln in f.read().splitlines() if ln]
    txt_epochs = sorted(int(ln.split()[1].rstrip(":")) for ln in lines)
    txt_ok = txt_epochs == sorted(epochs)
    return {"csv": csv_ok, "fits": fits_ok, "pdf": pdf_ok, "txt": txt_ok}


def stars_recovered(photometry: dict[int, list[dict]], stars: list[dict],
                    tol_px: float = 1.0) -> tuple[int, int]:
    """(recovered, planted): planted stars with a fitted position within
    ``tol_px`` in the stacked (reference-exposure) frame."""
    found = 0
    for s in stars:
        rows = photometry.get(s["epoch_id"], [])
        if not rows:
            continue
        xy = np.array([[float(r["x_fit"]), float(r["y_fit"])] for r in rows])
        if np.hypot(xy[:, 0] - s["x"], xy[:, 1] - s["y"]).min() < tol_px:
            found += 1
    return found, len(stars)
