"""Photometry / time-scale column expressions (SURVEY.md §2.8).

All pure ``pyspark.sql.functions`` compositions — JVM-side, codegen'd,
usable in any query. Each cites the reference formula it re-expresses.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: sigma -> FWHM scale (reference core.py:93: gaussian_sigma_to_fwhm).
GAUSSIAN_SIGMA_TO_FWHM = 2.3548200450309493

#: Unix epoch as Julian date (reference p_io.py:48-53 conversions).
JD_UNIX_EPOCH = 2440587.5


def mag(flux: Column) -> Column:
    """Instrumental magnitude ``-2.5*log10(flux)`` (p_io.py:111)."""
    return -2.5 * F.log10(flux)


def flux_from_mag(m: Column) -> Column:
    """Inverse of :func:`mag` — the round-trip invariant tested in
    tests/test_properties.py."""
    return F.pow(F.lit(10.0), -m / 2.5)


def mag_err(flux: Column, flux_err: Column) -> Column:
    """Magnitude error propagation ``1.08574*err/flux`` (p_io.py:112)."""
    return 1.08574 * flux_err / flux


def julian_date(ts: Column) -> Column:
    """Timestamp -> JD: ``unix_seconds/86400 + 2440587.5`` (p_io.py:50)."""
    return ts.cast("double") / 86400.0 + JD_UNIX_EPOCH


def phase_fold(t: Column, t0: float, period: float) -> Column:
    """``((t - t0) % P) / P`` (walkthrough cells 11-12)."""
    return ((t - F.lit(t0)) % F.lit(period)) / F.lit(period)
