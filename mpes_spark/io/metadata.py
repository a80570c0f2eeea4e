"""Scan-metadata assembly (``dataframeProcessor.gather_metadata``,
/root/reference/mpes/fprocessing.py:2488-2689).

Builds the nested metadata dict that annotates a binned result:
timing (elapsed, count rate summary) computed distributed from the
event table, plus instrument-config resolution — aperture by interval
containment (:2604-2640) and lens mode by relative-tolerance vector
match (:2643-2660) — against small config relations. The EPICS HTTP
archive fetch of the reference is out of scope (no network); config
comes in as plain dicts/DataFrames.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mpes_spark.io.readers import normalize_event_time
from mpes_spark.sqltext import qcol


def resolve_aperture(value: float, intervals: list[tuple[float, float, str]]) -> str | None:
    """First config interval containing ``value`` -> label."""
    for v0, v1, label in intervals:
        if v0 <= value < v1:
            return label
    return None


def resolve_lens_mode(
    voltages: np.ndarray, mode_table: dict[str, np.ndarray], rtol: float = 0.005
) -> str | None:
    """Lens mode whose nominal voltage vector matches within ``rtol``
    (np.allclose semantics, the reference's 0.5% default)."""
    v = np.asarray(voltages, dtype=float)
    for mode, nominal in mode_table.items():
        n = np.asarray(nominal, dtype=float)
        if n.shape == v.shape and np.allclose(v, n, rtol=rtol, atol=0.0):
            return mode
    return None


def gather_metadata(
    events: DataFrame,
    ts: str = "ts",
    aperture_value: float | None = None,
    aperture_intervals: list[tuple[float, float, str]] | None = None,
    lens_voltages: np.ndarray | None = None,
    lens_mode_table: dict[str, np.ndarray] | None = None,
) -> dict:
    """Assemble the metadata dict in one scan: a single per-type
    groupBy carries count + min/max ts per group; totals and elapsed
    time reduce from those few rows on the driver. ``ts`` is read as
    epoch-nanos (:func:`~mpes_spark.io.readers.normalize_event_time`)."""
    x = qcol(ts)
    keys = ["event_type"] if "event_type" in events.columns else []
    rows = (
        normalize_event_time(events, ts)
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.expr(f"min({x}) div 1000 AS lo_us"),
            F.expr(f"max({x}) div 1000 AS hi_us"),
        )
        .collect()
    )
    n_events = sum(r.cnt for r in rows)
    los = [r.lo_us for r in rows if r.lo_us is not None]
    his = [r.hi_us for r in rows if r.hi_us is not None]
    elapsed_us = (max(his) - min(los)) if los and his else None
    by_type = {r.event_type: r.cnt for r in rows} if keys else {}

    md: dict = {
        "timing": {
            "n_events": n_events,
            "elapsed_s": elapsed_us / 1e6 if elapsed_us is not None else None,
            "mean_rate_hz": (
                n_events / (elapsed_us / 1e6) if elapsed_us else None
            ),
        },
        "counts_by_type": by_type,
        "instrument": {},
    }
    if aperture_value is not None and aperture_intervals:
        md["instrument"]["aperture"] = resolve_aperture(aperture_value, aperture_intervals)
    if lens_voltages is not None and lens_mode_table:
        md["instrument"]["lens_mode"] = resolve_lens_mode(lens_voltages, lens_mode_table)
    return md
