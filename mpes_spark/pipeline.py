"""EventPipeline — the engine's ``dataframeProcessor`` analog.

The reference's workflow object (``dataframeProcessor``,
``/root/reference/mpes/fprocessing.py:2030-2486``) holds a lazy
dataframe and mutates it through filter / calibration / correction /
binning calls. Here the same surface is a thin fluent wrapper over an
immutable Spark DataFrame: every method returns a new pipeline whose
plan Catalyst fuses end-to-end, so "project -> filter -> transform ->
partial aggregate" compiles into one whole-stage-codegen'd scan, the
same fusion the reference obtains per dask partition (SURVEY §3 EP2).
A step that adds two columns (k axes, homography, TPS warp, dfield
lookup) adds them in one ``withColumns`` projection, so it costs one
analysis, and both read the step's input columns.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mpes_spark.binning.spec import BinAxis, axes_from_triples
from mpes_spark.grid.binned import BinnedArray
from mpes_spark.io.readers import normalize_event_time
from mpes_spark.sqltext import qcol
from mpes_spark.transforms import columns as C
from mpes_spark.transforms import corrections as X
from mpes_spark.transforms import energy as E
from mpes_spark.transforms import momentum as K


class EventPipeline:
    """Fluent, immutable event-table pipeline."""

    def __init__(self, df: DataFrame):
        self.df = df

    def _wrap(self, df: DataFrame) -> "EventPipeline":
        return EventPipeline(df)

    # -- generic column ops (SURVEY §2.2) --------------------------------

    def filter_range(self, col: str, lb: float | None = None, ub: float | None = None):
        return self._wrap(C.apply_filter(self.df, col, lb, ub))

    def with_column(self, name: str, expr: Column):
        return self._wrap(self.df.withColumn(name, expr))

    def drop_columns(self, *names: str):
        return self._wrap(self.df.drop(*names))

    def append_rows(self, *others: "EventPipeline"):
        return self._wrap(C.append_rows(self.df, *[o.df for o in others]))

    def append_marker(self, col: str, lbs, ubs, ths, marker_name: str = "marker"):
        return self._wrap(C.append_marker(self.df, col, lbs, ubs, ths, marker_name))

    def jitter(self, amps: dict[str, float], jitter_type: str = "uniform", seed: int | None = 42):
        return self._wrap(C.apply_jitter(self.df, amps, jitter_type, seed))

    # -- calibration axes (SURVEY §2.2 composite pipelines) ---------------

    def append_energy_axis_poly(self, a: Sequence[float], E0: float, t: str = "t", out: str = "E"):
        """``appendEAxis`` poly path (/root/reference/mpes/fprocessing.py:2391-2410)."""
        return self.with_column(out, E.tof2ev_poly_expr(a, E0, t))

    def append_energy_axis(self, d: float, t0: float, E0: float, t: str = "t", out: str = "E", **kw):
        """``appendEAxis`` d/(t-t0)^2 path."""
        return self.with_column(out, E.tof2ev_expr(d, t0, E0, t, **kw))

    def append_k_axis(
        self, x: str, y: str, x0: float, y0: float, fx: float, fy: float,
        out_x: str = "kx", out_y: str = "ky",
    ):
        """``appendKAxis`` (/root/reference/mpes/fprocessing.py:2378-2389)."""
        kx, ky = K.imxy2kxy_expr(x, y, x0, y0, fx, fy)
        return self._wrap(self.df.withColumns({out_x: kx, out_y: ky}))

    def apply_tof_correction(self, profile: str, t: str = "t", **kw):
        """``applyECorrection`` (/root/reference/mpes/fprocessing.py:2286-2343)."""
        return self.with_column(t, X.tof_correction_expr(profile, t=t, **kw))

    def apply_homography(self, M, x: str = "X", y: str = "Y", out_x: str = "Xm", out_y: str = "Ym"):
        """``applyKCorrection`` type='mattrans' (/root/reference/mpes/fprocessing.py:2345-2376)."""
        xt, yt = X.perspective_expr(x, y, M)
        return self._wrap(self.df.withColumns({out_x: xt, out_y: yt}))

    def apply_tps(self, coeffs: np.ndarray, points: np.ndarray, x: str = "X", y: str = "Y",
                  out_x: str = "Xm", out_y: str = "Ym"):
        """TPS warp as column math (/root/reference/mpes/dask_tps.py:42-53)."""
        xt, yt = (X.tps_expr(x, y, coeffs, points, which=w) for w in (0, 1))
        return self._wrap(self.df.withColumns({out_x: xt, out_y: yt}))

    def apply_dfield(self, dfield: np.ndarray, how: str = "join", **kw):
        """``applyKCorrection`` type='tps_matrix' -> ``dfieldapply``
        (reference ``mpes/base.py:530-539``) as a broadcast join
        against the flattened (2, H, W) field
        (:func:`~mpes_spark.transforms.corrections.apply_dfield_join`).
        An event outside the field (a negative pixel index, or one
        past H or W) and an event on a NaN cell of the field get NULL
        corrected coordinates, which binning drops. ``"join"`` is the
        only ``how``."""
        if how != "join":
            raise ValueError(f"unsupported dfield method {how!r}; only 'join'")
        lookup = X.dfield_table(self.df.sparkSession, dfield)
        return self._wrap(X.apply_dfield_join(self.df, lookup, **kw))

    # -- the aggregation (SURVEY §2.3) ------------------------------------

    def bin(
        self,
        axes: Sequence[str] | Sequence[BinAxis],
        nbins=None,
        ranges=None,
        jitter: dict[str, float] | None = None,
        seed: int | None = 42,
    ) -> BinnedArray:
        """``distributedBinning`` (/root/reference/mpes/fprocessing.py:2448-2486)."""
        from mpes_spark.binning.engine import bin_dataframe

        if axes and isinstance(axes[0], BinAxis):
            bin_axes = list(axes)  # type: ignore[arg-type]
        else:
            bin_axes = axes_from_triples(list(axes), nbins, ranges)  # type: ignore[arg-type]
        return bin_dataframe(self.df, bin_axes, jitter=jitter, seed=seed)

    def bin_sparse(self, axes: Sequence[BinAxis], **kw) -> DataFrame:
        from mpes_spark.binning.engine import bin_sparse

        return bin_sparse(self.df, axes, **kw)

    # -- diagnostics (viewEventHistogram / count rate, SURVEY §2.3) -------

    def view_event_histogram(
        self,
        axes: Sequence[str],
        nbins: int | Sequence[int] = 80,
        ranges: Sequence[tuple[float, float]] | None = None,
        sample_fraction: float | None = None,
        seed: int = 42,
    ) -> dict[str, "BinnedArray"]:
        """Quick per-axis 1-D histograms (``viewEventHistogram``,
        /root/reference/mpes/fprocessing.py:1038-1084): one bounded
        groupBy per axis, optionally over a seeded sample (the
        reference inspects a single partition; a Bernoulli sample is
        the distributed equivalent). Returns {axis: BinnedArray}."""
        from mpes_spark.binning.engine import bin_dataframe

        df = self.df
        if sample_fraction is not None:
            df = df.sample(fraction=sample_fraction, seed=seed)
        if isinstance(nbins, int):
            nbins = [nbins] * len(axes)
        if ranges is None:
            import math

            # one pass for all axis bounds
            aggs = []
            for a in axes:
                aggs += [F.min(a).alias(f"lo_{a}"), F.max(a).alias(f"hi_{a}")]
            row = df.agg(*aggs).collect()[0]
            ranges = []
            for a in axes:
                lo, hi = row[f"lo_{a}"], row[f"hi_{a}"]
                if lo is None or hi is None:
                    raise ValueError(f"cannot infer range for {a!r}: no rows")
                lo, hi = float(lo), float(hi)
                # nudge hi past the max so the half-open rule keeps the
                # max value; a fixed 1e-9 epsilon is absorbed at large
                # magnitudes (ulp(1.7e18) ~ 256)
                hi = hi + max(1e-9, 4 * math.ulp(abs(hi)))
                if not hi > lo:
                    lo, hi = lo - 0.5, hi + 0.5
                ranges.append((lo, hi))
        out = {}
        for a, n, r in zip(axes, nbins, ranges):
            out[a] = bin_dataframe(df, [BinAxis(a, nbins=n, lo=float(r[0]), hi=float(r[1]))])
        return out

    def count_rate(self, ts: str = "ts", unit: str = "1 second") -> DataFrame:
        """Events/interval trace (``getCountRate``,
        /root/reference/mpes/fprocessing.py:1086-1108): event-time
        tumbling-window counts over epoch-nanos ``ts`` (a TIMESTAMP
        column is converted by
        :func:`~mpes_spark.io.readers.normalize_event_time` first);
        ``win_start`` is epoch-nanos."""
        width_ns = _interval_ns(unit)
        # integer div: epoch-nanos exceed 2^53, double floor-divide
        # would misbucket events within ~256 ns of a boundary
        win = F.expr(f"({qcol(ts)} div {width_ns}) * {width_ns}")
        return (
            normalize_event_time(self.df, ts)
            .groupBy(win.alias("win_start"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    def elapsed_time(self, ts: str = "ts") -> DataFrame:
        """Scan duration in microseconds (``getElapsedTime``,
        /root/reference/mpes/fprocessing.py:1110-1119). Integer
        arithmetic on epoch-nanos (ns magnitudes exceed 2^53)."""
        x = qcol(ts)
        return normalize_event_time(self.df, ts).agg(
            F.expr(f"(max({x}) div 1000) - (min({x}) div 1000)").alias("elapsed_us")
        )

    # -- time-series analytics over the event stream (nanos ts path) -----

    def rollup(
        self, measure: str, bucket_ns: int, ts: str = "ts", keys=None
    ) -> DataFrame:
        """Mergeable (cnt/sum/min/max) time rollup — the cascade base;
        coarsen/merge/finalize via :mod:`mpes_spark.transforms.rollup`."""
        from mpes_spark.transforms.rollup import time_rollup

        return time_rollup(
            self.df, measure=measure, bucket_ns=bucket_ns, ts_col=ts, keys=keys
        )

    def anomalies(
        self,
        measure: str = "value",
        bucket_ns: int = 60_000_000_000,
        group: str = "event_type",
        window_buckets: int = 100,
        sigma: float = 3.0,
        ts: str = "ts",
    ) -> DataFrame:
        """Rolling z-score outliers over per-bucket per-group totals
        (the registry ``anomaly_zscore`` shape, parameterized): the
        trailing-window second moments run over the rollup relation,
        never the events; determinism via rounded raw moments."""
        from pyspark.sql.window import Window as W

        m = self.df.groupBy(
            group,
            F.expr(
                f"((`{ts}` - pmod(`{ts}`, {bucket_ns})) div {bucket_ns})"
            ).cast("long").alias("bucket"),
        ).agg(F.round(F.sum(measure), 2).alias("x"))
        win = (
            W.partitionBy(group).orderBy("bucket").rowsBetween(-window_buckets, -1)
        )
        w = m.select(
            group,
            "bucket",
            "x",
            F.count("x").over(win).cast("bigint").alias("nw"),
            F.round(F.sum("x").over(win).cast("double"), 2).alias("s1"),
            F.round(
                F.sum(F.col("x") * F.col("x")).over(win).cast("double"), 4
            ).alias("s2"),
        ).filter(F.col("nw") >= 20)
        mu = F.round(F.col("s1") / F.col("nw"), 6)
        sd = F.round(
            F.sqrt(
                (F.col("s2") - F.col("s1") * F.col("s1") / F.col("nw"))
                / (F.col("nw") - 1)
            ),
            6,
        )
        d = w.select(group, "bucket", "x", mu.alias("mu"), sd.alias("sd"))
        z = (F.col("x") - F.col("mu")) / F.col("sd")
        return d.filter((F.col("sd") > 0.001) & (F.abs(z) > sigma)).select(
            group, "bucket", "x", "mu", "sd", F.round(z, 4).alias("z")
        )

    def skew_profile(self, key: str) -> DataFrame:
        """Join-key skew diagnostics (:mod:`mpes_spark.diagnostics`)."""
        from mpes_spark.diagnostics import key_skew_profile

        return key_skew_profile(self.df, key)


_INTERVAL_UNITS_NS = {
    "millisecond": 1_000_000,
    "second": 1_000_000_000,
    "minute": 60_000_000_000,
    "hour": 3_600_000_000_000,
    "day": 86_400_000_000_000,
}


def _interval_ns(unit: str) -> int:
    """Parse ``'<n> <unit>'`` (the ``F.window`` duration syntax) to
    nanoseconds for the epoch-long tumbling-window path."""
    parts = unit.strip().split()
    if len(parts) == 1:
        n, name = 1, parts[0]
    else:
        n, name = int(parts[0]), parts[1]
    name = name.rstrip("s")
    if name not in _INTERVAL_UNITS_NS:
        raise ValueError(f"unsupported interval unit {unit!r}")
    return n * _INTERVAL_UNITS_NS[name]
