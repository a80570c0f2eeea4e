"""Binning parameter model.

The reference parameterizes its histogram aggregation with per-axis
``(axes, nbins, ranges)`` triples (``_addBinners``,
``/root/reference/mpes/fprocessing.py:997-1028``). ``BinAxis`` is that
triple, plus the engine's *documented* bin rule:

    bin k covers the half-open interval [lo + k*step, lo + (k+1)*step),
    step = (hi - lo) / nbins,  bin index = floor((x - lo) / step),
    rows with index outside [0, nbins) are dropped.

This is the reference's numba-kernel behavior
(``/root/reference/mpes/fprocessing.py:3538-3542``; its
``np.histogramdd`` path disagrees at the right edge — see SURVEY §2.3).
We pick one rule because it is exactly expressible both as a Spark
``Column`` and as ANSI SQL for the DuckDB oracle — ``index_expr`` and
``index_sql`` emit arithmetically identical expressions so both engines
perform the same IEEE-754 double ops.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def _flit(v: float) -> str:
    """Render a float as a full-precision SQL literal (shortest
    round-trip repr, so DuckDB parses the identical double)."""
    return repr(float(v))


@dataclass(frozen=True)
class BinAxis:
    """One histogram axis: a column of the binned DataFrame + regular
    grid. The column may be a plain scan column or a calibration
    expression; the engine tells them apart from the plan (see
    :func:`mpes_spark.binning.engine.with_bin_indices`)."""

    col: str
    nbins: int
    lo: float
    hi: float
    name: str | None = None  # output bin-index column name

    def __post_init__(self) -> None:
        if self.nbins <= 0:
            raise ValueError(f"nbins must be positive, got {self.nbins}")
        if not self.hi > self.lo:
            raise ValueError(f"need hi > lo, got [{self.lo}, {self.hi})")

    @property
    def out(self) -> str:
        return self.name or f"{self.col}_bin"

    @property
    def step(self) -> float:
        return (self.hi - self.lo) / self.nbins

    # ---- expression factories (Spark / SQL must stay identical) ----

    def index_expr(self, col: Column | None = None) -> Column:
        """Spark bin-index column: floor((x - lo) / step) as BIGINT."""
        x = F.col(self.col) if col is None else col
        return F.floor((x - F.lit(float(self.lo))) / F.lit(self.step)).cast("bigint")

    def index_sql(self, col_sql: str | None = None) -> str:
        """Identical arithmetic as ANSI SQL for the DuckDB oracle."""
        x = col_sql or self.col
        return (
            f"CAST(floor(({x} - {_flit(self.lo)}) / {_flit(self.step)}) AS BIGINT)"
        )

    def in_range_expr(self, bin_col: Column) -> Column:
        return (bin_col >= 0) & (bin_col < self.nbins)

    def in_range_sql(self, bin_sql: str) -> str:
        return f"({bin_sql} >= 0 AND {bin_sql} < {self.nbins})"

    # ---- axis coordinate values (driver-side, cf. u.calcax,
    #      /root/reference/mpes/utils.py:336-353) ----

    def edges(self) -> np.ndarray:
        return np.linspace(self.lo, self.hi, self.nbins + 1, endpoint=True)

    def centers(self) -> np.ndarray:
        e = self.edges()
        return (e[1:] + e[:-1]) / 2.0


def axes_from_triples(
    axes: list[str],
    nbins: list[int] | int,
    ranges: list[tuple[float, float]],
) -> list[BinAxis]:
    """Build BinAxis list from the reference's (axes, nbins, ranges)
    call signature (``distributedBinning``,
    ``/root/reference/mpes/fprocessing.py:2448-2486``)."""
    if isinstance(nbins, int):
        nbins = [nbins] * len(axes)
    if len(axes) != len(nbins) or len(axes) != len(ranges):
        raise ValueError("axes, nbins, ranges must have equal length")
    return [
        BinAxis(col=a, nbins=n, lo=float(r[0]), hi=float(r[1]))
        for a, n, r in zip(axes, nbins, ranges)
    ]
