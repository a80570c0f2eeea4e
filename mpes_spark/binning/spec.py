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
We pick one rule because it is exactly expressible as ANSI SQL that
Spark and the DuckDB oracle both run: ``index_sql`` is the one
definition of the bin arithmetic, which the batch engine, its live
(streaming) twin and the oracle all parse, so every engine performs
the same IEEE-754 double ops.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from mpes_spark.sqltext import dlit


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

    # ---- expression factories (one SQL definition, both engines) ----

    def index_sql(self, col_sql: str | None = None) -> str:
        x = col_sql or self.col
        return f"CAST(floor(({x} - {dlit(self.lo)}) / {dlit(self.step)}) AS BIGINT)"

    def in_domain_sql(self, col_sql: str | None = None) -> str:
        """The half-open value rule ``lo <= x < hi``."""
        x = col_sql or self.col
        return f"({x} >= {dlit(self.lo)} AND {x} < {dlit(self.hi)})"

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
