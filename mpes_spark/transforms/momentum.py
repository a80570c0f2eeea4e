"""Momentum-axis calibration transforms: detector/image pixels -> k.

All linear arithmetic (``/root/reference/mpes/base.py:461-527``). Each
``*_sql`` function is the one definition of its arithmetic, run by
DuckDB as is and by Spark through ``F.expr``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from mpes_spark.sqltext import dlit, qcol


def imxy2kxy_expr(
    x: str, y: str, x0: float, y0: float, fx: float, fy: float
) -> tuple[Column, Column]:
    """Binned-image (x, y) -> (kx, ky): ``k = f * (p - p0)``
    (``imxy2kxy``, ``/root/reference/mpes/base.py:461-477``; ``imrc2krc``
    ``:506-514`` is the same form in row/col order)."""
    kx, ky = imxy2kxy_sql(qcol(x), qcol(y), x0, y0, fx, fy)
    return F.expr(kx), F.expr(ky)


def imxy2kxy_sql(x: str, y: str, x0: float, y0: float, fx: float, fy: float) -> tuple[str, str]:
    return (
        f"({dlit(fx)} * ({x} - {dlit(x0)}))",
        f"({dlit(fy)} * ({y} - {dlit(y0)}))",
    )


def detxy2kxy_expr(
    xdet: str,
    ydet: str,
    xstart: float,
    ystart: float,
    x0: float,
    y0: float,
    fx: float,
    fy: float,
    xstep: float,
    ystep: float,
) -> tuple[Column, Column]:
    """Raw detector pixels -> (kx, ky) with binning offset/step:
    ``k = f * ((pdet - (start + step*p0)) / step)`` (``detxy2kxy``,
    ``/root/reference/mpes/base.py:480-503``; ``detrc2krc`` ``:517-527``
    is the row/col-ordered variant). The binned-center offset
    ``start + step*p0`` is folded into a Python-side constant so both
    engines see one literal."""
    kx, ky = detxy2kxy_sql(
        qcol(xdet), qcol(ydet), xstart, ystart, x0, y0, fx, fy, xstep, ystep
    )
    return F.expr(kx), F.expr(ky)


def detxy2kxy_sql(
    xdet: str,
    ydet: str,
    xstart: float,
    ystart: float,
    x0: float,
    y0: float,
    fx: float,
    fy: float,
    xstep: float,
    ystep: float,
) -> tuple[str, str]:
    xdet0 = float(xstart) + float(xstep) * float(x0)
    ydet0 = float(ystart) + float(ystep) * float(y0)
    return (
        f"({dlit(fx)} * (({xdet} - {dlit(xdet0)}) / {dlit(xstep)}))",
        f"({dlit(fy)} * (({ydet} - {dlit(ydet0)}) / {dlit(ystep)}))",
    )
