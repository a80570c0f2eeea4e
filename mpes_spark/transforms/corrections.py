"""Distortion / wavefront corrections on the event table.

Covers the reference's correction surface:
- ToF wavefront corrections, 4 radial profiles (``applyECorrection``,
  ``/root/reference/mpes/fprocessing.py:2286-2343``),
- projective/homography coordinate transform (``perspectiveTransform``,
  ``/root/reference/mpes/base.py:650-668``; ``applyKCorrection`` type
  'mattrans', ``/root/reference/mpes/fprocessing.py:2345-2376``),
- thin-plate-spline warp evaluated as one column expression
  (``dask_tps._calculate_f``, ``/root/reference/mpes/dask_tps.py:42-53``),
- inverse deformation-field lookup (``dfieldapply``,
  ``/root/reference/mpes/base.py:530-539``) as a broadcast join against
  the flattened field.

Everything scalar-parameterized is one SQL expression per output
column: the ``*_sql`` function is the one definition of its
arithmetic, run by DuckDB as is and by Spark through ``F.expr`` (one
py4j call per column; JVM-side and codegen'd). The dfield lookup is
join-shaped so Spark broadcasts the (at most 2048x2048-row) table and
keeps the probe side shuffle-free.
Scalar constants are folded in Python so the SQL oracle sees identical
literals.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mpes_spark.sqltext import dlit, qcol


# ---------------------------------------------------------------------------
# ToF wavefront corrections (applyECorrection)
# ---------------------------------------------------------------------------

def _r2_sql(x: str, y: str, xc: float, yc: float) -> str:
    return (
        f"(({x} - {dlit(xc)}) * ({x} - {dlit(xc)}) + "
        f"({y} - {dlit(yc)}) * ({y} - {dlit(yc)}))"
    )


def tof_correction_expr(
    profile: str,
    t: str = "t",
    x: str = "X",
    y: str = "Y",
    center: tuple[float, float] = (650.0, 650.0),
    amplitude: float = -1.0,
    **kwds,
) -> Column:
    """Corrected ToF column ``t + f(X, Y)`` for one of the four radial
    profiles of ``applyECorrection``
    (``/root/reference/mpes/fprocessing.py:2286-2343``). ``center`` is
    (row, column) = (ycenter, xcenter), matching the reference."""
    return F.expr(
        tof_correction_sql(profile, qcol(t), qcol(x), qcol(y), center, amplitude, **kwds)
    )


def tof_correction_sql(
    profile: str,
    t: str = "t",
    x: str = "X",
    y: str = "Y",
    center: tuple[float, float] = (650.0, 650.0),
    amplitude: float = -1.0,
    **kwds,
) -> str:
    yc, xc = float(center[0]), float(center[1])
    amp = float(amplitude)
    r2 = _r2_sql(x, y, xc, yc)

    if profile == "spherical":
        d = float(kwds.get("d", 0.9))
        t0 = float(kwds.get("t0", 0.06))
        inv_d2 = 1.0 / (d * d)
        one = dlit(1.0)
        corr = f"((sqrt({one} + {r2} * {dlit(inv_d2)}) - {one}) * {dlit(t0 * amp)})"
    elif profile == "lorentzian":
        gam = float(kwds.get("gamma", 300.0))
        pref = amp / (gam * math.pi) * gam * gam
        corr = f"({dlit(pref)} / ({r2} + {dlit(gam * gam)}))"
    elif profile == "gaussian":
        sig = float(kwds.get("sigma", 300.0))
        pref = amp / math.sqrt(2.0 * math.pi * sig * sig)
        corr = f"({dlit(pref)} * exp(-{r2} / {dlit(2.0 * sig * sig)}))"
    elif profile == "lorentzian_asymmetric":
        gam = float(kwds.get("gamma", 300.0))
        gam2 = float(kwds.get("gamma2", 300.0))
        amp2 = float(kwds.get("amplitude2", -1.0))
        pref = amp / (gam * math.pi) * gam * gam
        pref2 = amp2 / (gam2 * math.pi) * gam2 * gam2
        dy = f"(({y} - {dlit(yc)}) * ({y} - {dlit(yc)}))"
        dx = f"(({x} - {dlit(xc)}) * ({x} - {dlit(xc)}))"
        corr = (
            f"({dlit(pref)} / ({dy} + {dlit(gam * gam)}) + "
            f"{dlit(pref2)} / ({dx} + {dlit(gam2 * gam2)}))"
        )
    else:
        raise NotImplementedError(f"unknown ToF correction profile {profile!r}")
    return f"({t} + {corr})"


# ---------------------------------------------------------------------------
# Homography (perspective transform)
# ---------------------------------------------------------------------------

def perspective_expr(x: str, y: str, M: Sequence[Sequence[float]]) -> tuple[Column, Column]:
    """Projective transform ``(x, y) -> ((M00 x + M01 y + M02)/den, ...)``
    with ``den = M20 x + M21 y + M22`` (``perspectiveTransform``,
    ``/root/reference/mpes/base.py:650-668``)."""
    xt, yt = perspective_sql(qcol(x), qcol(y), M)
    return F.expr(xt), F.expr(yt)


def perspective_sql(x: str, y: str, M: Sequence[Sequence[float]]) -> tuple[str, str]:
    M = np.asarray(M, dtype=float)
    den = f"({dlit(M[2,0])} * {x} + {dlit(M[2,1])} * {y} + {dlit(M[2,2])})"
    xt = f"(({dlit(M[0,0])} * {x} + {dlit(M[0,1])} * {y} + {dlit(M[0,2])}) / {den})"
    yt = f"(({dlit(M[1,0])} * {x} + {dlit(M[1,1])} * {y} + {dlit(M[1,2])}) / {den})"
    return xt, yt


# ---------------------------------------------------------------------------
# Thin-plate-spline warp
# ---------------------------------------------------------------------------

def tps_expr(x: str, y: str, coeffs: np.ndarray, points: np.ndarray, which: int = 0) -> Column:
    """Evaluate a fitted TPS warp for one output coordinate as one
    column expression: ``a1 + ax*x + ay*y + sum_i w_i * U(r_i)`` with
    ``U(r) = r^2 * ln(r)`` (Bookstein; ``_calculate_f`` /
    ``_U_dask``, ``/root/reference/mpes/dask_tps.py:26-53``). ``coeffs``
    is the (n+3, 2) solution of :func:`mpes_spark.calibrate.tps.tps_coeffs`;
    ``which`` selects the output column (0=row, 1=col).

    The r -> 0 kernel limit (U(0) = 0) is realized branch-free as
    ``0.5 * r2 * ln(r2 + 5e-324)``: at r2 = 0 the product is exactly
    0.0 (finite log times zero), and the denormal offset is far below
    double noise for any physical r2. Branch-free matters: the WHEN
    form doubled the expression tree and, multiplied across bin
    filters, pushed whole-stage codegen past its compile budget."""
    return F.expr(tps_sql(qcol(x), qcol(y), coeffs, points, which))


def tps_sql(
    x: str, y: str, coeffs: np.ndarray, points: np.ndarray, which: int = 0
) -> str:
    co = np.asarray(coeffs, dtype=float)[:, which]
    w, (a1, ax, ay) = co[:-3], co[-3:]
    terms = [f"{dlit(a1)} + {dlit(ax)} * {x} + {dlit(ay)} * {y}"]
    for wi, (px, py) in zip(w, np.asarray(points, dtype=float)):
        r2 = _r2_sql(x, y, float(px), float(py))
        u = f"({dlit(0.5)} * {r2} * ln({r2} + {dlit(5e-324)}))"
        terms.append(f"{dlit(wi)} * {u}")
    return "(" + " + ".join(terms) + ")"


# ---------------------------------------------------------------------------
# Inverse deformation-field lookup (dfieldapply)
# ---------------------------------------------------------------------------

def dfield_table(spark: SparkSession, dfield: np.ndarray) -> DataFrame:
    """Flatten a (2, H, W) inverse deformation field into a lookup
    relation ``(xi, yi, newX, newY)`` suitable for a broadcast join —
    the join-shaped re-expression of ``dfieldapply``
    (``/root/reference/mpes/base.py:530-539``). NaN boundary cells (cf.
    ``generateDfield``, ``/root/reference/mpes/base.py:570-572``) are
    kept; downstream filters drop them."""
    _, h, wdt = dfield.shape
    xi, yi = np.meshgrid(np.arange(h), np.arange(wdt), indexing="ij")
    pdf = pd.DataFrame(
        {
            "xi": xi.ravel().astype("int32"),
            "yi": yi.ravel().astype("int32"),
            "newX": dfield[0].ravel().astype("float64"),
            "newY": dfield[1].ravel().astype("float64"),
        }
    )
    return spark.createDataFrame(pdf)


# Broadcast budget for the dfield lookup relation: full detector
# resolution (2048 x 2048) flattens to 4.19e6 rows x 24 B
# (int32 xi, int32 yi, float64 newX, float64 newY) = 96 MiB raw
# columnar. The JVM HashedRelation roughly doubles that in executor
# memory — still well under a 4 GiB executor, and constant in event
# count, so the broadcast is safe at any corpus scale. Asserted at
# full resolution in tests/test_dfield_production.py.
DFIELD_BROADCAST_BUDGET_BYTES = 160 * 2**20


def dfield_broadcast_bytes(shape: tuple[int, int]) -> int:
    """Raw columnar size estimate of ``dfield_table`` for an (H, W)
    field: rows x (4 + 4 + 8 + 8) bytes."""
    h, w = shape
    return h * w * 24


def apply_dfield_join(
    df: DataFrame,
    lookup: DataFrame,
    x: str = "X",
    y: str = "Y",
    new_x: str = "Xm",
    new_y: str = "Ym",
) -> DataFrame:
    """Per-event inverse-deformation lookup via broadcast-hash join on
    the truncated integer pixel index (int16 cast in the reference,
    ``/root/reference/mpes/base.py:538``). The lookup table is at most
    2048^2 rows (96 MiB raw, see ``DFIELD_BROADCAST_BUDGET_BYTES``) —
    always broadcastable; the event side stays shuffle-free."""
    keyed = df.withColumns(
        {"_xi": F.expr(f"CAST({qcol(x)} AS INT)"), "_yi": F.expr(f"CAST({qcol(y)} AS INT)")}
    )
    out = keyed.join(F.broadcast(lookup), F.expr("_xi = xi AND _yi = yi"), "left")
    return out.withColumns({new_x: F.col("newX"), new_y: F.col("newY")}).drop(
        "_xi", "_yi", "xi", "yi", "newX", "newY"
    )

