"""Energy-axis calibration transforms: time-of-flight -> energy.

Column factories parameterized by fitted calibration coefficients —
the Spark analog of the reference's ``MapParser`` partial-function
pattern (``/root/reference/mpes/base.py:280-286``). Each ``*_sql``
function is the one definition of its arithmetic: the Spark column is
``F.expr`` of it, and the DuckDB oracle runs the same text, so both
engines perform the same IEEE-754 double operations.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from mpes_spark.sqltext import dlit, qcol

#: electron rest mass / 2 in eV * s^2/m^2 as used by the reference
#: (``tof2ev``, /root/reference/mpes/base.py:435-458)
_ME_HALF = 2.84281e-12


def tof2ev_poly_expr(a: Sequence[float], E0: float, t: str = "t") -> Column:
    """Polynomial ToF->energy: ``E = sum_{d=1..n} a_d * t^d + E0``
    with ``a`` given highest-order first (``tof2evpoly``,
    ``/root/reference/mpes/base.py:406-432``), evaluated as a Horner
    chain, no UDF."""
    return F.expr(tof2ev_poly_sql(a, E0, qcol(t)))


def tof2ev_poly_sql(a: Sequence[float], E0: float, t_sql: str = "t") -> str:
    # Horner: E = ((...(a_n)*t + a_{n-1})*t + ... + a_1)*t + E0
    expr = dlit(a[0])
    for c in list(a)[1:]:
        expr = f"(({expr}) * {t_sql} + {dlit(c)})"
    return f"(({expr}) * {t_sql} + {dlit(E0)})"


def tof2ev_expr(
    d: float,
    t0: float,
    E0: float,
    t: str = "t",
    binwidth: float = 4.125e-12,
    binning: int = 1,
) -> Column:
    """Drift-distance ToF->energy: ``E = m_e/2 * (d / (t*binwidth*2^binning
    - t0))^2 + E0`` (``tof2ev``, ``/root/reference/mpes/base.py:435-458``).
    The square is written as a self-product so Spark and the SQL oracle
    execute the same multiply (no libm pow).

    Division is NULL-safe (``NULLIF``): a time exactly at ``t0`` yields
    NULL, which the bin-range filter then drops — mirroring the
    reference's numpy ``inf`` falling out of the histogram range
    (``/root/reference/mpes/base.py:435-458``). Under Spark 4 ANSI mode
    a raw zero denominator would instead abort the whole job (observed
    at sf0.1)."""
    return F.expr(tof2ev_sql(d, t0, E0, qcol(t), binwidth, binning))


def tof2ev_sql(
    d: float,
    t0: float,
    E0: float,
    t_sql: str = "t",
    binwidth: float = 4.125e-12,
    binning: int = 1,
) -> str:
    scale = float(binwidth) * float(2**binning)
    q = f"({dlit(d)} / NULLIF({t_sql} * {dlit(scale)} - {dlit(t0)}, {dlit(0.0)}))"
    return f"({dlit(_ME_HALF)} * {q} * {q} + {dlit(E0)})"
