"""SQL text shared by the Spark plans and their DuckDB oracle twins.

A calibration or binning column is written once, as SQL text, and
evaluated by Spark (``F.expr``, one py4j call instead of one per
``Column`` operator) and by DuckDB from the same string, so both
engines run the same IEEE-754 double operations.
"""

from __future__ import annotations

import math


def dlit(v: float) -> str:
    """A DOUBLE literal that both engines parse to the same double.

    The shortest round-trip ``repr`` is written in exponent form: Spark
    and DuckDB both parse ``1024.0`` as a DECIMAL(5,1) but ``1024.0e0``
    as a DOUBLE. A negative zero is negated (``-0.0e0`` would be the
    literal ``0.0`` in Spark), and a non-finite value is a cast."""
    v = float(v)
    if not math.isfinite(v):
        return f"CAST('{v!r}' AS DOUBLE)"
    if v == 0.0 and math.copysign(1.0, v) < 0:
        return "-(0.0e0)"
    r = repr(v)
    return r if "e" in r else f"{r}e0"


def qcol(name: str) -> str:
    """A Spark column name, backtick-quoted."""
    return "`" + name.replace("`", "``") + "`"
