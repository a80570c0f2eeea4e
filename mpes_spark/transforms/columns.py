"""Generic event-table column operators.

Spark-first re-expression of ``dataframeProcessor``'s column surface
(``/root/reference/mpes/fprocessing.py:2152-2445``): every operator is
a pure DataFrame transformation built from native (JVM) expressions —
they compose lazily and Catalyst fuses the whole chain into the
binning scan (whole-stage codegen), exactly the fusion the reference
gets by evaluating the dask graph per partition. Range predicates and
the threshold marker are written once as SQL text (``*_sql``), which
Spark parses with one py4j call and the DuckDB oracle runs as is.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mpes_spark.sqltext import dlit, qcol


def apply_filter(
    df: DataFrame, col: str, lb: float | None = None, ub: float | None = None
) -> DataFrame:
    """Open-interval range predicate ``lb < col < ub`` — composable,
    same semantics as ``applyFilter``
    (``/root/reference/mpes/fprocessing.py:2185-2203``). Pushed down to
    the parquet scan by Catalyst."""
    x = qcol(col)
    conds = [f"{x} {op} {dlit(v)}" for op, v in ((">", lb), ("<", ub)) if v is not None]
    return df.filter(" AND ".join(conds)) if conds else df


def append_rows(df: DataFrame, *others: DataFrame) -> DataFrame:
    """``appendRow`` (``/root/reference/mpes/fprocessing.py:2413-2433``)
    — union of event tables by column name."""
    out = df
    for o in others:
        out = out.unionByName(o)
    return out


def multithresh_expr(
    col: str,
    lbs: Sequence[float],
    ubs: Sequence[float],
    ths: Sequence[float],
    otherwise: float | None = None,
) -> Column:
    """Piecewise multilevel threshold -> marker value, the CASE-WHEN
    chain behind ``appendMarker``
    (``/root/reference/mpes/fprocessing.py:2435-2445``; ``multithresh``,
    ``/root/reference/mpes/utils.py:406-420``): first band with
    ``lb < x < ub`` wins."""
    return F.expr(multithresh_sql(qcol(col), lbs, ubs, ths, otherwise))


def multithresh_sql(
    col_sql: str,
    lbs: Sequence[float],
    ubs: Sequence[float],
    ths: Sequence[float],
    otherwise: float | None = None,
) -> str:
    whens = " ".join(
        f"WHEN ({col_sql} > {dlit(lb)} AND {col_sql} < {dlit(ub)}) THEN {dlit(th)}"
        for lb, ub, th in zip(lbs, ubs, ths)
    )
    if not whens:
        raise ValueError("need at least one threshold band")
    other = "NULL" if otherwise is None else dlit(otherwise)
    return f"CASE {whens} ELSE {other} END"


def append_marker(
    df: DataFrame,
    col: str,
    lbs: Sequence[float],
    ubs: Sequence[float],
    ths: Sequence[float],
    marker_name: str = "marker",
) -> DataFrame:
    """``appendMarker`` (``/root/reference/mpes/fprocessing.py:2435-2445``)."""
    return df.withColumn(marker_name, multithresh_expr(col, lbs, ubs, ths))


def apply_jitter(
    df: DataFrame,
    amps: dict[str, float],
    jitter_type: str = "uniform",
    seed: int | None = 42,
) -> DataFrame:
    """Column dithering before binning (``applyJitter``,
    ``/root/reference/mpes/fprocessing.py:1849-1870``; inline use
    ``:1184-1192``): uniform ``amp*U(-1,1)`` or normal ``amp*N(0,1)``.

    Unlike the reference (unseeded ``np.random``), the RNG is seeded so
    correctness runs are reproducible; each column gets an independent
    stream via a per-column seed offset."""
    out = df
    for i, (col, amp) in enumerate(sorted(amps.items())):
        s = None if seed is None else seed + i
        if jitter_type == "uniform":
            noise = (F.rand(s) * 2.0 - 1.0) if s is not None else (F.rand() * 2.0 - 1.0)
        elif jitter_type == "normal":
            noise = F.randn(s) if s is not None else F.randn()
        else:
            raise ValueError(f"unknown jitter type {jitter_type!r}")
        out = out.withColumn(col, F.col(col) + F.lit(float(amp)) * noise)
    return out


def jitter_hashed_expr(col: str, key: str, amp: float, seed: int, dialect: str) -> str:
    """Deterministic uniform jitter as a dual-dialect SQL fragment
    (r9): ``col + amp * (2u - 1)`` with ``u`` drawn from the seeded
    md5 hash of the row key — u = ((h mod 2^30) + 0.5) / 2^30, exactly
    representable steps, the same draw convention as the DP noisy
    counts gate. Where :func:`apply_jitter` uses engine RNG (seeded
    ``F.rand`` — reproducible within Spark but not replayable in
    another engine), this renders the IDENTICAL expression tree in
    Spark SQL and DuckDB, so dithered binning becomes hash-gateable.
    Reference semantics: ``applyJitter`` uniform branch,
    /root/reference/mpes/fprocessing.py:1849-1870."""
    from mpes_spark.extras.dedup import _md5_hash_sql

    s = "STRING" if dialect == "spark" else "VARCHAR"
    h = _md5_hash_sql(seed, f"CAST({key} AS {s})", dialect)
    u = f"((({h}) % {1 << 30}) + 0.5) / {float(1 << 30)!r}"
    return f"({col} + {float(amp)!r} * (2 * ({u}) - 1))"


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, str],
    salt_buckets: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Two-phase aggregation with key salting for skewed group keys:
    phase 1 aggregates on (keys + random salt) so a hot key's rows
    spread over ``salt_buckets`` reducers; phase 2 merges the partial
    results on the true keys (sum/count re-aggregate with sum, min
    with min, max with max). Use when one group holds a data-scale
    share of rows and AQE skew handling isn't enough (e.g. a single
    detector hot spot at 100 TB). ``aggs`` maps column -> one of
    sum|count|min|max; ``count`` has count(*) row semantics (NULLs in
    the named column still count), matching the plain-groupBy twin."""
    merge = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    phase1 = []
    phase2 = []
    for col, how in aggs.items():
        out = f"{how}_{col}"
        if how == "count":
            phase1.append(F.count(F.lit(1)).alias(out))
        elif how in ("sum", "min", "max"):
            phase1.append(getattr(F, how)(F.col(col)).alias(out))
        else:
            raise ValueError(f"unsupported agg {how!r} (sum|count|min|max)")
        phase2.append(merge[how](F.col(out)).alias(out))
    salted = df.withColumn(
        "_salt", (F.rand(seed) * salt_buckets).cast("int")
    )
    partial = salted.groupBy(*keys, "_salt").agg(*phase1)
    return partial.groupBy(*keys).agg(*phase2)


def _morton_dims(cols: list, bits: int) -> int:
    if len(cols) * bits > 63:
        raise ValueError(f"{len(cols)} cols x {bits} bits exceeds a signed BIGINT")
    return len(cols)


def morton_key_expr(cols, bits: int = 10):
    """Morton (Z-order) interleaved key from non-negative integer
    Columns (``len(cols) * bits <= 63``, a signed BIGINT) — the multi-dimensional data-CLUSTERING key: sorting or
    range-partitioning a 100 TB event table by z(kx_bin, ky_bin) puts
    spatially adjacent cells in the same parquet files, so any
    rectangular momentum-window query prunes to O(perimeter) files
    instead of scanning the corpus (the layout-level complement of the
    engine's predicate pushdown; same idea as Delta/Iceberg Z-ORDER,
    rendered as a pure Column expression). ``bits`` LSBs of each
    dimension interleave (dimension i occupies bit positions
    i + k*ndim); values are masked into range, never errored — layout
    keys must not abort a petabyte write.

    Pure integer bit algebra -> bit-identical in any engine;
    :func:`morton_key_sql` is the verbatim SQL rendering."""
    from functools import reduce

    from pyspark.sql import functions as F

    cols = list(cols)
    ndim = _morton_dims(cols, bits)
    parts = []
    for i, c in enumerate(cols):
        c = F.col(c) if isinstance(c, str) else c
        c = c.cast("bigint").bitwiseAND(F.lit((1 << bits) - 1))
        for b in range(bits):
            parts.append(
                c.bitwiseAND(F.lit(1 << b)).cast("bigint")
                * F.lit(1 << (b * (ndim - 1) + i))
            )
    return reduce(lambda a, x: a + x, parts).cast("bigint")


def morton_key_sql(cols, bits: int = 10) -> str:
    """SQL twin of :func:`morton_key_expr` (same shift-free
    mask-and-scale rendering, so the expression parses identically in
    Spark SQL and DuckDB)."""
    cols = list(cols)
    ndim = _morton_dims(cols, bits)
    parts = []
    for i, c in enumerate(cols):
        masked = f"(CAST({c} AS BIGINT) & {(1 << bits) - 1})"
        for b in range(bits):
            parts.append(f"(({masked} & {1 << b}) * {1 << (b * (ndim - 1) + i)})")
    return "CAST(" + " + ".join(parts) + " AS BIGINT)"
