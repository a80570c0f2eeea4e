"""Query registry — the driver-contract surface.

One entry per implemented operator from SURVEY.md §2, each with a
Spark builder ``(spark, sf_dir) -> DataFrame`` and (where
SQL-expressible) a DuckDB oracle string. Spark expression and oracle
SQL are generated from the *same* parameter objects
(:class:`~mpes_spark.binning.BinAxis`, transform factories), so both
engines execute identical IEEE-754 double arithmetic and the driver's
order-insensitive value-hash comparison holds exactly.

Conventions:
- every computed/aggregate column is aliased identically on both sides;
- double-valued aggregates are rounded (identically) to keep the hash
  stable against summation-order differences;
- timestamps are reduced to epoch integers before output (tz-rendering
  differences between engines would break the hash);
- jitter/sketch queries that are inherently non-SQL (seeded RNG,
  xxhash64 minhash) carry no oracle — the driver records the weaker
  rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mpes_spark.binning.engine import bin_sparse, bin_sparse_sql, histogram_per_group
from mpes_spark.binning.spec import BinAxis
from mpes_spark.io.readers import read_table
from mpes_spark.transforms import corrections as XC
from mpes_spark.transforms import energy as EN
from mpes_spark.transforms import momentum as KM
from mpes_spark.transforms.columns import (
    apply_filter,
    multithresh_expr,
    multithresh_sql,
)


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One testdata table, read through ``read_table``: its schema is
    inferred once per session, and ``ts`` arrives as epoch-nanos
    integers (tz-independent, and identical whether the parquet ships
    TIMESTAMP(NANOS) or TIMESTAMP(MICROS) — see
    io.readers.normalize_event_time)."""
    return read_table(spark, f"{sf_dir}/{name}.parquet")


@dataclass
class Query:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # DuckDB oracle; None -> rows-only check


_REGISTRY: list[Query] = []


def _q(name: str, sql: str | None):
    def deco(fn):
        _REGISTRY.append(Query(name, fn, sql))
        return fn

    return deco


# ===========================================================================
# §2.3 Binning engine
# ===========================================================================

# -- 1-D EDC histogram (extractEDC single-trace analog,
#    /root/reference/mpes/fprocessing.py:3418-3435) -------------------------
_AX_V1D = BinAxis("value", nbins=1000, lo=0.0, hi=500.0)


@_q("hist_1d_edc", bin_sparse_sql("events", [_AX_V1D]))
def hist_1d_edc(spark, sf_dir):
    """1-D sparse histogram of events.value — the EDC shape of
    localBinning as one hash aggregation (reference
    mpes/fprocessing.py:1077-1115).
    """
    return bin_sparse(t(spark, sf_dir, "events"), [_AX_V1D])


# -- 2-D histogram ----------------------------------------------------------
_AX_QTY = BinAxis("l_quantity", nbins=49, lo=1.0, hi=50.0)
_AX_PRICE = BinAxis("l_extendedprice", nbins=100, lo=900.0, hi=105000.0)


@_q("hist_2d", bin_sparse_sql("lineitem", [_AX_QTY, _AX_PRICE]))
def hist_2d(spark, sf_dir):
    """2-D sparse histogram over (l_quantity, l_extendedprice) —
    binPartition's N-D grid as a composite-key hash agg.
    """
    return bin_sparse(t(spark, sf_dir, "lineitem"), [_AX_QTY, _AX_PRICE])


# -- 3-D histogram (the production (X, Y, t) grid shape) --------------------
_AX3 = [
    BinAxis("l_quantity", nbins=25, lo=1.0, hi=50.0),
    BinAxis("l_discount", nbins=11, lo=0.0, hi=0.11),
    BinAxis("l_tax", nbins=9, lo=0.0, hi=0.09),
]


@_q("hist_3d", bin_sparse_sql("lineitem", _AX3))
def hist_3d(spark, sf_dir):
    """3-D sparse histogram — the production (X, Y, t) grid shape of
    distributedBinning.
    """
    return bin_sparse(t(spark, sf_dir, "lineitem"), _AX3)


# -- 4-D histogram (the reference's full production shape:
#    (kx, ky, E, delay) / MPESDataset >= 4-D, SURVEY §1.2) ------------------
_AX4 = [
    BinAxis("l_quantity", nbins=12, lo=1.0, hi=50.0),
    BinAxis("l_discount", nbins=11, lo=0.0, hi=0.11),
    BinAxis("l_tax", nbins=9, lo=0.0, hi=0.09),
    BinAxis("l_linenumber", nbins=7, lo=1.0, hi=8.0),
]


@_q("hist_4d", bin_sparse_sql("lineitem", _AX4))
def hist_4d(spark, sf_dir):
    """4-D sparse histogram — the full (X, Y, t, ADC) binDataframe grid,
    still one hash agg.
    """
    return bin_sparse(t(spark, sf_dir, "lineitem"), _AX4)


# -- weighted histogram (sum-of-measure binning — the non-count
#    measure extension of SURVEY §2.9; the reference kernels are
#    count-only) -------------------------------------------------------------
_AX_W = BinAxis("l_quantity", nbins=49, lo=1.0, hi=50.0)


@_q(
    "hist_weighted",
    bin_sparse_sql(
        "lineitem", [_AX_W], count_name="wsum", weight="l_extendedprice",
        round_digits=2,
    ),
)
def hist_weighted(spark, sf_dir):
    """Weighted 1-D histogram: per-bin SUM of l_extendedprice instead of a
    count (binPartition's weights= path).
    """
    h = bin_sparse(
        t(spark, sf_dir, "lineitem"), [_AX_W], count_name="wsum",
        weight="l_extendedprice",
    )
    return h.select(_AX_W.out, F.round(F.col("wsum"), 2).alias("wsum"))


# -- range filter + binning (applyFilter,
#    /root/reference/mpes/fprocessing.py:2185-2203) -------------------------
_AX_FLT = BinAxis("value", nbins=50, lo=50.0, hi=300.0)
_FLT_SQL = "value > 50.0 AND value < 300.0"


@_q(
    "filter_bin",
    bin_sparse_sql("events", [_AX_FLT], where=_FLT_SQL),
)
def filter_bin(spark, sf_dir):
    """Range filter (applyFilter, reference mpes/fprocessing.py:2343-2368)
    pushed to the scan, then 1-D binning.
    """
    ev = apply_filter(t(spark, sf_dir, "events"), "value", lb=50.0, ub=300.0)
    return bin_sparse(ev, [_AX_FLT])


# -- per-group histogram matrix (extractEDC batch,
#    /root/reference/mpes/fprocessing.py:3418-3435) -------------------------
_AX_PG = BinAxis("value", nbins=100, lo=0.0, hi=500.0)


@_q(
    "hist_per_group",
    bin_sparse_sql("events", [_AX_PG], extra_keys=["event_type"]),
)
def hist_per_group(spark, sf_dir):
    """Per-group histogram matrix — one EDC per event_type via extra
    grouping keys (extractEDC batch shape).
    """
    return histogram_per_group(t(spark, sf_dir, "events"), _AX_PG, "event_type")


# -- histogram crop by bin-index range (updateHistogram,
#    /root/reference/mpes/fprocessing.py:1324-1343) -------------------------
@_q(
    "hist_crop",
    f"SELECT * FROM ({bin_sparse_sql('events', [_AX_V1D])}) WHERE "
    f"{_AX_V1D.out} >= 200 AND {_AX_V1D.out} < 600",
)
def hist_crop(spark, sf_dir):
    """Histogram cropped to a bin-index range after aggregation
    (updateHistogram, reference mpes/fprocessing.py:1324-1343).
    """
    sp = bin_sparse(t(spark, sf_dir, "events"), [_AX_V1D])
    return sp.filter((F.col(_AX_V1D.out) >= 200) & (F.col(_AX_V1D.out) < 600))


# -- rebin to a coarser grid (u.arraybin 'sum',
#    /root/reference/mpes/utils.py:295-333): regroup bin//k -----------------
@_q(
    "hist_rebin",
    f"SELECT CAST(floor({_AX_V1D.out} / 10) AS BIGINT) AS coarse_bin, "
    f"CAST(sum(cnt) AS BIGINT) AS cnt FROM ({bin_sparse_sql('events', [_AX_V1D])}) "
    "GROUP BY coarse_bin",
)
def hist_rebin(spark, sf_dir):
    """Rebin to a coarser grid by regrouping bin//k (u.arraybin 'sum',
    reference mpes/utils.py:295-333).
    """
    sp = bin_sparse(t(spark, sf_dir, "events"), [_AX_V1D])
    return sp.groupBy(
        F.floor(F.col(_AX_V1D.out) / 10).cast("bigint").alias("coarse_bin")
    ).agg(F.sum("cnt").cast("bigint").alias("cnt"))


# ===========================================================================
# §2.2 Column transforms -> binning (calibration pipelines)
# ===========================================================================

# -- polynomial energy calibration (tof2evpoly,
#    /root/reference/mpes/base.py:406-432) ----------------------------------
_POLY_A = [2e-9, -1e-6, 0.05]
_POLY_E0 = 1.0
_AX_E = BinAxis("E", nbins=100, lo=0.0, hi=30.0)


@_q(
    "calib_energy_poly",
    bin_sparse_sql(
        f"(SELECT {EN.tof2ev_poly_sql(_POLY_A, _POLY_E0, 'value')} AS E FROM events)",
        [_AX_E],
    ),
)
def calib_energy_poly(spark, sf_dir):
    """Polynomial ToF->energy calibration (tof2evpoly, reference
    mpes/base.py:413-433) as pure column math, then 1-D binning.
    """
    ev = t(spark, sf_dir, "events").select(
        EN.tof2ev_poly_expr(_POLY_A, _POLY_E0, "value").alias("E")
    )
    return bin_sparse(ev, [_AX_E])


# -- drift-distance energy calibration (tof2ev,
#    /root/reference/mpes/base.py:435-458) ----------------------------------
_T2E = dict(d=1e-5, t0=0.0, E0=0.0)
_AX_E2 = BinAxis("E", nbins=500, lo=0.0, hi=100.0)


@_q(
    "calib_energy_tof2ev",
    bin_sparse_sql(
        f"(SELECT {EN.tof2ev_sql(_T2E['d'], _T2E['t0'], _T2E['E0'], 'value')} AS E "
        "FROM events)",
        [_AX_E2],
    ),
)
def calib_energy_tof2ev(spark, sf_dir):
    """Drift-distance ToF->energy calibration (tof2ev, reference
    mpes/base.py:435-458) with NULL-safe pole, then 1-D binning.
    """
    ev = t(spark, sf_dir, "events").select(
        EN.tof2ev_expr(_T2E["d"], _T2E["t0"], _T2E["E0"], "value").alias("E")
    )
    return bin_sparse(ev, [_AX_E2])


# -- momentum calibration (detxy2kxy, /root/reference/mpes/base.py:480-503) -
_KPAR = dict(xstart=0.0, ystart=0.0, x0=25.0, y0=500.0, fx=0.01, fy=1e-4, xstep=1.0, ystep=100.0)
_AX_KX = BinAxis("kx", nbins=50, lo=-0.25, hi=0.25)
_AX_KY = BinAxis("ky", nbins=50, lo=-0.05, hi=0.06)


@_q(
    "calib_kxy",
    bin_sparse_sql(
        "(SELECT {} AS kx, {} AS ky FROM lineitem)".format(
            *KM.detxy2kxy_sql("l_quantity", "l_extendedprice", **_KPAR)
        ),
        [_AX_KX, _AX_KY],
    ),
)
def calib_kxy(spark, sf_dir):
    """Detector->momentum coordinate calibration (detxy2kxy, reference
    mpes/base.py:480-503) of two columns, binned to a kx-ky grid.
    """
    kx, ky = KM.detxy2kxy_expr("l_quantity", "l_extendedprice", **_KPAR)
    li = t(spark, sf_dir, "lineitem").select(kx.alias("kx"), ky.alias("ky"))
    return bin_sparse(li, [_AX_KX, _AX_KY])


# -- ToF wavefront corrections (applyECorrection,
#    /root/reference/mpes/fprocessing.py:2286-2343) -------------------------
_CORR_COMMON = dict(t="l_extendedprice", x="l_quantity", y="l_linenumber", center=(3.0, 25.0))
_AX_TC = BinAxis("tc", nbins=200, lo=900.0, hi=105000.0)


@_q(
    "tof_corr_spherical",
    bin_sparse_sql(
        "(SELECT {} AS tc FROM lineitem)".format(
            XC.tof_correction_sql("spherical", amplitude=-500.0, d=10.0, t0=1.0, **_CORR_COMMON)
        ),
        [_AX_TC],
    ),
)
def tof_corr_spherical(spark, sf_dir):
    """Spherical photoemission energy-correction profile
    (applyECorrection, reference mpes/fprocessing.py:1761-1847), then
    binning.
    """
    li = t(spark, sf_dir, "lineitem").select(
        XC.tof_correction_expr("spherical", amplitude=-500.0, d=10.0, t0=1.0, **_CORR_COMMON).alias("tc")
    )
    return bin_sparse(li, [_AX_TC])


@_q(
    "tof_corr_gaussian",
    bin_sparse_sql(
        "(SELECT {} AS tc FROM lineitem)".format(
            XC.tof_correction_sql("gaussian", amplitude=-5000.0, sigma=20.0, **_CORR_COMMON)
        ),
        [_AX_TC],
    ),
)
def tof_corr_gaussian(spark, sf_dir):
    """Gaussian energy-correction profile of applyECorrection, then
    binning.
    """
    li = t(spark, sf_dir, "lineitem").select(
        XC.tof_correction_expr("gaussian", amplitude=-5000.0, sigma=20.0, **_CORR_COMMON).alias("tc")
    )
    return bin_sparse(li, [_AX_TC])


@_q(
    "tof_corr_lorentzian",
    bin_sparse_sql(
        "(SELECT {} AS tc FROM lineitem)".format(
            XC.tof_correction_sql("lorentzian", amplitude=-2000.0, gamma=15.0, **_CORR_COMMON)
        ),
        [_AX_TC],
    ),
)
def tof_corr_lorentzian(spark, sf_dir):
    """Lorentzian energy-correction profile of applyECorrection, then
    binning.
    """
    li = t(spark, sf_dir, "lineitem").select(
        XC.tof_correction_expr("lorentzian", amplitude=-2000.0, gamma=15.0, **_CORR_COMMON).alias("tc")
    )
    return bin_sparse(li, [_AX_TC])


# -- homography (perspectiveTransform, /root/reference/mpes/base.py:650-668)
_HOMOG = [[0.9, 0.1, 5.0], [-0.05, 1.1, -2.0], [1e-5, 2e-5, 1.0]]
_AX_HX = BinAxis("xt", nbins=40, lo=0.0, hi=60.0)
_AX_HY = BinAxis("yt", nbins=30, lo=-5.0, hi=10.0)

_hx_sql, _hy_sql = XC.perspective_sql("l_quantity", "l_linenumber", _HOMOG)


@_q(
    "perspective_bin",
    bin_sparse_sql(
        f"(SELECT {_hx_sql} AS xt, {_hy_sql} AS yt FROM lineitem)",
        [_AX_HX, _AX_HY],
    ),
)
def perspective_bin(spark, sf_dir):
    """Perspective (homography) detector-plane correction
    (perspectiveTransform) as column math, then 2-D binning.
    """
    xt, yt = XC.perspective_expr("l_quantity", "l_linenumber", _HOMOG)
    li = t(spark, sf_dir, "lineitem").select(xt.alias("xt"), yt.alias("yt"))
    return bin_sparse(li, [_AX_HX, _AX_HY])


# -- piecewise marker (appendMarker / multithresh,
#    /root/reference/mpes/fprocessing.py:2435-2445) -------------------------
_MK = dict(lbs=[0.0, 100.0, 250.0], ubs=[100.0, 250.0, 500.0], ths=[1.0, 2.0, 3.0])


@_q(
    "marker_multithresh",
    f"SELECT {multithresh_sql('value', **_MK)} AS marker, count(*) AS cnt "
    "FROM events GROUP BY marker",
)
def marker_multithresh(spark, sf_dir):
    """Piecewise multi-threshold marker column (appendMarker/multithresh,
    reference mpes/fprocessing.py:2435-2445), counted per marker.
    """
    ev = t(spark, sf_dir, "events").select(
        multithresh_expr("value", **_MK).alias("marker")
    )
    return ev.groupBy("marker").agg(F.count(F.lit(1)).alias("cnt"))


# -- seeded jitter + binning (applyJitter,
#    /root/reference/mpes/fprocessing.py:1849-1870): RNG -> no SQL oracle ---
@_q("jitter_bin", None)
def jitter_bin(spark, sf_dir):
    """Seeded uniform jitter before binning (applyJitter, reference
    mpes/fprocessing.py:1849-1870) — RNG, so rows-only with a determinism
    pytest.
    """
    from mpes_spark.transforms.columns import apply_jitter

    ev = apply_jitter(t(spark, sf_dir, "events"), {"value": 0.25}, seed=42)
    return bin_sparse(ev, [_AX_V1D])


from mpes_spark.transforms.columns import jitter_hashed_expr as _jit_sql  # noqa: E402


def _jitter_oracle_sql(dialect: str) -> str:
    jv = _jit_sql("value", "event_id", 0.25, 42, dialect)
    return (
        f"SELECT CAST(floor(({jv}) / 10.0) AS BIGINT) AS value_bin, "
        "CAST(count(*) AS BIGINT) AS cnt, "
        f"floor(min({jv}) * 1e6 + 0.5) / 1e6 AS v_min, "
        f"floor(max({jv}) * 1e6 + 0.5) / 1e6 AS v_max "
        f"FROM events WHERE value >= 0 AND value < 500 "
        "GROUP BY value_bin"
    )


@_q("jitter_bin_oracle", _jitter_oracle_sql("duckdb"))
def jitter_bin_oracle(spark, sf_dir):
    """Dithered binning under the FULL hash gate (r9): the uniform
    jitter is drawn deterministically from the seeded md5 hash of
    event_id (the DP-noisy-counts draw convention), so BOTH engines
    evaluate the identical expression tree and the jittered histogram
    hash-matches exactly — upgrading the jitter family from its
    rows-only seeded-RNG rendering (``jitter_bin``, which keeps
    engine-RNG semantics for production). Integer counts exact;
    min/max are order-independent picks of identical doubles,
    floor-rounded by the portable convention."""
    return spark.sql(
        _jitter_oracle_sql("spark").replace(
            "FROM events", f"FROM parquet.`{sf_dir}/events.parquet`"
        )
    )


# ===========================================================================
# §2.4 Join-shaped lookups / set ops
# ===========================================================================

# -- broadcast dimension lookup (dfieldapply-shaped equi-join on a small
#    lookup relation; /root/reference/mpes/base.py:530-539) -----------------
@_q(
    "lookup_join",
    "SELECT n.n_name AS nation, CAST(count(*) AS BIGINT) AS cnt, "
    "round(sum(c.c_acctbal), 2) AS total_bal "
    "FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey "
    "GROUP BY n.n_name",
)
def lookup_join(spark, sf_dir):
    """Broadcast dimension lookup equi-join (the dfieldapply shape,
    reference mpes/base.py:530-539) with a rollup on the looked-up key.
    """
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


# -- mid-size dimension broadcast join + rollup (the dfield-lookup
#    shape at realistic dimension cardinality: part is ~20k rows at
#    sf0.1 — broadcast-able, same plan as the 4.2M-row dfield table) --------
@_q(
    "part_brand_rollup",
    "SELECT p.p_brand AS brand, CAST(count(*) AS BIGINT) AS cnt, "
    "round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue "
    "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey "
    "GROUP BY p.p_brand",
)
def part_brand_rollup(spark, sf_dir):
    """Mid-size dimension broadcast join + brand rollup — the
    dfield-lookup plan at realistic (~20k-row) dimension cardinality.
    """
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.round(F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 2).alias("revenue"),
        )
    )


# -- three-way broadcast-chain join (customer -> nation -> region):
#    config-hierarchy resolution rollup --------------------------------------
@_q(
    "region_rollup",
    "SELECT r.r_name AS region, CAST(count(*) AS BIGINT) AS n_customers, "
    "round(avg(c.c_acctbal), 6) AS avg_bal "
    "FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey "
    "JOIN region r ON n.n_regionkey = r.r_regionkey GROUP BY r.r_name",
)
def region_rollup(spark, sf_dir):
    """Three-way broadcast-chain join customer->nation->region with a
    per-region rollup (config-hierarchy resolution).
    """
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.round(F.avg("c_acctbal"), 6).alias("avg_bal"),
        )
    )


# -- interval-containment lookup (aperture resolution analog,
#    /root/reference/mpes/fprocessing.py:2604-2640): value falls in a
#    config interval -> label ------------------------------------------------
_APERTURE_SQL = (
    "SELECT iv.label AS label, CAST(count(*) AS BIGINT) AS cnt FROM events e JOIN "
    "(VALUES (0.0, 50.0, 'S'), (50.0, 200.0, 'M'), (200.0, 350.0, 'L'), "
    "(350.0, 1000.0, 'XL')) AS iv(v0, v1, label) "
    "ON e.value >= iv.v0 AND e.value < iv.v1 GROUP BY iv.label"
)


@_q("interval_lookup", _APERTURE_SQL)
def interval_lookup(spark, sf_dir):
    """Point-in-interval metadata resolution — aperture interval lookup
    (gather_metadata shape) against a literal VALUES relation.
    """
    # literal dims as a VALUES relation: a JVM-side LocalTableScan,
    # where createDataFrame would plan a Python-RDD scan that pays a
    # Python-worker roundtrip on EVERY execution (measured 0.57 s vs
    # 0.30 s per run at sf0.1, plus a ~2.5 s first-use worker spin-up)
    iv = spark.sql(
        "SELECT * FROM VALUES (0.0D, 50.0D, 'S'), (50.0D, 200.0D, 'M'), "
        "(200.0D, 350.0D, 'L'), (350.0D, 1000.0D, 'XL') AS iv(v0, v1, label)"
    )
    ev = t(spark, sf_dir, "events")
    return (
        ev.join(F.broadcast(iv), (ev.value >= iv.v0) & (ev.value < iv.v1))
        .groupBy("label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


# -- orders before a fixed cutoff (config-before-file-start filter,
#    /root/reference/mpes/fprocessing.py:2604-2610 first stage) -------------
_CUTOFF_SQL = (
    "SELECT u.user_id, CAST(count(*) AS BIGINT) AS n_orders_before FROM "
    "(SELECT DISTINCT user_id FROM events) u "
    "JOIN orders o ON o.o_custkey = u.user_id AND "
    "o.o_orderdate < TIMESTAMP '2024-01-01' GROUP BY u.user_id"
)


@_q("orders_before_cutoff", _CUTOFF_SQL)
def orders_before_cutoff(spark, sf_dir):
    """Semi-join of event users onto orders with a timestamp-cutoff
    predicate cast to the column's own timestamp flavor.
    """
    ev = t(spark, sf_dir, "events").select("user_id").distinct()
    o = t(spark, sf_dir, "orders")
    return (
        ev.join(
            o,
            (o.o_custkey == ev.user_id)
            # cast the literal to the COLUMN's own timestamp flavor
            # (NTZ or LTZ depending on the parquet vintage) instead of
            # relying on implicit NTZ<->LTZ coercion semantics
            & (o.o_orderdate < F.lit("2024-01-01").cast(dict(o.dtypes)["o_orderdate"])),
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders_before"))
    )


# -- real as-of join: per-row latest-record-<=-timestamp resolution
#    (the reference's timestamped aperture-config lookup semantics,
#    /root/reference/mpes/fprocessing.py:2604-2640): for each purchase
#    event, the latest click of the same user at or before it ---------------
# last-click time compared at us precision: DuckDB truncates
# ns-parquet timestamps to its us-precision TIMESTAMP (cf. elapsed_time)
_ASOF_SQL = (
    "SELECT p.event_id, CAST(max(epoch_us(c.ts)) AS BIGINT) AS last_click_us, "
    "CAST(count(*) AS BIGINT) AS n_prior_clicks "
    "FROM (SELECT event_id, user_id, epoch_ns(ts) AS tns FROM events "
    "WHERE event_type = 'purchase') p "
    "JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c "
    "ON c.user_id = p.user_id AND epoch_ns(c.ts) <= p.tns "
    "GROUP BY p.event_id"
)


@_q("asof_latest_event", _ASOF_SQL)
def asof_latest_event(spark, sf_dir):
    """Join on the entity key + inequality, then per-left-row max —
    the canonical as-of plan. Scale: equi-keyed shuffle on user_id
    (AQE skew-join handles hot users); the inequality prunes inside
    each key group, never a cross join."""
    ev = t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    return (
        p.join(c, (F.col("c_user") == F.col("p_user")) & (F.col("c_ts") <= F.col("p_ts")))
        .groupBy("event_id")
        .agg(
            F.expr("max(c_ts) div 1000").alias("last_click_us"),
            F.count(F.lit(1)).cast("bigint").alias("n_prior_clicks"),
        )
    )


# -- SCD2 validity intervals + snapshot diff (the CDC/slowly-changing-
#    dimension rendering of the as-of machinery: each observation's
#    validity window [ts, next_ts), and the added/changed/unchanged
#    audit between two snapshot cutoffs) ----------------------------------

_SCD2_SQL = (
    "SELECT user_id, event_id, value, epoch_ns(ts) AS valid_from_ns, "
    "lead(epoch_ns(ts)) OVER (PARTITION BY user_id "
    "  ORDER BY epoch_ns(ts), event_id) AS valid_to_ns, "
    "CAST(CASE WHEN lead(epoch_ns(ts)) OVER (PARTITION BY user_id "
    "  ORDER BY epoch_ns(ts), event_id) IS NULL THEN 1 ELSE 0 END "
    "  AS INTEGER) AS is_current "
    "FROM events WHERE user_id < 30"
)


@_q("scd2_intervals", _SCD2_SQL)
def scd2_intervals(spark, sf_dir):
    """SCD-type-2 validity intervals: every observation becomes a
    [valid_from, valid_to) row, open-ended (is_current) on the last
    one — the compacted-CDC table an asof join reads. One shuffle on
    the entity key, a sorted lead() per partition; values pass
    through untouched (no float arithmetic to desync)."""
    from pyspark.sql.window import Window as W

    ev = t(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    vt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        "event_id",
        "value",
        F.col("ts").alias("valid_from_ns"),
        vt.alias("valid_to_ns"),
        vt.isNull().cast("int").alias("is_current"),
    )


_T1_NS = 1_705_276_800_000_000_000  # 2024-01-15 UTC
_T2_NS = 1_706_140_800_000_000_000  # 2024-01-25 UTC

_SNAPDIFF_SQL = (
    "WITH a AS (SELECT user_id, value FROM ("
    "  SELECT user_id, value, row_number() OVER (PARTITION BY user_id "
    "    ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn "
    f"  FROM events WHERE epoch_ns(ts) < {_T1_NS}) q WHERE rn = 1), "
    "b AS (SELECT user_id, value FROM ("
    "  SELECT user_id, value, row_number() OVER (PARTITION BY user_id "
    "    ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn "
    f"  FROM events WHERE epoch_ns(ts) < {_T2_NS}) q WHERE rn = 1) "
    "SELECT status, CAST(count(*) AS BIGINT) AS n_users FROM ("
    "  SELECT CASE WHEN a.user_id IS NULL THEN 'added' "
    "              WHEN b.user_id IS NULL THEN 'removed' "
    "              WHEN a.value = b.value THEN 'unchanged' "
    "              ELSE 'changed' END AS status "
    "  FROM a FULL OUTER JOIN b ON a.user_id = b.user_id) s "
    "GROUP BY status"
)


@_q("snapshot_diff", _SNAPDIFF_SQL)
def snapshot_diff(spark, sf_dir):
    """CDC snapshot audit: per-entity latest state at two cutoffs,
    full-outer compared into added/removed/changed/unchanged counts —
    the validation query every incremental pipeline runs after a
    backfill. Both snapshot reductions are one shuffle each on the
    entity key (window rn=1); the compare joins two entity-sized
    relations; output bounded by 4 statuses. Value equality is raw
    double passthrough — no arithmetic to desync."""
    from pyspark.sql.window import Window as W

    ev = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )

    def snap(cut, ucol, vcol):
        return (
            ev.filter(F.col("ts") < cut)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("user_id").alias(ucol), F.col("value").alias(vcol))
        )

    a = snap(_T1_NS, "ua", "va")
    b = snap(_T2_NS, "ub", "vb")
    status = (
        F.when(F.col("ua").isNull(), "added")
        .when(F.col("ub").isNull(), "removed")
        .when(F.col("va") == F.col("vb"), "unchanged")
        .otherwise("changed")
    )
    return (
        a.join(b, F.col("ua") == F.col("ub"), "full_outer")
        .select(status.alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )


# -- per-group top-k (the grouped rendering of §2.5 top-k: window
#    row_number, rank ties broken on the key) -----------------------------

_TOPK_GROUP_SQL = (
    "SELECT o_orderpriority, o_orderkey, o_totalprice, "
    "CAST(rk AS INTEGER) AS rk FROM ("
    "  SELECT o_orderpriority, o_orderkey, o_totalprice, "
    "    row_number() OVER (PARTITION BY o_orderpriority "
    "      ORDER BY o_totalprice DESC, o_orderkey) AS rk "
    "  FROM orders) q WHERE rk <= 3"
)


@_q("topk_per_group", _TOPK_GROUP_SQL)
def topk_per_group(spark, sf_dir):
    """Top-3 orders per priority class: one shuffle on the group key,
    per-partition sort + row_number, early filter — output bounded by
    k * |groups|. At scale Spark turns the rank filter into a
    per-partition top-k (WindowGroupLimit), never a full sort of the
    fact table."""
    from pyspark.sql.window import Window as W

    o = t(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    return (
        o.select("o_orderpriority", "o_orderkey", "o_totalprice")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "o_orderpriority",
            "o_orderkey",
            "o_totalprice",
            F.col("rk").cast("int").alias("rk"),
        )
    )


# -- MERGE-style upsert (the storage-layer MERGE INTO semantics as a
#    pure relational plan: full-outer join base vs updates, coalesce
#    per action; what Delta/Iceberg compile MERGE into before the
#    file rewrite) --------------------------------------------------------

_MERGE_SQL = (
    "WITH upd AS ("
    "  SELECT c_custkey AS k, round(c_acctbal + 100.0, 2) AS new_bal "
    "  FROM customer WHERE c_custkey % 7 = 0 "
    "  UNION ALL "
    "  SELECT c_custkey + 1000000 AS k, 50.0 AS new_bal "
    "  FROM customer WHERE c_custkey % 13 = 0) "
    "SELECT coalesce(b.c_custkey, u.k) AS custkey, "
    "round(coalesce(u.new_bal, b.c_acctbal), 2) AS acctbal, "
    "CASE WHEN b.c_custkey IS NULL THEN 'insert' "
    "     WHEN u.k IS NULL THEN 'keep' ELSE 'update' END AS action "
    "FROM customer b FULL OUTER JOIN upd u ON u.k = b.c_custkey"
)


@_q("merge_upsert", _MERGE_SQL)
def merge_upsert(spark, sf_dir):
    """MERGE INTO as a relational plan: base full-outer-joined with
    the update set, matched rows take the new value, unmatched update
    rows insert, unmatched base rows keep — one shuffle on the merge
    key (or zero if the update side broadcasts), which is exactly the
    join Delta/Iceberg plan before rewriting files. Every row carries
    its action for downstream audit."""
    c = t(spark, sf_dir, "customer")
    upd = (
        c.filter(F.col("c_custkey") % 7 == 0)
        .select(
            F.col("c_custkey").alias("k"),
            F.round(F.col("c_acctbal") + 100.0, 2).alias("new_bal"),
        )
        .union(
            c.filter(F.col("c_custkey") % 13 == 0).select(
                (F.col("c_custkey") + 1000000).alias("k"),
                F.lit(50.0).alias("new_bal"),
            )
        )
    )
    b = c.select("c_custkey", "c_acctbal")
    action = (
        F.when(F.col("c_custkey").isNull(), "insert")
        .when(F.col("k").isNull(), "keep")
        .otherwise("update")
    )
    return b.join(upd, b.c_custkey == upd.k, "full_outer").select(
        F.coalesce("c_custkey", "k").alias("custkey"),
        F.round(F.coalesce("new_bal", "c_acctbal"), 2).alias("acctbal"),
        action.alias("action"),
    )


# -- semi-structured extraction (the events.props JSON sidecar — the
#    metadata-blob shape every large pipeline carries) --------------------

_JSON_STATS_SQL = (
    "SELECT event_type, CAST(count(*) AS BIGINT) AS n, "
    "CAST(min(k) AS BIGINT) AS min_k, CAST(max(k) AS BIGINT) AS max_k, "
    "round(avg(k), 6) AS avg_k FROM ("
    "  SELECT event_type, CAST(props->>'k' AS BIGINT) AS k FROM events) q "
    "GROUP BY event_type"
)


@_q("json_extract_stats", _JSON_STATS_SQL)
def json_extract_stats(spark, sf_dir):
    """Typed extraction from the JSON props column via `from_json`
    with an EXPLICIT schema — the vectorized single-parse path (one
    Jackson parse per row, all fields out at once), vs
    `get_json_object` which re-parses the blob per extracted field.
    At 100 TB the schema'd parse also lets the optimizer prune
    unextracted fields. Aggregation output bounded by |event_type|."""
    ev = t(spark, sf_dir, "events")
    k = F.from_json("props", "k BIGINT").getField("k")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("k").cast("bigint").alias("min_k"),
            F.max("k").cast("bigint").alias("max_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
        )
    )


# -- tolerance match (lens-mode voltage-set resolution, np.allclose
#    rtol semantics, /root/reference/mpes/fprocessing.py:2643-2660):
#    value matches a config nominal within 2% relative tolerance ------------
_LENS_SQL = (
    "SELECT m.mode, CAST(count(*) AS BIGINT) AS cnt FROM events e JOIN "
    "(VALUES ('A', 50.0), ('B', 150.0), ('C', 300.0)) AS m(mode, v0) "
    "ON abs(e.value - m.v0) <= 0.02 * abs(m.v0) GROUP BY m.mode"
)


@_q("lens_mode_match", _LENS_SQL)
def lens_mode_match(spark, sf_dir):
    """Nearest-config tolerance match: events joined to lens-mode
    setpoints within an absolute tolerance (gather_metadata lens matching).
    """
    # VALUES relation, not createDataFrame — see interval_lookup
    cfg = spark.sql(
        "SELECT * FROM VALUES ('A', 50.0D), ('B', 150.0D), ('C', 300.0D) "
        "AS m(mode, v0)"
    )
    ev = t(spark, sf_dir, "events")
    return (
        ev.join(
            F.broadcast(cfg),
            F.abs(ev.value - cfg.v0) <= 0.02 * F.abs(cfg.v0),
        )
        .groupBy("mode")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


# -- ordered event-sequence analytics over the events table: funnel
#    conversion and cohort retention — the behavioral twins of the
#    reference's time-ordered event selection (getCountRate /
#    timestamped lookups); both reduce to user_id-keyed agg->join
#    chains, never a global sort ------------------------------------------

_STEP_NS = 86_400_000_000_000  # 24 h per funnel step
_WEEK_NS = 604_800_000_000_000

_FUNNEL_SQL = (
    "WITH v AS (SELECT user_id, min(epoch_ns(ts)) AS t1 FROM events "
    "  WHERE event_type = 'view' GROUP BY user_id), "
    "c AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS t2 FROM events e "
    f"  JOIN v ON v.user_id = e.user_id WHERE e.event_type = 'click' "
    f"  AND epoch_ns(e.ts) > v.t1 AND epoch_ns(e.ts) <= v.t1 + {_STEP_NS} "
    "  GROUP BY e.user_id), "
    "p AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS t3 FROM events e "
    f"  JOIN c ON c.user_id = e.user_id WHERE e.event_type = 'purchase' "
    f"  AND epoch_ns(e.ts) > c.t2 AND epoch_ns(e.ts) <= c.t2 + {_STEP_NS} "
    "  GROUP BY e.user_id) "
    "SELECT * FROM ("
    "SELECT 1 AS stage, 'view' AS step, CAST(count(*) AS BIGINT) AS users FROM v "
    "UNION ALL "
    "SELECT 2, 'click', CAST(count(*) AS BIGINT) FROM c "
    "UNION ALL "
    "SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM p)"
)


@_q("funnel_conversion", _FUNNEL_SQL)
def funnel_conversion(spark, sf_dir):
    """Ordered view -> click -> purchase funnel with a 24 h window per
    step: users counted at stage k completed step k within 24 h of
    their step-(k-1) time. Each stage is a user_id-keyed min-aggregate
    equi-joined to the previous stage — the whole funnel stays
    co-partitioned on user_id (one shuffle key end-to-end, AQE
    broadcasts the shrinking stage relations), with the step-order
    inequality pruning inside each key group. No per-user sort, no
    window over a global ordering.

    Persisting the (user-bounded) v/c stage relations was tried and
    REVERTED in r11: the initial plan shows events scanned 6x, but
    the EXECUTED plan carries an AQE runtime ReusedExchange, and the
    driver-protocol bench measured the persist at +33% (0.76 →
    1.01 s median) — cache-build overhead for scans AQE partly
    deduplicates anyway."""
    ev = t(spark, sf_dir, "events")

    def stage(etype, prev, prev_t, tcol):
        e = ev.filter(F.col("event_type") == etype).select("user_id", "ts")
        if prev is None:
            return e.groupBy("user_id").agg(F.min("ts").alias(tcol))
        return (
            e.join(prev.select("user_id", prev_t), "user_id")
            .filter(
                (F.col("ts") > F.col(prev_t))
                & (F.col("ts") <= F.col(prev_t) + F.lit(_STEP_NS))
            )
            .groupBy("user_id")
            .agg(F.min("ts").alias(tcol))
        )

    v = stage("view", None, None, "t1")
    c = stage("click", v, "t1", "t2")
    p = stage("purchase", c, "t2", "t3")
    rows = [(v, 1, "view"), (c, 2, "click"), (p, 3, "purchase")]
    out = None
    for rel, k, name in rows:
        one = rel.agg(
            F.lit(k).alias("stage"),
            F.lit(name).alias("step"),
            F.count(F.lit(1)).cast("bigint").alias("users"),
        )
        out = one if out is None else out.unionAll(one)
    return out


_RETENTION_SQL = (
    f"WITH act AS (SELECT DISTINCT user_id, "
    f"epoch_ns(ts) // {_WEEK_NS} AS wk FROM events), "
    "first AS (SELECT user_id, min(wk) AS cohort_wk FROM act GROUP BY user_id) "
    "SELECT f.cohort_wk AS cohort_week, a.wk - f.cohort_wk AS week_offset, "
    "CAST(count(*) AS BIGINT) AS n_users "
    "FROM act a JOIN first f ON f.user_id = a.user_id "
    "GROUP BY cohort_week, week_offset"
)


@_q("cohort_retention", _RETENTION_SQL)
def cohort_retention(spark, sf_dir):
    """Weekly cohort retention: cohort = epoch-week of a user's first
    activity; cell (cohort, offset) counts users from that cohort
    active offset weeks later. The distinct (user, week) activity
    relation is built once (one shuffle, map-side combined), the
    per-user cohort falls out of the SAME relation, and the join back
    is user_id-co-partitioned; the final cell agg is bounded by
    cohorts x offsets, not events.

    Week bucketing uses Spark ``div`` / DuckDB ``//`` — BOTH truncate
    toward zero, so parity holds for any ts sign; an operator needing
    true floor semantics across the epoch uses
    ``transforms.rollup._floor_div`` instead."""
    ev = t(spark, sf_dir, "events")
    act = ev.select(
        "user_id", F.expr(f"ts div {_WEEK_NS}").alias("wk")
    ).distinct()
    first = act.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    return (
        act.join(first, "user_id")
        .groupBy(
            F.col("cohort_wk").alias("cohort_week"),
            (F.col("wk") - F.col("cohort_wk")).alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )


_TRANSITIONS_SQL = (
    "SELECT event_type AS from_type, next_type AS to_type, "
    "CAST(count(*) AS BIGINT) AS cnt FROM ("
    "  SELECT event_type, lead(event_type) OVER ("
    "    PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS next_type "
    "  FROM events) t WHERE next_type IS NOT NULL "
    "GROUP BY from_type, to_type"
)


@_q("event_transitions", _TRANSITIONS_SQL)
def event_transitions(spark, sf_dir):
    """First-order Markov transition counts between consecutive
    event types per user (path analysis): one shuffle on user_id, a
    per-user sorted lead() — per-partition state is one row — and a
    final agg bounded by |types|^2, not events. Ties at equal ts
    break on event_id for cross-engine determinism."""
    from pyspark.sql.window import Window as W

    ev = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


_RFM_SQL = (
    "WITH per_user AS ("
    "  SELECT user_id, max(epoch_ns(ts)) AS recency, "
    "         CAST(count(*) AS BIGINT) AS frequency, "
    "         round(sum(CASE WHEN event_type = 'purchase' THEN value "
    "                        ELSE 0 END), 2) AS monetary "
    "  FROM events GROUP BY user_id) "
    "SELECT user_id, recency, frequency, monetary, "
    "  CAST(ntile(4) OVER (ORDER BY recency, user_id) AS INTEGER) AS r_q, "
    "  CAST(ntile(4) OVER (ORDER BY frequency, user_id) AS INTEGER) AS f_q, "
    "  CAST(ntile(4) OVER (ORDER BY monetary, user_id) AS INTEGER) AS m_q "
    "FROM per_user"
)


@_q("rfm_segments", _RFM_SQL)
def rfm_segments(spark, sf_dir):
    """RFM user segmentation: per-user recency (last activity),
    frequency (event count), monetary (purchase value sum, rounded
    before ranking so both engines order identical doubles), each cut
    into exact quartiles. The event scan reduces to ONE user-bounded
    relation first; the ntile windows then sort users, not events —
    the perplexity_buckets trade (exact ntile as the oracle-checkable
    rendering; production cuts on sampled thresholds, same
    semantics, no global sort). Ties break on user_id."""
    from pyspark.sql.window import Window as W

    ev = t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max("ts").alias("recency"),
        F.count(F.lit(1)).cast("bigint").alias("frequency"),
        F.round(
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(
                    0.0
                )
            ),
            2,
        ).alias("monetary"),
    )
    return per_user.select(
        "user_id",
        "recency",
        "frequency",
        "monetary",
        F.ntile(4).over(W.orderBy("recency", "user_id")).cast("int").alias("r_q"),
        F.ntile(4).over(W.orderBy("frequency", "user_id")).cast("int").alias("f_q"),
        F.ntile(4).over(W.orderBy("monetary", "user_id")).cast("int").alias("m_q"),
    )


_TWAP_SQL = (
    "WITH iv AS ("
    "  SELECT user_id, value, "
    "    (lead(epoch_ns(ts)) OVER (PARTITION BY user_id "
    "       ORDER BY epoch_ns(ts), event_id) - epoch_ns(ts)) / 1e9 AS dt_s "
    "  FROM events) "
    "SELECT user_id, "
    "  round(round(sum(value * dt_s), 2) / round(sum(dt_s), 2), 6) AS twap, "
    "  CAST(count(*) AS BIGINT) AS n_intervals "
    "FROM iv WHERE dt_s IS NOT NULL AND dt_s > 0 "
    "GROUP BY user_id"
)


@_q("time_weighted_avg", _TWAP_SQL)
def time_weighted_avg(spark, sf_dir):
    """Per-user TIME-weighted average of ``value`` (each observation
    weighted by how long it was the latest one — the TWAP/telemetry
    semantics a plain avg gets wrong under irregular sampling): one
    shuffle on user_id, a sorted lead() for the holding interval,
    then a bounded per-user agg. Both engines divide identical
    pre-rounded sums (the rollup.py determinism rule); zero-length
    intervals (duplicate timestamps) carry zero weight and are
    excluded on both sides identically."""
    from pyspark.sql.window import Window as W

    ev = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    dt_s = (F.lead("ts").over(w) - F.col("ts")) / F.lit(1e9)
    iv = ev.select("user_id", "value", "ts", "event_id").withColumn("dt_s", dt_s)
    return (
        iv.filter(F.col("dt_s").isNotNull() & (F.col("dt_s") > 0))
        .groupBy("user_id")
        .agg(
            F.round(
                F.round(F.sum(F.col("value") * F.col("dt_s")), 2)
                / F.round(F.sum("dt_s"), 2),
                6,
            ).alias("twap"),
            F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
        )
    )


# -- classic decision-support shapes on the star schema: the Q1-like
#    pricing summary (one-pass grouped agg over the fact table) and
#    the Q3-like shipping priority (dim-filter -> broadcast ->
#    co-keyed fact join -> grouped top-k) -------------------------------

_PRICING_SQL = (
    "SELECT l_returnflag, l_linestatus, "
    "round(sum(l_quantity), 2) AS sum_qty, "
    "round(sum(l_extendedprice), 2) AS sum_base, "
    "round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price, "
    "round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) "
    "  AS sum_charge, "
    # deterministic avg: divide the ROUNDED sum (cf. rollup.py) so
    # both engines divide identical doubles
    "round(round(sum(l_quantity), 2) / count(*), 6) AS avg_qty, "
    "round(round(sum(l_extendedprice), 2) / count(*), 6) AS avg_price, "
    "CAST(count(*) AS BIGINT) AS count_order "
    "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02' "
    "GROUP BY l_returnflag, l_linestatus"
)


@_q("pricing_summary", _PRICING_SQL)
def pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped pricing summary: ONE scan of the fact table
    with the ship-date predicate pushed to parquet, a grouped agg
    whose output is bounded by |returnflag| x |linestatus| (6 rows at
    any scale), partial/final combine doing all the reduction
    map-side. The canonical sum/avg battery of a columnar engine."""
    li = t(spark, sf_dir, "lineitem")
    cutoff = F.lit("1998-09-02").cast(dict(li.dtypes)["l_shipdate"])
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= cutoff)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base"),
            F.round(F.sum(disc), 2).alias("sum_disc_price"),
            F.round(F.sum(disc * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(
                F.round(F.sum("l_quantity"), 2) / F.count(F.lit(1)), 6
            ).alias("avg_qty"),
            F.round(
                F.round(F.sum("l_extendedprice"), 2) / F.count(F.lit(1)), 6
            ).alias("avg_price"),
            F.count(F.lit(1)).cast("bigint").alias("count_order"),
        )
    )


_SHIPPING_SQL = (
    "SELECT l.l_orderkey, "
    "round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue, "
    "o.o_orderpriority "
    "FROM customer c "
    "JOIN orders o ON o.o_custkey = c.c_custkey "
    "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
    "WHERE c.c_mktsegment = 'BUILDING' "
    "AND o.o_orderdate < TIMESTAMP '1998-01-01' "
    "AND l.l_shipdate > TIMESTAMP '1998-01-01' "
    "GROUP BY l.l_orderkey, o.o_orderpriority "
    "ORDER BY revenue DESC, l.l_orderkey LIMIT 10"
)


@_q("shipping_priority", _SHIPPING_SQL)
def shipping_priority(spark, sf_dir):
    """TPC-H Q3-shaped shipping priority: the filtered customer dim
    broadcasts into orders (AQE sees the segment filter shrink it),
    the orders->lineitem join is the one real shuffle (both sides
    keyed on orderkey), the group agg is bounded by qualifying
    orders, and the top-10 is TakeOrderedAndProject — no global
    sort. Both date predicates push to the parquet scans."""
    c = t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    o = t(spark, sf_dir, "orders")
    o = o.filter(
        F.col("o_orderdate")
        < F.lit("1998-01-01").cast(dict(o.dtypes)["o_orderdate"])
    ).select("o_orderkey", "o_custkey", "o_orderpriority")
    li = t(spark, sf_dir, "lineitem")
    li = li.filter(
        F.col("l_shipdate")
        > F.lit("1998-01-01").cast(dict(li.dtypes)["l_shipdate"])
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    return (
        li.join(
            o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
                "o_orderkey", "o_orderpriority"
            ),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


_LOCAL_SUPPLIER_SQL = (
    "SELECT n.n_name, "
    "round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue "
    "FROM customer c "
    "JOIN orders o ON o.o_custkey = c.c_custkey "
    "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
    "JOIN supplier s ON s.s_suppkey = l.l_suppkey "
    "  AND s.s_nationkey = c.c_nationkey "
    "JOIN nation n ON n.n_nationkey = s.s_nationkey "
    "JOIN region r ON r.r_regionkey = n.n_regionkey "
    "WHERE r.r_name = 'ASIA' "
    "AND o.o_orderdate >= TIMESTAMP '1996-01-01' "
    "AND o.o_orderdate < TIMESTAMP '1997-01-01' "
    "GROUP BY n.n_name"
)


@_q("local_supplier_volume", _LOCAL_SUPPLIER_SQL)
def local_supplier_volume(spark, sf_dir):
    """TPC-H Q5-shaped local supplier volume: the 6-way star join
    where revenue counts only when customer and supplier share a
    nation. Plan shape: region -> nation -> supplier chain collapses
    to one broadcast dim (25 nations x suppliers), customer joins
    orders on custkey (the first fact shuffle), lineitem joins on
    orderkey (the second), and the supplier broadcast applies the
    same-nation predicate WITHOUT a shuffle — the c_nationkey =
    s_nationkey filter rides the suppkey equi-join. Output bounded
    by |nation|."""
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = t(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    s = t(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_nationkey", "n_name")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = t(spark, sf_dir, "orders")
    dt = dict(o.dtypes)["o_orderdate"]
    o = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast(dt))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast(dt))
    ).select("o_orderkey", "o_custkey")
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    return (
        li.join(
            o.join(c, o.o_custkey == c.c_custkey).select(
                "o_orderkey", "c_nationkey"
            ),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


# -- more classic decision-support shapes: Q10 (returned-item report,
#    filtered fact -> dim enrich -> grouped top-k), Q14 (promo revenue
#    share, broadcast-dim conditional aggregation), Q8-shape (market
#    share: two-level agg + per-year total join) ---------------------------

_RETURNED_ITEM_SQL = (
    "SELECT c.c_custkey, c.c_name, n.n_name, "
    "round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue, "
    "CAST(count(*) AS BIGINT) AS n_items "
    "FROM customer c "
    "JOIN nation n ON n.n_nationkey = c.c_nationkey "
    "JOIN orders o ON o.o_custkey = c.c_custkey "
    "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
    "WHERE l.l_returnflag = 'R' "
    "AND o.o_orderdate >= TIMESTAMP '1996-01-01' "
    "AND o.o_orderdate < TIMESTAMP '1997-01-01' "
    "GROUP BY c.c_custkey, c.c_name, n.n_name "
    "ORDER BY revenue DESC, c.c_custkey LIMIT 20"
)


@_q("returned_item_report", _RETURNED_ITEM_SQL)
def returned_item_report(spark, sf_dir):
    """TPC-H Q10-shaped returned-item reporting: which customers
    returned the most revenue this year. The returnflag predicate
    prunes the fact scan (pushed to parquet), nation broadcasts into
    customer, orders carries the date window, and the grouped top-20
    finishes as TakeOrderedAndProject — k rows per partition cross
    the exchange, never the full group list."""
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    c = t(spark, sf_dir, "customer").join(
        F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", "c_name", "n_name")
    o = t(spark, sf_dir, "orders")
    dt = dict(o.dtypes)["o_orderdate"]
    o = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast(dt))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast(dt))
    ).select("o_orderkey", "o_custkey")
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == c.c_custkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


_PROMO_SHARE_SQL = (
    "SELECT "
    "round(sum(CASE WHEN p.p_type = 'PROMO' "
    "  THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0.0 END), 2) "
    "  AS promo_revenue, "
    "round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS total_revenue, "
    # divide the ROUNDED sums (identical doubles on both engines)
    "round(100.0 * round(sum(CASE WHEN p.p_type = 'PROMO' "
    "  THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0.0 END), 2) "
    "  / round(sum(l.l_extendedprice * (1 - l.l_discount)), 2), 6) "
    "  AS promo_share_pct "
    "FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey "
    "WHERE l.l_shipdate >= TIMESTAMP '1996-01-01' "
    "AND l.l_shipdate < TIMESTAMP '1996-07-01'"
)


@_q("promo_revenue_share", _PROMO_SHARE_SQL)
def promo_revenue_share(spark, sf_dir):
    """TPC-H Q14-shaped promo revenue share: conditional aggregation
    against a broadcast part dim — the date window prunes the fact
    scan, part broadcasts (dim-sized), and the CASE rides the single
    grouped-agg pass; output is ONE row at any scale. The canonical
    'share of revenue from category X' analytics shape."""
    p = t(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = t(spark, sf_dir, "lineitem")
    dt = dict(li.dtypes)["l_shipdate"]
    li = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast(dt))
        & (F.col("l_shipdate") < F.lit("1996-07-01").cast(dt))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(F.sum(promo), 2).alias("promo_revenue"),
            F.round(F.sum(rev), 2).alias("total_revenue"),
            F.round(
                F.lit(100.0)
                * F.round(F.sum(promo), 2)
                / F.round(F.sum(rev), 2),
                6,
            ).alias("promo_share_pct"),
        )
    )


_MARKET_SHARE_SQL = (
    "SELECT order_year, n_name, revenue, "
    "round(revenue / round(sum(revenue) OVER (PARTITION BY order_year), 2), 6) "
    "  AS market_share "
    "FROM ("
    "  SELECT CAST(year(o.o_orderdate) AS INTEGER) AS order_year, "
    "    n.n_name, "
    "    round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue "
    "  FROM lineitem l "
    "  JOIN orders o ON o.o_orderkey = l.l_orderkey "
    "  JOIN supplier s ON s.s_suppkey = l.l_suppkey "
    "  JOIN nation n ON n.n_nationkey = s.s_nationkey "
    "  GROUP BY order_year, n.n_name) rev"
)


@_q("nation_market_share", _MARKET_SHARE_SQL)
def nation_market_share(spark, sf_dir):
    """TPC-H Q8-shaped market share: per order-year, each supplier
    nation's share of total revenue. One mergeable aggregation
    shuffling on (year, nation) — bounded by |years| x |nations| —
    then the per-year denominator as a window sum over THAT
    grid-sized relation, so the fact table is scanned and joined
    exactly once (a totals self-join would re-derive the whole fact
    pipeline per consumer — the pagerank edge-derivation lesson). The
    window total is rounded to 2 before dividing so both engines
    divide identical doubles regardless of per-partition summation
    order."""
    from pyspark.sql import Window as W

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.year("o_orderdate").cast("int").alias("order_year"), "n_name"
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    total = F.round(F.sum("revenue").over(W.partitionBy("order_year")), 2)
    return rev.select(
        "order_year",
        "n_name",
        "revenue",
        F.round(F.col("revenue") / total, 6).alias("market_share"),
    )


# -- fixed-iteration PageRank over the customer<->supplier trade graph
#    (analysis/graph.py; the iterative join+groupBy power-iteration
#    shape, oracle-replayed by textually unrolled CTEs) -------------------

_PR_EDGES_SQL = (
    "SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src, "
    "'s' || CAST(l_suppkey AS VARCHAR) AS dst "
    "FROM orders JOIN lineitem ON l_orderkey = o_orderkey "
    "UNION "
    "SELECT 's' || CAST(l_suppkey AS VARCHAR), "
    "'c' || CAST(o_custkey AS VARCHAR) "
    "FROM orders JOIN lineitem ON l_orderkey = o_orderkey"
)


from mpes_spark.analysis.graph import pagerank_sql as _pagerank_sql


def _trade_pairs(spark, sf_dir):
    """One ('c' || custkey, 's' || suppkey) row (a, b) per
    orders x lineitem row: who traded with whom."""
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return o.join(li, o.o_orderkey == li.l_orderkey).select(
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("a"),
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("b"),
    )


def _symmetric(pairs, *carry):
    """Both directions (src, dst, *carry) of each (a, b) row, in ONE
    pass over the orders x lineitem join (a union of two selects would
    execute that join twice inside the pagerank edge checkpoint) —
    same idiom as dedup.connected_components. The 'c'/'s' prefixes
    make the two directions disjoint, so a caller deduplicates or
    counts the (a, b) pairs first (r12): set- and value-identical to
    doing so on the symmetrized relation, with half the rows through
    that exchange."""
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
            )
        ).alias("e"),
        *carry,
    ).select("e.src", "e.dst", *carry)


@_q("pagerank_custsupp", _pagerank_sql(_PR_EDGES_SQL, iters=3, damping=0.85))
def pagerank_custsupp(spark, sf_dir):
    """PageRank (3 power iterations, damping 0.85) over the
    bidirectional customer<->supplier graph induced by who traded
    with whom (orders x lineitem, deduplicated pairs). The adjacency
    (node, neighbours, outdeg) is built in one node-keyed shuffle and
    pinned once; the three iterations are one lazy plan in which the
    adjacency's node-keyed exchange runs once and each iteration adds
    one groupBy(dst) shuffle. The graph is symmetric, so it has no
    dangling node and no dangling term is planned. Normalized ranks
    (mean 1.0) rounded to 6 — see analysis/graph.py for the 100-TB
    notes."""
    from mpes_spark.analysis.graph import pagerank

    pr = pagerank(
        _symmetric(_trade_pairs(spark, sf_dir).distinct()),
        iters=3,
        damping=0.85,
        normalize=True,
    )
    return pr.select("node", F.round("rank_norm", 6).alias("rank_norm"))


from mpes_spark.analysis.graph import label_propagation_sql as _lpa_sql


@_q("label_communities", _lpa_sql(_PR_EDGES_SQL, iters=3))
def label_communities(spark, sf_dir):
    """Synchronous label propagation (Raghavan et al. 2007,
    deterministic min-tie variant; 3 rounds) over the same
    customer<->supplier trade graph as `pagerank_custsupp` — the
    community detector that refines near-dup clusters and groups
    domains. Per round: one node-sized label join (none in round one)
    and one src-keyed shuffle into a ``mode(label, deterministic)``
    aggregate, the most frequent label with the smallest winning ties;
    all-integer, so the oracle hash gate is exact with zero
    rounding."""
    from mpes_spark.analysis.graph import label_propagation

    return label_propagation(_symmetric(_trade_pairs(spark, sf_dir).distinct()), iters=3)


_PR_WEDGES_SQL = (
    "SELECT src, dst, CAST(count(*) AS DOUBLE) AS w FROM ("
    "SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src, "
    "'s' || CAST(l_suppkey AS VARCHAR) AS dst "
    "FROM orders JOIN lineitem ON l_orderkey = o_orderkey "
    "UNION ALL "
    "SELECT 's' || CAST(l_suppkey AS VARCHAR), "
    "'c' || CAST(o_custkey AS VARCHAR) "
    "FROM orders JOIN lineitem ON l_orderkey = o_orderkey"
    ") t GROUP BY src, dst"
)


@_q(
    "pagerank_weighted",
    _pagerank_sql(_PR_WEDGES_SQL, iters=3, damping=0.85, weighted=True),
)
def pagerank_weighted(spark, sf_dir):
    """WEIGHTED PageRank over the customer<->supplier trade graph:
    edge weight = co-trade multiplicity (how many line items connect
    the pair), so each source distributes rank proportionally to
    trade volume instead of uniformly — outdeg becomes the per-source
    weight SUM, contributions r*w/sum_w, weight-sum<=0 sources count
    as dangling (mass conservation). Weights are integer counts, so
    the outdeg sums are exact in both engines; same one-pass
    explode-symmetrize and plan shape as pagerank_custsupp, with the
    count agg replacing the distinct."""
    from mpes_spark.analysis.graph import pagerank

    counted = (
        _trade_pairs(spark, sf_dir)
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    pr = pagerank(
        _symmetric(counted, "w"),
        iters=3,
        damping=0.85,
        normalize=True,
        weight="w",
    )
    return pr.select("node", F.round("rank_norm", 6).alias("rank_norm"))


_COPURCHASE_EDGES_SQL = (
    "SELECT a.l_partkey AS src, b.l_partkey AS dst "
    "FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a "
    "JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b "
    "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey "
    "GROUP BY a.l_partkey, b.l_partkey HAVING count(*) >= 2"
)

from mpes_spark.analysis.graph import triangles_per_node_sql as _tri_sql


from mpes_spark.analysis.graph import kcore_sql as _kcore_sql


@_q("kcore_copurchase", _kcore_sql(_COPURCHASE_EDGES_SQL, k=2, rounds=4))
def kcore_copurchase(spark, sf_dir):
    """2-core of the part co-purchase graph (Seidman 1983 peeling, 4
    unrolled rounds — past the measured peel depth 3 at the gate SF,
    so the gated result IS the true fixpoint): iteratively delete
    degree<2 nodes with their
    edges — the dense-part extractor that melts low-degree periphery
    (spam farms, boilerplate interlinks) off a link graph. The state is
    each node's surviving-neighbour list, and each peel is one
    node-keyed shuffle in one lazy plan (no pins); the
    oracle unrolls the identical peels as chained CTEs, and peeling
    monotonicity means any rounds >= true peel depth is the exact
    fixpoint (pytest asserts it on an engineered chain)."""
    from mpes_spark.analysis.graph import kcore

    edges = _copurchase_edges(spark, sf_dir)
    # copurchase edges are src<dst-unique by construction (groupBy
    # output): skip the canonicalizing distinct (r12)
    return kcore(edges, k=2, rounds=4, assume_canonical=True)


@_q("kcore3_copurchase", _kcore_sql(_COPURCHASE_EDGES_SQL, k=3, rounds=12))
def kcore3_copurchase(spark, sf_dir):
    """3-core of the part co-purchase graph — the discriminating-k
    variant of ``kcore_copurchase`` (VERDICT r7 #7): at the gate SF the
    k=3 peel removes TEN waves before the fixpoint (935-node core
    survives; measured per-SF depths 0/10/2 at sf0.001/0.01/0.1), so
    the unrolled-round machinery is genuinely exercised rather than
    converging in one pass. rounds=12 > max measured depth, and
    peeling monotonicity makes any rounds >= true depth the exact
    fixpoint (pytest asserts this on an engineered squared-path +
    clique graph that peels one wave per round)."""
    from mpes_spark.analysis.graph import kcore

    edges = _copurchase_edges(spark, sf_dir)
    return kcore(edges, k=3, rounds=12, assume_canonical=True)


from mpes_spark.analysis.graph import (
    clustering_coefficient_sql as _cc_sql,
)


def _copurchase_edges(spark, sf_dir):
    """(src, dst) part co-purchase edges: parts co-occurring in >= 2
    distinct orders. Row-local pair generation (r12, the
    copurchase_lift idiom): per-order sorted distinct part set via one
    groupBy, unordered (src < dst) pairs generated IN-ROW, then the
    support count — identical row set to the old ``distinct`` +
    order-key self-join (collect_set = the distinct; the in-row
    (x, y>x) enumeration = the src < dst join condition) while
    removing the distinct's (order, part) exchange and the self-join's
    second exchange. Pairs-per-order is items-per-order squared either
    way, but they never cross an exchange now."""
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p")
    )
    sets = li.groupBy("ok").agg(F.sort_array(F.collect_set("p")).alias("ps"))
    pair_expr = F.expr(
        "flatten(transform(ps, (x, i) -> "
        "transform(slice(ps, i + 2, size(ps)), y -> "
        "struct(x AS src, y AS dst))))"
    )
    return (
        sets.select(F.explode(pair_expr).alias("pr"))
        .groupBy(F.col("pr.src").alias("src"), F.col("pr.dst").alias("dst"))
        .agg(F.count(F.lit(1)).alias("sup"))
        .filter(F.col("sup") >= 2)
        .select("src", "dst")
    )


@_q("clustering_coeff", _cc_sql(_COPURCHASE_EDGES_SQL))
def clustering_coeff(spark, sf_dir):
    """Per-node local clustering coefficient over the part
    co-purchase graph (Watts & Strogatz 1998 — r9 late, layered on
    the degree-ordered triangle counter): every node of degree >= 2
    with (deg, triangles, wedges, cc in integer micro-units via
    exact integer division). ALL columns integers -> exact gate with
    zero float; cost over copurchase_triangles is one degree agg +
    one node-keyed left join. The corpus-curation use: cc separates
    organic co-occurrence neighborhoods (high cc) from hub/spam
    structure (high degree, low cc)."""
    from mpes_spark.analysis.graph import clustering_coefficient

    edges = _copurchase_edges(spark, sf_dir)
    return clustering_coefficient(edges, assume_canonical=True)


@_q("copurchase_triangles", _tri_sql(_COPURCHASE_EDGES_SQL))
def copurchase_triangles(spark, sf_dir):
    """Per-node triangle counts over the part co-purchase graph
    (parts co-occurring in >= 2 distinct orders — the support
    threshold that keeps the relation sparse). Engine side uses
    DEGREE-ORDERED orientation (wedges enumerated only at each edge's
    low endpoint -> O(m^1.5) wedge volume, out-degree bounded by
    sqrt(m) even under celebrity skew); the oracle proves the
    triangle SET with a canonical triple join — orientation is a
    physical optimization, not a semantic one. All-integer output:
    exact hash gate. Edge build is a per-order bucket join (fan-out
    bounded by order size) + one support-filtered count agg."""
    from mpes_spark.analysis.graph import triangle_count

    edges = _copurchase_edges(spark, sf_dir)
    return triangle_count(edges, assume_canonical=True)


# -- anti join (set difference at data scale — the FileCollection
#    'remove' semantics, /root/reference/mpes/base.py:166-182, applied
#    to relations): customers with no orders ------------------------------
@_q(
    "customers_without_orders",
    "SELECT c.c_mktsegment AS segment, CAST(count(*) AS BIGINT) AS n_inactive "
    "FROM customer c WHERE NOT EXISTS "
    "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) "
    "GROUP BY c.c_mktsegment",
)
def customers_without_orders(spark, sf_dir):
    """Anti join — relation-level set difference (FileCollection 'remove'
    semantics, reference mpes/base.py:166-182): customers with no orders.
    """
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_inactive"))
    )


# -- global top-k with deterministic ties (§2.5 sorts/limits):
#    top-10 revenue customers --------------------------------------------
@_q(
    "top_spenders",
    "SELECT * FROM (SELECT l.l_suppkey AS suppkey, "
    "round(sum(l.l_extendedprice), 2) AS revenue FROM lineitem l "
    "GROUP BY suppkey) s ORDER BY revenue DESC, suppkey LIMIT 10",
)
def top_spenders(spark, sf_dir):
    """Global top-k: Spark's TakeOrderedAndProject computes partial
    per-partition top-k map-side, so the exchange carries k rows per
    partition — scale-safe for any input size."""
    li = t(spark, sf_dir, "lineitem")
    agg = li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.round(F.sum("l_extendedprice"), 2).alias("revenue")
    )
    return agg.orderBy(F.col("revenue").desc(), F.col("suppkey")).limit(10)


# -- union of event tables (appendRow,
#    /root/reference/mpes/fprocessing.py:2413-2433) -------------------------
@_q(
    "union_append",
    "SELECT event_type, CAST(count(*) AS BIGINT) AS cnt FROM ("
    "SELECT * FROM events WHERE event_type = 'click' "
    "UNION ALL SELECT * FROM events WHERE event_type = 'view') "
    "GROUP BY event_type",
)
def union_append(spark, sf_dir):
    """Union of event tables with a distinguishing source tag (appendRow,
    reference mpes/fprocessing.py:2413-2433).
    """
    ev = t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click")
    b = ev.filter(F.col("event_type") == "view")
    return (
        a.unionByName(b)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


# ===========================================================================
# §2.6 ridge aggregation + §2.3 time queries
# ===========================================================================

@_q(
    "ridge_agg",
    "SELECT l_returnflag AS val, l_linenumber AS x, "
    "round(avg(l_quantity), 6) AS mean_y, min(l_quantity) AS min_y, "
    "CAST(count(*) AS BIGINT) AS cnt FROM lineitem GROUP BY val, x",
)
def ridge_agg(spark, sf_dir):
    """Per-label ridge extraction groupBy-agg (``ridgeDetect``,
    /root/reference/mpes/analysis.py:1300-1356)."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.col("l_returnflag").alias("val"), F.col("l_linenumber").alias("x")
    ).agg(
        F.round(F.avg("l_quantity"), 6).alias("mean_y"),
        F.min("l_quantity").alias("min_y"),
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
    )


@_q(
    "count_rate",
    "SELECT epoch_ns(ts) // 60000000000 AS minute, "
    "CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY minute",
)
def count_rate(spark, sf_dir):
    """Events/minute trace (``getCountRate``,
    /root/reference/mpes/fprocessing.py:1086-1108) — event-time
    tumbling windows keyed by epoch integer for oracle parity (Spark
    sees epoch-nanos longs, see :func:`t`). Integer division on both
    engines: epoch-nanos exceed 2^53, double floor-divide misbuckets
    boundary events."""
    ev = t(spark, sf_dir, "events")
    return ev.groupBy(
        F.expr("ts div 60000000000").alias("minute")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))


# -- §2.7 window-function analogs -------------------------------------------

# moving-block smoothing of a histogram (blocknorm/savgol analog,
# /root/reference/mpes/analysis.py:1184-1208): centered 5-tap moving
# average per group, ANSI window frame on both engines
_AX_MA = BinAxis("value", nbins=100, lo=0.0, hi=500.0)


@_q(
    "hist_moving_avg",
    "SELECT event_type, value_bin, cnt, "
    "round(avg(cnt) OVER (PARTITION BY event_type ORDER BY value_bin "
    "ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING), 6) AS smooth "
    f"FROM ({bin_sparse_sql('events', [_AX_MA], extra_keys=['event_type'])}) h",
)
def hist_moving_avg(spark, sf_dir):
    """Centered 5-bin moving average over per-type histogram counts — a
    partitioned window over the aggregated grid.
    """
    from pyspark.sql.window import Window

    h = bin_sparse(t(spark, sf_dir, "events"), [_AX_MA], extra_keys=["event_type"])
    w = (
        Window.partitionBy("event_type")
        .orderBy("value_bin")
        .rowsBetween(-2, 2)
    )
    return h.select(
        "event_type", "value_bin", "cnt", F.round(F.avg("cnt").over(w), 6).alias("smooth")
    )


# lag-based count-rate derivative — the actual getCountRate semantic
# (d(count)/dt, /root/reference/mpes/fprocessing.py:1086-1108)
@_q(
    "count_rate_derivative",
    "SELECT minute, cnt, cnt - lag(cnt) OVER (ORDER BY minute) AS dcnt FROM ("
    "SELECT epoch_ns(ts) // 60000000000 AS minute, "
    "CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY minute) r",
)
def count_rate_derivative(spark, sf_dir):
    """Window over the *aggregated* per-minute trace (rows = minutes,
    driver-scale) — the unpartitioned orderBy is bounded by scan
    duration, not event count. Integer ns arithmetic (2^53 hazard)."""
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events")
    rate = ev.groupBy(
        F.expr("ts div 60000000000").alias("minute")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    w = Window.orderBy("minute")
    return rate.select(
        "minute", "cnt", (F.col("cnt") - F.lag("cnt").over(w)).alias("dcnt")
    )


# -- timeStamps reconstruction from msMarkers (range join,
#    /root/reference/mpes/fprocessing.py:664-697): the marker table holds
#    the first event index of each elapsed millisecond; every event gets
#    the timestamp of its containing marker interval ------------------------

_MS_T0_NS = 1_704_067_200_000_000_000  # file-start attr analog (2024-01-01)
_MS_MARKERS = [(ms, ms * 500) for ms in range(20)]  # (ms, first event index)


def _timestamps_sql(dialect: str) -> str:
    vals = ", ".join(f"({ms}, {start})" for ms, start in _MS_MARKERS)
    if dialect == "spark":
        mk = f"VALUES {vals} AS m(ms, start_idx)"
    else:
        mk = f"(VALUES {vals}) m(ms, start_idx)"
    return f"""
WITH idx AS (
  SELECT event_id, row_number() OVER (ORDER BY event_id) - 1 AS ei FROM events
)
SELECT m.ms, CAST({_MS_T0_NS} + m.ms * 1000000 AS BIGINT) AS ts_ns,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(min(i.ei) AS BIGINT) AS first_idx, CAST(max(i.ei) AS BIGINT) AS last_idx
FROM idx i JOIN {mk}
  ON i.ei >= m.start_idx AND i.ei < m.start_idx + 500
GROUP BY m.ms
""".strip()


@_q("timestamps_from_markers", _timestamps_sql("duckdb"))
def timestamps_from_markers(spark, sf_dir):
    """Range join of event index against ms-marker intervals (SURVEY
    risk 6). The marker relation is tiny -> broadcast nested-loop on
    the inequality; at ingest scale the marker table is per-file and
    the join is per-file local."""
    t(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_timestamps_sql("spark"))


@_q(
    "elapsed_time",
    "SELECT CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT) AS elapsed_us "
    "FROM events",
)
def elapsed_time(spark, sf_dir):
    """Scan duration (``getElapsedTime``,
    /root/reference/mpes/fprocessing.py:1110-1119). Compared at
    microsecond precision: DuckDB truncates ns-parquet timestamps to
    its us-precision TIMESTAMP; integer division (not double, ns
    magnitudes exceed 2^53) mirrors that truncation."""
    ev = t(spark, sf_dir, "events")
    return ev.agg(
        F.expr("(max(ts) div 1000) - (min(ts) div 1000)").alias("elapsed_us")
    )


# -- exact quantiles (interpolating percentile — Spark `percentile`
#    and DuckDB `quantile_cont` share the interpolation rule) ---------------
@_q(
    "value_quantiles",
    "SELECT event_type, round(quantile_cont(value, 0.25), 6) AS q25, "
    "round(quantile_cont(value, 0.5), 6) AS q50, "
    "round(quantile_cont(value, 0.75), 6) AS q75 "
    "FROM events GROUP BY event_type",
)
def value_quantiles(spark, sf_dir):
    """Exact interpolating per-group quartiles — Spark percentile() and
    DuckDB quantile_cont share the interpolation rule.
    """
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.25D)"), 6).alias("q25"),
        F.round(F.expr("percentile(value, 0.5D)"), 6).alias("q50"),
        F.round(F.expr("percentile(value, 0.75D)"), 6).alias("q75"),
    )


# -- CUBE rollup (multi-granularity aggregation in one pass; cube keys
#    coalesced to a sentinel so the hash compare never sees NULL keys) ------
@_q(
    "cube_rollup",
    "SELECT coalesce(l_returnflag, '(all)') AS rf, "
    "coalesce(l_linestatus, '(all)') AS ls, "
    "CAST(count(*) AS BIGINT) AS cnt, round(sum(l_quantity), 2) AS qty "
    "FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)",
)
def cube_rollup(spark, sf_dir):
    """CUBE over two keys in one pass, subtotal keys coalesced to
    sentinels so the hash compare never sees NULL grouping keys.
    """
    li = t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.round(F.sum("l_quantity"), 2).alias("qty"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("(all)")).alias("rf"),
            F.coalesce(F.col("l_linestatus"), F.lit("(all)")).alias("ls"),
            "cnt",
            "qty",
        )
    )


# -- explicit GROUPING SETS (non-chained granularities in one pass —
#    CUBE/ROLLUP are the closed forms; this is the general one,
#    with grouping_id() disambiguating all-NULL data keys) ----------------

_GSETS_SQL = (
    "SELECT coalesce(l_returnflag, '(all)') AS rf, "
    "coalesce(l_linestatus, '(all)') AS ls, "
    "CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INTEGER) "
    "  AS gid, "
    "CAST(count(*) AS BIGINT) AS cnt, round(sum(l_extendedprice), 2) AS rev "
    "FROM lineitem GROUP BY GROUPING SETS "
    "((l_returnflag, l_linestatus), (l_linestatus), ())"
)


@_q("grouping_sets_report", _GSETS_SQL)
def grouping_sets_report(spark, sf_dir):
    """GROUPING SETS with a non-rollup-chain set list ((rf, ls),
    (ls), ()) — one expand + one aggregation pass where three
    separate groupBys would scan thrice; grouping_id marks which set
    each output row belongs to (the only reliable way once data keys
    can be NULL). Same single-scan contract as `cube_rollup`, general
    set lists."""
    return spark.sql(
        "SELECT coalesce(l_returnflag, '(all)') AS rf, "
        "coalesce(l_linestatus, '(all)') AS ls, "
        "CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INT) "
        "  AS gid, "
        "CAST(count(*) AS BIGINT) AS cnt, "
        "round(sum(l_extendedprice), 2) AS rev "
        f"FROM parquet.`{sf_dir}/lineitem.parquet` GROUP BY GROUPING SETS "
        "((l_returnflag, l_linestatus), (l_linestatus), ())"
    )


from mpes_spark.dq import table_checksum_sql as _cksum_sql

_CKSUM_TABLES = {'customer': (['c_custkey', 'c_name', 'c_nationkey', 'c_mktsegment', 'c_acctbal'], ['c_acctbal']), 'supplier': (['s_suppkey', 's_name', 's_nationkey', 's_acctbal'], ['s_acctbal']), 'part': (['p_partkey', 'p_name', 'p_brand', 'p_type', 'p_size', 'p_retailprice'], ['p_retailprice']), 'nation': (['n_nationkey', 'n_name', 'n_regionkey'], [])}

_CKSUM_SQL = " UNION ALL ".join(
    _cksum_sql(tbl, cs, ms) for tbl, (cs, ms) in _CKSUM_TABLES.items()
)


@_q("table_checksums", _CKSUM_SQL)
def table_checksums(spark, sf_dir):
    """Order-insensitive table digests for migration/replication
    validation: bit_xor over the seeded md5-family row hash + row
    count, one row per audited dimension table. O(1) aggregate state
    per partition, map-side combined — the scale-correct alternative
    to sort-and-diff, and the exact check a 100-TB cross-cluster copy
    runs on both sides. Money doubles canonicalize to cent BIGINTs
    (float rendering is not engine-portable; cents are)."""
    from mpes_spark.dq import table_checksum

    outs = [
        table_checksum(t(spark, sf_dir, tbl), tbl, cs, ms)
        for tbl, (cs, ms) in _CKSUM_TABLES.items()
    ]
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


_DIGEST_COLS = (["o_orderkey", "o_custkey", "o_totalprice"], ["o_totalprice"])
_DIGEST_DIFF_SQL = None  # built below (needs the dq builders)


def _digest_diff_oracle() -> str:
    from mpes_spark.dq import partition_digests_sql

    a = partition_digests_sql("orders", "o_orderkey", *_DIGEST_COLS, nbuckets=64)
    b = partition_digests_sql(
        "(SELECT * FROM orders WHERE o_orderkey <> "
        "(SELECT min(o_orderkey) FROM orders)) replica",
        "o_orderkey",
        *_DIGEST_COLS,
        nbuckets=64,
    )
    return (
        f"WITH da AS ({a}), db AS ({b}) "
        "SELECT coalesce(da.bucket, db.bucket) AS bucket, "
        "da.n_rows AS n_a, da.checksum AS checksum_a, "
        "db.n_rows AS n_b, db.checksum AS checksum_b "
        "FROM da FULL OUTER JOIN db ON db.bucket = da.bucket "
        "WHERE da.n_rows IS DISTINCT FROM db.n_rows "
        "OR da.checksum IS DISTINCT FROM db.checksum"
    )


@_q("partition_digest_diff", _digest_diff_oracle())
def partition_digest_diff(spark, sf_dir):
    """Merkle-style replica-divergence localization: both tables
    collapse to 64 per-bucket (n_rows, xor-checksum) digests (rows
    hash-bucketed on the key by the seeded md5 family, so any two
    engines/clusters agree on the bucketing), and a bucket-sized
    full-outer join reports only the buckets that differ — here the
    simulated replica dropped the minimum order key, so exactly one
    bucket surfaces. The anti-entropy loop at 100 TB: re-digest a
    differing bucket at finer grain, then hand the isolated range to
    the row-level CDC diff (transforms/cdc.table_diff_feed). Two agg
    scans + a 64-row join — data rows never shuffle."""
    from mpes_spark.dq import digest_diff, partition_digests

    o = t(spark, sf_dir, "orders")
    min_key = o.agg(F.min("o_orderkey")).collect()[0][0]  # scalar-bounded
    replica = o.filter(F.col("o_orderkey") != F.lit(min_key))
    da = partition_digests(o, "o_orderkey", *_DIGEST_COLS, nbuckets=64)
    db = partition_digests(replica, "o_orderkey", *_DIGEST_COLS, nbuckets=64)
    return digest_diff(da, db)


_CORR_SQL = (
    "SELECT round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price, "
    "round(corr(l_quantity, l_discount), 6) AS corr_qty_disc, "
    "round(corr(l_quantity, l_tax), 6) AS corr_qty_tax, "
    "round(corr(l_extendedprice, l_discount), 6) AS corr_price_disc, "
    "round(corr(l_extendedprice, l_tax), 6) AS corr_price_tax, "
    "round(corr(l_discount, l_tax), 6) AS corr_disc_tax "
    "FROM lineitem"
)


@_q("measure_corr_matrix", _CORR_SQL)
def measure_corr_matrix(spark, sf_dir):
    """Pairwise Pearson correlations of the four lineitem measures in
    ONE aggregation pass (six co-moment accumulators riding a single
    scan) — the profiling step before feature selection / drift
    modeling. Rounded to 6: both engines run numerically stable
    co-moment updates whose only divergence is summation order."""
    li = t(spark, sf_dir, "lineitem")
    m = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    short = {"l_quantity": "qty", "l_extendedprice": "price",
             "l_discount": "disc", "l_tax": "tax"}
    aggs = []
    for i in range(len(m)):
        for j in range(i + 1, len(m)):
            aggs.append(
                F.round(F.corr(m[i], m[j]), 6).alias(
                    f"corr_{short[m[i]]}_{short[m[j]]}"
                )
            )
    return li.agg(*aggs)


_MAD_SQL = (
    "WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS m "
    "  FROM events GROUP BY event_type) "
    "SELECT e.event_type, round(min(med.m), 6) AS median_value, "
    "round(quantile_cont(abs(e.value - med.m), 0.5), 6) AS mad "
    "FROM events e JOIN med ON med.event_type = e.event_type "
    "GROUP BY e.event_type"
)


@_q("mad_robust_scale", _MAD_SQL)
def mad_robust_scale(spark, sf_dir):
    """Median absolute deviation per group — the robust scale
    estimator (50% breakdown point; stddev's is 0%: one corrupted
    sensor value swings sigma arbitrarily, while MAD needs half the
    data corrupted). The anomaly-scoring denominator production
    monitors should use where value streams have fat tails. Two
    passes: per-group exact median (Spark `percentile` ==
    DuckDB `quantile_cont`, the value_quantiles-proven pairing), a
    broadcast-sized join back (one row per group), then the median
    of absolute deviations."""
    ev = t(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5D)").alias("m")
    )
    return (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.min("m"), 6).alias("median_value"),
            F.round(
                F.expr("percentile(abs(value - m), 0.5D)"), 6
            ).alias("mad"),
        )
    )


_ZIPF_SQL = """
WITH tf AS (
  SELECT tok, count(*) AS freq FROM (
    SELECT unnest(string_split(text, ' ')) AS tok FROM documents
  ) t GROUP BY tok
),
rk AS (
  SELECT ln(CAST(row_number() OVER (ORDER BY freq DESC, tok) AS DOUBLE))
           AS lx,
         ln(CAST(freq AS DOUBLE)) AS ly
  FROM tf
)
SELECT CAST(count(*) AS BIGINT) AS n_types,
       round(regr_slope(ly, lx), 6) AS zipf_slope,
       round(regr_intercept(ly, lx), 6) AS zipf_intercept
FROM rk
""".strip()


@_q("zipf_slope", _ZIPF_SQL)
def zipf_slope(spark, sf_dir):
    """Zipf exponent of the corpus: OLS slope of log(freq) vs
    log(rank) over the full term-frequency table — natural text sits
    near -1; a synthetic or template-dominated corpus shows up
    immediately as a flat (head-heavy vocabulary, no rare tail) or
    cliff-shaped fit, the one-number companion to the vocab_growth
    curve. Shape: one token count agg, a rank window over the
    TYPE-grained relation, and closed-form OLS from first/second
    moments (slope = cov/var — Spark covar_samp/var_samp against
    DuckDB's regr_*, identical after the (n-1) cancels); 6-decimal
    round sits ~6 orders above the cross-engine summation residual.

    100-TB note: the global rank window is fine while the vocabulary
    fits a partition; at web scale fit the freq >= K HEAD instead —
    head ranks are UNAFFECTED by dropping the tail (a freq-1 type
    never precedes a freq >= 2 type in the order), so the standard
    head-only Zipf fit needs no ranking of the hapax mass at all,
    only its count if the tail point is wanted."""
    toks = (
        _docs_tbl(spark, sf_dir)
        .select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    from pyspark.sql import Window as _Win

    w = _Win.orderBy(F.col("freq").desc(), F.col("tok"))
    rk = toks.select(
        F.log(F.row_number().over(w).cast("double")).alias("lx"),
        F.log(F.col("freq").cast("double")).alias("ly"),
    )
    slope = F.covar_samp("ly", "lx") / F.var_samp("lx")
    intercept = F.avg("ly") - slope * F.avg("lx")
    return rk.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(intercept, 6).alias("zipf_intercept"),
    )


def _docs_tbl(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


_WINSOR_SQL = (
    "WITH b AS (SELECT event_type, "
    "  quantile_cont(value, 0.05) AS lo, quantile_cont(value, 0.95) AS hi "
    "  FROM events GROUP BY event_type) "
    "SELECT e.event_type, CAST(count(*) AS BIGINT) AS n, "
    "round(round(sum(least(greatest(e.value, b.lo), b.hi)), 4) "
    "  / count(*), 6) AS winsor_mean, "
    "CAST(sum(CASE WHEN e.value < b.lo OR e.value > b.hi "
    "  THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped "
    "FROM events e JOIN b ON b.event_type = e.event_type "
    "GROUP BY e.event_type"
)


@_q("winsorized_stats", _WINSOR_SQL)
def winsorized_stats(spark, sf_dir):
    """Robust (5%-95% winsorized) per-group mean — the
    outlier-resistant profile a DQ pipeline trends instead of the raw
    mean a single corrupt reading can drag. Two passes over the
    group: exact interpolated percentiles (Spark `percentile` and
    DuckDB `quantile_cont` share the interpolation rule) produce a
    |group|-bounded clip-bound relation that broadcasts back; clip +
    sum rides the second scan. Percentile bounds are exact on both
    engines (interpolation of identical sorted doubles); the clipped
    sum is rounded before the divide, per the determinism rule. At
    100 TB the exact percentile becomes approx_percentile and the
    bounds relation is unchanged — the documented swap point."""
    ev = t(spark, sf_dir, "events")
    b = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05D)").alias("lo"),
        F.expr("percentile(value, 0.95D)").alias("hi"),
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return (
        ev.join(F.broadcast(b), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(
                F.round(F.sum(clipped), 4) / F.count(F.lit(1)), 6
            ).alias("winsor_mean"),
            F.sum(
                (
                    (F.col("value") < F.col("lo"))
                    | (F.col("value") > F.col("hi"))
                ).cast("bigint")
            ).alias("n_clipped"),
        )
    )


_OVERLAP_SQL = (
    "WITH iv AS (SELECT user_id, epoch_ns(ts) AS s, "
    "  lead(epoch_ns(ts)) OVER (PARTITION BY user_id "
    "    ORDER BY epoch_ns(ts), event_id) AS e "
    "  FROM events WHERE user_id < 10), "
    "a AS (SELECT * FROM iv WHERE e IS NOT NULL) "
    "SELECT x.user_id AS u1, y.user_id AS u2, "
    "CAST(count(*) AS BIGINT) AS n_overlaps "
    "FROM a x JOIN a y ON x.user_id < y.user_id "
    "AND x.s < y.e AND y.s < x.e "
    "GROUP BY x.user_id, y.user_id"
)


@_q("session_overlap_pairs", _OVERLAP_SQL)
def session_overlap_pairs(spark, sf_dir):
    """Interval-interval overlap join (the two-sided sibling of
    `range_join_binned` — genomics/session-overlap shape) over
    per-user validity intervals: for each user pair, how many of
    their intervals overlap in time. Both interval sides explode to
    covering day-bins and equi-join on the bin id; each pair is
    emitted in exactly ONE canonical bin (the bin of the overlap's
    first instant), so the output needs NO distinct pass. The oracle
    is the plain inequality join DuckDB can afford at sf0.01 and a
    1000-executor cluster cannot at 100 TB."""
    from pyspark.sql.window import Window as W

    from mpes_spark.transforms.joins import overlap_join_binned

    day_ns = 86_400_000_000_000
    ev = t(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    iv = (
        ev.select("user_id", "ts", "event_id")
        .withColumn("e", F.lead("ts").over(w))
        .filter(F.col("e").isNotNull())
        .select(F.col("user_id"), F.col("ts").alias("s"), F.col("e"))
    )
    a = iv.select(
        F.col("user_id").alias("u1"),
        F.col("s").alias("a_s"),
        F.col("e").alias("a_e"),
    )
    b = iv.select(
        F.col("user_id").alias("u2"),
        F.col("s").alias("b_s"),
        F.col("e").alias("b_e"),
    )
    pairs = overlap_join_binned(
        a, b,
        left_start="a_s", left_end="a_e",
        right_start="b_s", right_end="b_e",
        bin_width=float(day_ns),
    ).filter(F.col("u1") < F.col("u2"))
    return pairs.groupBy("u1", "u2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_overlaps")
    )


_EXACT_MEDIAN_SQL = (
    "SELECT round(value, 6) AS median_value FROM ("
    "  SELECT value, row_number() OVER (ORDER BY value) AS rn, "
    "  count(*) OVER () AS n FROM events WHERE value IS NOT NULL) t "
    "WHERE rn = ((n - 1) // 2) + 1"
)


@_q("exact_median_value", _EXACT_MEDIAN_SQL)
def exact_median_value(spark, sf_dir):
    """EXACT distributed median with no global sort: iterative
    histogram narrowing (diagnostics.exact_quantile — two binned
    scans shrink the candidate range ~1024^2x, then a bounded ordered
    take). The lower/type-1 quantile is an actual data element, so
    the result is engine-exact by construction; the oracle states the
    rank definition directly. At 100 TB this is two column scans
    where a sort-based median is a full-table exchange."""
    from mpes_spark.diagnostics import exact_quantile

    m = exact_quantile(t(spark, sf_dir, "events"), "value", 0.5)
    return spark.createDataFrame(
        [(round(m, 6),)], "median_value double"
    )


@_q("approx_vs_exact_median", None)  # sketch: engine-specific, rows-only
def approx_vs_exact_median(spark, sf_dir):
    """Comparative row for the two production median paths: the exact
    histogram-narrowing answer (diagnostics.exact_quantile, two
    binned scans) next to the approx_percentile sketch (one scan,
    bounded error) and their relative error. The sketch is the
    default at 100 TB (one pass); the exact path is the audit tool —
    this row keeps BOTH under the bench clock so the speed/accuracy
    trade carries numbers. Rows-only: sketch internals are
    engine-specific."""
    from mpes_spark.diagnostics import exact_quantile

    ev = t(spark, sf_dir, "events")
    exact = exact_quantile(ev, "value", 0.5)
    approx = ev.agg(
        F.expr("approx_percentile(value, 0.5D, 10000)").alias("a")
    ).collect()[0]["a"]
    rel_err = abs(approx - exact) / abs(exact) if exact else 0.0
    return spark.createDataFrame(
        [(round(exact, 6), round(float(approx), 6), round(rel_err, 9))],
        "exact_median double, approx_median double, rel_err double",
    )


_CDF_SQL = (
    "WITH a AS (SELECT user_id, value FROM ("
    "  SELECT user_id, value, row_number() OVER (PARTITION BY user_id "
    "    ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn "
    f"  FROM events WHERE epoch_ns(ts) < {_T1_NS}) q WHERE rn = 1), "
    "b AS (SELECT user_id, value FROM ("
    "  SELECT user_id, value, row_number() OVER (PARTITION BY user_id "
    "    ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn "
    f"  FROM events WHERE epoch_ns(ts) < {_T2_NS}) q WHERE rn = 1) "
    "SELECT coalesce(a.user_id, b.user_id) AS user_id, "
    "CASE WHEN a.user_id IS NULL THEN 'insert' "
    "     WHEN b.user_id IS NULL THEN 'delete' ELSE 'update' END AS op, "
    "a.value AS old_value, b.value AS new_value "
    "FROM a FULL OUTER JOIN b ON a.user_id = b.user_id "
    "WHERE NOT (a.user_id IS NOT NULL AND b.user_id IS NOT NULL "
    "  AND a.value IS NOT DISTINCT FROM b.value)"
)


@_q("change_data_feed", _CDF_SQL)
def change_data_feed(spark, sf_dir):
    """Row-level change feed between two snapshot cutoffs — the
    record-level companion of `snapshot_diff` (which only counts):
    (key, op, before, after) for every key whose latest state
    changed, unchanged keys filtered BEFORE the feed materializes so
    the output is delta-sized. One full-outer key join; NULL-safe
    comparison registers value<->NULL transitions as updates. The
    relation a search-index/cache/replication consumer applies
    (transforms/cdc.apply_diff_feed round-trips it exactly)."""
    from pyspark.sql.window import Window as W

    from mpes_spark.transforms.cdc import table_diff_feed

    ev = t(spark, sf_dir, "events")

    def snap(cut_ns):
        w = W.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        return (
            ev.filter(F.col("ts") < cut_ns)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "value")
        )

    feed = table_diff_feed(
        snap(_T1_NS), snap(_T2_NS), key="user_id", compare=["value"]
    )
    return feed.select(
        "user_id", "op",
        F.col("old_value"), F.col("new_value"),
    )


# -- top event paths (3-step journey mining: two leads + bounded agg) ----

_TOP_PATHS_SQL = (
    "WITH p AS (SELECT event_type AS e1, "
    "  lead(event_type, 1) OVER w AS e2, lead(event_type, 2) OVER w AS e3 "
    "  FROM events "
    "  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)) "
    "SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS cnt FROM p "
    "WHERE e2 IS NOT NULL AND e3 IS NOT NULL "
    "GROUP BY e1, e2, e3 ORDER BY cnt DESC, e1, e2, e3 LIMIT 5"
)


@_q("top_paths", _TOP_PATHS_SQL)
def top_paths(spark, sf_dir):
    """Most common 3-step user journeys: one shuffle on user_id, two
    sorted leads (per-partition state is two rows), agg bounded by
    |types|^3, TakeOrdered top-5. The trigram generalization of
    `event_transitions`."""
    from pyspark.sql.window import Window as W

    ev = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    p = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    return (
        p.filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
        .groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "e1", "e2", "e3")
        .limit(5)
    )


# -- first-touch attribution (the window-bounded dual of the as-of
#    join: EARLIEST touch inside the lookback, not latest-before) --------

_WEEK7_NS = 7 * 86_400_000_000_000

_FIRST_TOUCH_SQL = (
    "SELECT p.event_id, CAST(min(epoch_us(c.ts)) AS BIGINT) "
    "  AS first_click_us, "
    "CAST(count(*) AS BIGINT) AS n_window_clicks "
    "FROM (SELECT event_id, user_id, epoch_ns(ts) AS tns FROM events "
    "WHERE event_type = 'purchase') p "
    "JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c "
    "ON c.user_id = p.user_id AND epoch_ns(c.ts) <= p.tns "
    f"AND epoch_ns(c.ts) > p.tns - {_WEEK7_NS} "
    "GROUP BY p.event_id"
)


@_q("first_touch_attribution", _FIRST_TOUCH_SQL)
def first_touch_attribution(spark, sf_dir):
    """First-touch attribution: for each purchase, the EARLIEST click
    of the same user inside a 7-day lookback (plus how many clicks
    the window held). Equi-join on user_id with the time bounds as
    residual predicates — the same join shape as `asof_latest_event`,
    min instead of max, bounded window instead of open-ended. At
    skew, the per-user click fan-out is capped by the lookback."""
    ev = t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", F.col("user_id").alias("pu"), F.col("ts").alias("pts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    return (
        p.join(
            c,
            (F.col("cu") == F.col("pu"))
            & (F.col("cts") <= F.col("pts"))
            & (F.col("cts") > F.col("pts") - F.lit(_WEEK7_NS)),
        )
        .groupBy("event_id")
        .agg(
            F.expr("CAST(min(cts) div 1000 AS BIGINT)").alias("first_click_us"),
            F.count(F.lit(1)).cast("bigint").alias("n_window_clicks"),
        )
    )


# -- distinct counting: exact (oracled) and HLL sketch (approximate;
#    engines use different sketch impls -> rows-only + tolerance test) ------
@_q(
    "distinct_users",
    "SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users "
    "FROM events GROUP BY event_type",
)
def distinct_users(spark, sf_dir):
    """Exact per-type distinct-user counts (the oracled twin of the HLL
    sketch variant).
    """
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users")
    )


@_q("hll_distinct_users", None)  # sketch impls differ across engines
def hll_distinct_users(spark, sf_dir):
    """HyperLogLog++ approximate distinct — the sketch path for
    cardinalities where exact distinct's shuffle is prohibitive;
    accuracy vs exact asserted in tests/test_misc_ops.py."""
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("n_users_approx")
    )


# -- join-key skew profile (diagnostics.py: the one-pass answer to
#    "salt this key or not?" — per-key counts collapse map-side, every
#    statistic computed over the n_keys-row relation) -----------------------
from mpes_spark.diagnostics import key_skew_profile as _key_skew_profile
from mpes_spark.diagnostics import key_skew_profile_sql as _key_skew_profile_sql


@_q("key_skew_profile", _key_skew_profile_sql("lineitem", "l_suppkey"))
def key_skew_profile_suppkey(spark, sf_dir):
    """Skew profile of lineitem.l_suppkey — the join key whose
    distribution decides between a plain shuffle join, salting
    (`salted_agg_counts`), and AQE skew splitting: heaviest-key
    share (the straggler lower bound), top-10 mass, Shannon entropy
    vs the uniform ln(n_keys) ceiling."""
    return _key_skew_profile(t(spark, sf_dir, "lineitem"), "l_suppkey")


# -- skew-salted two-phase aggregation (scale technique: hot group
#    keys spread over salt buckets, then merged; result is exactly the
#    plain aggregation, which is what the oracle computes) ------------------
@_q(
    "salted_agg_counts",
    "SELECT event_type, CAST(count(*) AS BIGINT) AS count_value, "
    "round(sum(value), 4) AS sum_value FROM events GROUP BY event_type",
)
def salted_agg_counts(spark, sf_dir):
    """Skew-salted two-phase aggregation: hot keys spread over salt
    buckets then merged — result provably equals the plain GROUP BY.
    """
    from mpes_spark.transforms.columns import salted_agg

    out = salted_agg(
        t(spark, sf_dir, "events"),
        keys=["event_type"],
        aggs={"value": "sum"},
        salt_buckets=8,
    )
    cnt = salted_agg(
        t(spark, sf_dir, "events"),
        keys=["event_type"],
        aggs={"value": "count"},
        salt_buckets=8,
    ).withColumnRenamed("count_value", "cv")
    return (
        out.join(cnt, "event_type")
        .select(
            "event_type",
            F.col("cv").cast("bigint").alias("count_value"),
            F.round(F.col("sum_value"), 4).alias("sum_value"),
        )
    )


# -- Z-order (Morton) layout clustering key (r8): the data-LAYOUT
#    complement of predicate pushdown — cluster a 100 TB event table by
#    z(value_bin, user_bucket) and rectangular window queries prune to
#    O(perimeter) files ------------------------------------------------------
from mpes_spark.transforms.columns import morton_key_expr, morton_key_sql  # noqa: E402

_Z_X = "CAST(floor(value / 8.0) AS BIGINT)"
_Z_Y = "(user_id % 64)"


@_q(
    "morton_tile_counts",
    "SELECT CAST(floor(z / 256) AS BIGINT) AS tile, "
    "CAST(count(*) AS BIGINT) AS n_events, "
    "CAST(min(z) AS BIGINT) AS z_lo, CAST(max(z) AS BIGINT) AS z_hi FROM ("
    f"SELECT {morton_key_sql([_Z_X, _Z_Y], bits=7)} AS z "
    "FROM events WHERE value >= 0 AND value < 1024"
    ") t GROUP BY tile",
)
def morton_tile_counts(spark, sf_dir):
    """Z-order layout-clustering key under the hash gate: events keyed
    by the Morton interleave of (value bin, user bucket), rolled up to
    16x16 z-tiles (z div 256) with per-tile z ranges — the layout audit
    you run before range-partitioning a 100 TB table by z so
    rectangular (value, user) window scans prune to O(perimeter)
    files. Pure integer bit algebra, bit-identical in both engines."""
    ev = t(spark, sf_dir, "events").filter(
        (F.col("value") >= 0) & (F.col("value") < 1024)
    )
    x = F.floor(F.col("value") / 8.0).cast("bigint")
    y = F.col("user_id") % 64
    z = morton_key_expr([x, y], bits=7)
    return (
        ev.select(z.alias("z"))
        .withColumn("tile", F.floor(F.col("z") / 256).cast("bigint"))
        .groupBy("tile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.min("z").cast("bigint").alias("z_lo"),
            F.max("z").cast("bigint").alias("z_hi"),
        )
    )


_Z3_C = "(ascii(substr(event_type, 1, 1)) % 32)"


@_q(
    "morton3_tile_counts",
    "SELECT CAST(floor(z / 512) AS BIGINT) AS tile, "
    "CAST(count(*) AS BIGINT) AS n_events, "
    "CAST(min(z) AS BIGINT) AS z_lo, CAST(max(z) AS BIGINT) AS z_hi FROM ("
    f"SELECT {morton_key_sql(['CAST(floor(value / 32.0) AS BIGINT)', '(user_id % 32)', _Z3_C], bits=5)} AS z "
    "FROM events WHERE value >= 0 AND value < 1024"
    ") t GROUP BY tile",
)
def morton3_tile_counts(spark, sf_dir):
    """3-D Z-order key under the hash gate (r9, VERDICT #9): the
    Morton interleave of (value bin, user bucket, event-type code) —
    the volumetric layout audit for a table queried by 3-D windows
    (kx, ky, E crops are exactly this shape at 100 TB). 5 bits per
    dimension -> 15-bit z, rolled up to 8^3-cell tiles (z div 512)
    with per-tile z ranges. Same shift-free mask-and-scale bit
    algebra as the 2-D gate; ``write_z_ordered(layout='tiles')``
    (io/writers.py) is the write-path API of this key."""
    ev = t(spark, sf_dir, "events").filter(
        (F.col("value") >= 0) & (F.col("value") < 1024)
    )
    x = F.floor(F.col("value") / 32.0).cast("bigint")
    y = F.col("user_id") % 32
    c = F.ascii(F.substring("event_type", 1, 1)) % 32
    z = morton_key_expr([x, y, c], bits=5)
    return (
        ev.select(z.alias("z"))
        .withColumn("tile", F.floor(F.col("z") / 512).cast("bigint"))
        .groupBy("tile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.min("z").cast("bigint").alias("z_lo"),
            F.max("z").cast("bigint").alias("z_hi"),
        )
    )


# -- distributed per-group spectral analysis (applyInPandas over the
#    sparse histogram relation; iterative algorithms -> no SQL oracle,
#    numpy parity lives in tests/test_analysis.py) --------------------------
_AX_SH = BinAxis("value", nbins=60, lo=0.0, hi=480.0)


@_q("edc_shirley_grouped", None)
def edc_shirley_grouped(spark, sf_dir):
    """Per-group Shirley background subtraction (``shirley``,
    /root/reference/mpes/analysis.py:58-155) batched over groups with
    applyInPandas — one shuffle on the group key, grid-bounded
    per-task memory."""
    from mpes_spark.analysis.grouped import shirley_per_group

    hist = histogram_per_group(t(spark, sf_dir, "events"), _AX_SH, "event_type")
    return shirley_per_group(hist, "event_type", "value_bin")


@_q("peaks_per_group", None)
def peaks_per_group_q(spark, sf_dir):
    """Top-3 peaks per group trace (``peaksearch`` semantics,
    /root/reference/mpes/analysis.py:569-615) via applyInPandas."""
    from mpes_spark.analysis.grouped import peaks_per_group

    hist = histogram_per_group(t(spark, sf_dir, "events"), _AX_SH, "event_type")
    return peaks_per_group(hist, "event_type", "value_bin", num_peaks=3)


# -- hash-gated twins of the two applyInPandas spectral queries above:
#    the same per-group algorithms re-expressed as pure window algebra
#    (zero Python in the plan), so a direct DuckDB oracle applies
#    (VERDICT r7 #4/#5) ------------------------------------------------------
from mpes_spark.analysis.grouped import (  # noqa: E402
    peaks_window_sql as _peaks_w_sql,
    shirley_window_sql as _shirley_w_sql,
)

_SH_HIST_SQL = bin_sparse_sql("events", [_AX_SH], extra_keys=["event_type"])


@_q(
    "shirley_oracle",
    _shirley_w_sql(_SH_HIST_SQL, "event_type", _AX_SH.out),
)
def shirley_oracle(spark, sf_dir):
    """Per-group Shirley background (``shirley``,
    /root/reference/mpes/analysis.py:58-155) with the fixed-iteration
    recurrence rendered as pure window algebra in BOTH engines — six
    unrolled trapezoid-integral iterations, one shuffle on the group
    key, O(1) state per row (the 100 TB shape; the applyInPandas
    variant ``edc_shirley_grouped`` keeps tol-based early exit).
    r9: recurrence state is grid-quantized per iteration inside
    ``shirley_window``/``shirley_window_sql`` and BOTH engines use the
    portable floor-round at 4 dp, so cross-engine accumulation residue
    cannot reach the rounding boundary (r8 hash-red, VERDICT #1)."""
    from mpes_spark.analysis.grouped import shirley_window

    def _fr4(c):
        return F.floor(F.col(c) * F.lit(1e4) + F.lit(0.5)) / F.lit(1e4)

    hist = histogram_per_group(t(spark, sf_dir, "events"), _AX_SH, "event_type")
    out = shirley_window(hist, "event_type", _AX_SH.out)
    return out.select(
        "event_type",
        _AX_SH.out,
        "cnt",
        _fr4("background").alias("background"),
        _fr4("signal").alias("signal"),
    )


@_q(
    "peaks_per_group_oracle",
    _peaks_w_sql(_SH_HIST_SQL, "event_type", _AX_SH.out),
)
def peaks_per_group_oracle(spark, sf_dir):
    """Top-3 peaks per group under the window-expressible lookahead
    rule (strict max over the preceding lookahead trace rows, >= over
    the following — the leftmost-extremum convention of
    ``peakdetect1d``, /root/reference/mpes/analysis.py:308-427).
    All-integer comparisons -> exact hash gate; bounded frames reuse
    the single group-key sort."""
    from mpes_spark.analysis.grouped import peaks_window

    hist = histogram_per_group(t(spark, sf_dir, "events"), _AX_SH, "event_type")
    return peaks_window(hist, "event_type", _AX_SH.out)


# ===========================================================================
# §2.6 calibration solvers -> end-to-end binned queries
#
# The solvers run once at import (driver-side, deterministic inputs);
# their outputs are folded into literal expressions on BOTH engines —
# the same solve-then-apply split as the reference (EP3, SURVEY §3).
# ===========================================================================

import numpy as np  # noqa: E402

from mpes_spark.calibrate.energy import calibrate_energy_poly, poly_energy_axis  # noqa: E402
from mpes_spark.calibrate.momentum import calibrate_k  # noqa: E402
from mpes_spark.calibrate.tps import tps_coeffs  # noqa: E402

# -- energy: solve poly coeffs from synthetic landmarks (calibrateE,
#    /root/reference/mpes/analysis.py:694-805), bin on the solved axis -----
_ECAL_POS = np.array([300.0, 350.0, 400.0, 450.0, 500.0])
_ECAL_VALS = poly_energy_axis(np.array([2e-9, -1e-6, 0.05]), 17.3, _ECAL_POS)
_ECAL = calibrate_energy_poly(_ECAL_POS, _ECAL_VALS, order=3, refid=0, Eref=float(_ECAL_VALS[0]))
_AX_ESOLVED = BinAxis("E", nbins=120, lo=15.0, hi=45.0)


@_q(
    "calib_energy_solved",
    bin_sparse_sql(
        f"(SELECT {EN.tof2ev_poly_sql(list(_ECAL['coeffs']), _ECAL['E0'], 'value')} "
        "AS E FROM events)",
        [_AX_ESOLVED],
    ),
)
def calib_energy_solved(spark, sf_dir):
    """End-to-end energy calibration: coefficients SOLVED by calibrateE's
    least-squares fit, then applied and binned.
    """
    ev = t(spark, sf_dir, "events").select(
        EN.tof2ev_poly_expr(list(_ECAL["coeffs"]), _ECAL["E0"], "value").alias("E")
    )
    return bin_sparse(ev, [_AX_ESOLVED])


# -- momentum: two-point scale solve (calibrateK,
#    /root/reference/mpes/analysis.py:486-566) -> k axes -------------------
_KCAL = calibrate_k(
    (100, 100), pxla=(70.0, 80.0), pxlb=(50.0, 40.0),
    kcoorda=(0.4, 1.2), kcoordb=(0.0, 0.0),
)
_KF_R, _KF_C = _KCAL["coeffs"]
_AX_KSR = BinAxis("kx", nbins=50, lo=-0.52, hi=0.52)
_AX_KSC = BinAxis("ky", nbins=30, lo=-0.12, hi=0.12)


@_q(
    "calib_k_solved",
    bin_sparse_sql(
        "(SELECT {} AS kx, {} AS ky FROM lineitem)".format(
            *KM.imxy2kxy_sql("l_quantity", "l_linenumber", 25.0, 4.0, _KF_R, _KF_C)
        ),
        [_AX_KSR, _AX_KSC],
    ),
)
def calib_k_solved(spark, sf_dir):
    """End-to-end momentum calibration: two-point scale solve (calibrateK,
    reference mpes/analysis.py:486-566), applied and binned.
    """
    kx, ky = KM.imxy2kxy_expr("l_quantity", "l_linenumber", 25.0, 4.0, _KF_R, _KF_C)
    li = t(spark, sf_dir, "lineitem").select(kx.alias("kx"), ky.alias("ky"))
    return bin_sparse(li, [_AX_KSR, _AX_KSC])


# -- TPS: Bookstein solve (dask_tps.tps_coeffs,
#    /root/reference/mpes/dask_tps.py:67-97) -> warp-as-column-math bin ----
_TPS_RNG = np.random.default_rng(13)
_TPS_SRC = np.column_stack(
    [_TPS_RNG.uniform(0.0, 50.0, 7), _TPS_RNG.uniform(0.0, 7.0, 7)]
)
_TPS_DST = _TPS_SRC + np.column_stack(
    [_TPS_RNG.normal(0.0, 1.5, 7), _TPS_RNG.normal(0.0, 0.4, 7)]
)
_TPS_CO = tps_coeffs(_TPS_SRC, _TPS_DST)
_AX_TPX = BinAxis("xt", nbins=30, lo=-5.0, hi=55.0)
_AX_TPY = BinAxis("yt", nbins=20, lo=-2.0, hi=9.0)

_tps_x_sql = XC.tps_sql("l_quantity", "l_linenumber", _TPS_CO, _TPS_SRC, which=0)
_tps_y_sql = XC.tps_sql("l_quantity", "l_linenumber", _TPS_CO, _TPS_SRC, which=1)


@_q(
    "tps_warp_bin",
    bin_sparse_sql(
        f"(SELECT {_tps_x_sql} AS xt, {_tps_y_sql} AS yt FROM lineitem)",
        [_AX_TPX, _AX_TPY],
    ),
)
def tps_warp_bin(spark, sf_dir):
    """Thin-plate-spline warp (Bookstein solve, reference
    mpes/dask_tps.py:67-97) evaluated as column math, then 2-D binning.
    """
    li = t(spark, sf_dir, "lineitem").select(
        XC.tps_expr("l_quantity", "l_linenumber", _TPS_CO, _TPS_SRC, which=0).alias("xt"),
        XC.tps_expr("l_quantity", "l_linenumber", _TPS_CO, _TPS_SRC, which=1).alias("yt"),
    )
    return bin_sparse(li, [_AX_TPX, _AX_TPY])


# -- asymmetric Lorentzian ToF correction (the 4th applyECorrection
#    profile, previously untested) -----------------------------------------
@_q(
    "tof_corr_lorentzian_asym",
    bin_sparse_sql(
        "(SELECT {} AS tc FROM lineitem)".format(
            XC.tof_correction_sql(
                "lorentzian_asymmetric", amplitude=-2000.0, gamma=15.0,
                gamma2=25.0, amplitude2=-800.0, **_CORR_COMMON,
            )
        ),
        [_AX_TC],
    ),
)
def tof_corr_lorentzian_asym(spark, sf_dir):
    """Asymmetric-Lorentzian energy-correction profile — the 4th
    applyECorrection variant — then binning.
    """
    li = t(spark, sf_dir, "lineitem").select(
        XC.tof_correction_expr(
            "lorentzian_asymmetric", amplitude=-2000.0, gamma=15.0,
            gamma2=25.0, amplitude2=-800.0, **_CORR_COMMON,
        ).alias("tc")
    )
    return bin_sparse(li, [_AX_TC])


# -- inverse-dfield broadcast-join application (dfieldapply,
#    /root/reference/mpes/base.py:530-539): the lookup table is built
#    from a closed-form field so the oracle can compute the identical
#    values inline while Spark exercises the real join path -----------------
_DF_H, _DF_W = 51, 8


def _formula_dfield() -> np.ndarray:
    xi, yi = np.meshgrid(np.arange(_DF_H), np.arange(_DF_W), indexing="ij")
    new_x = 0.9 * xi + 0.2 * yi
    new_y = 0.1 * xi + 0.95 * yi
    return np.asarray([new_x, new_y], dtype="float64")


_AX_DFX = BinAxis("Xm", nbins=25, lo=0.0, hi=50.0)

_DFIELD_ORACLE = (
    "(SELECT (0.9 * CAST(CAST(l_quantity AS INT) AS DOUBLE) + "
    "0.2 * CAST(CAST(l_linenumber AS INT) AS DOUBLE)) AS Xm FROM lineitem "
    f"WHERE CAST(l_quantity AS INT) < {_DF_H} AND CAST(l_linenumber AS INT) < {_DF_W})"
)


@_q("dfield_join_bin", bin_sparse_sql(_DFIELD_ORACLE, [_AX_DFX]))
def dfield_join_bin(spark, sf_dir):
    """Deformation-field lookup join: nearest-cell broadcast join against
    a generated dfield table, then binning (dfieldapply).
    """
    lookup = XC.dfield_table(spark, _formula_dfield())
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("X"), F.col("l_linenumber").alias("Y")
    )
    warped = XC.apply_dfield_join(li, lookup)
    return bin_sparse(warped, [_AX_DFX])


# -- production-path dfield: generate_dfield -> dfield_table ->
#    apply_dfield_join, exact closed-form oracle ---------------------------
_DP_N = 64


def _shear_dfield() -> np.ndarray:
    """Inverse field produced by the REAL pipeline inverter
    (``generate_dfield``, calibrate/dfield.py:23) from a forward shear
    (i, j) -> (i, i + j). The shear is a unimodular integer map, so
    the scatter inversion is EXACT — one vote per reached cell, no
    rounding collisions, fill disabled — and the inverse has the
    closed form the oracle needs: cell (r, c) -> (r, c - r) when
    0 <= c - r < N, NaN outside the sheared footprint (the
    reference's boundary-NaN semantics, base.py:570-572)."""
    from mpes_spark.calibrate.dfield import generate_dfield

    ii, jj = np.meshgrid(np.arange(_DP_N), np.arange(_DP_N), indexing="ij")
    return generate_dfield(ii, ii + jj, out_shape=(_DP_N, _DP_N), fill_iters=0)


_AX_DPX = BinAxis("Xm", nbins=8, lo=0.0, hi=8.0)
_AX_DPY = BinAxis("Ym", nbins=16, lo=0.0, hi=64.0)

_DP_ORACLE = (
    "(SELECT CAST(CAST(l_linenumber AS INT) AS DOUBLE) AS Xm, "
    "CAST(CAST(l_quantity AS INT) - CAST(l_linenumber AS INT) AS DOUBLE) AS Ym "
    "FROM lineitem "
    f"WHERE CAST(l_linenumber AS INT) >= 0 AND CAST(l_linenumber AS INT) < {_DP_N} "
    f"AND CAST(l_quantity AS INT) >= 0 AND CAST(l_quantity AS INT) < {_DP_N} "
    "AND CAST(l_quantity AS INT) - CAST(l_linenumber AS INT) >= 0 "
    f"AND CAST(l_quantity AS INT) - CAST(l_linenumber AS INT) < {_DP_N})"
)


@_q("dfield_pipeline_bin", bin_sparse_sql(_DP_ORACLE, [_AX_DPX, _AX_DPY]))
def dfield_pipeline_bin(spark, sf_dir):
    """Unlike ``dfield_join_bin`` (formula-built lookup), this runs
    the inverse field through the production inverter itself: the
    oracle's closed form holds because the forward shear makes the
    scatter inversion exact. Events outside the warped footprint pick
    up NaN (Spark) / are excluded (oracle) — both fall out of the bin
    range filter, asserting the NaN boundary semantics end-to-end."""
    lookup = XC.dfield_table(spark, _shear_dfield())
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_linenumber").alias("X"), F.col("l_quantity").alias("Y")
    )
    warped = XC.apply_dfield_join(li, lookup)
    return bin_sparse(warped, [_AX_DPX, _AX_DPY])


# -- per-file histogram matrix (extractEDC over a file list,
#    /root/reference/mpes/fprocessing.py:3418-3435): input_file_name
#    carried as the group key ----------------------------------------------
_AX_PF = BinAxis("value", nbins=80, lo=0.0, hi=400.0)


@_q(
    "per_file_hist",
    bin_sparse_sql(
        "(SELECT 'events.parquet' AS fname, value FROM events)",
        [_AX_PF],
        extra_keys=["fname"],
    ),
)
def per_file_hist(spark, sf_dir):
    """Per-source-file histograms via input_file_name as a grouping key —
    parallelBinning's multi-file union shape.
    """
    ev = read_table(spark, f"{sf_dir}/events.parquet", with_file=True)
    ev = ev.withColumn("fname", F.regexp_extract(F.col("file"), r"[^/]+$", 0))
    return bin_sparse(ev, [_AX_PF], extra_keys=["fname"])


@_q(
    "user_value_twap",
    """
WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS tns, value FROM events),
l AS (SELECT *, lead(tns) OVER (PARTITION BY user_id
        ORDER BY tns, event_id) AS nxt FROM e)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_obs,
       floor(round(sum(value * (CAST(nxt - tns AS DOUBLE) / 1e9)), 4)
             / nullif(CAST(max(tns) - min(tns) AS DOUBLE) / 1e9, 0)
             * 1000000.0 + 0.5) / 1000000.0 AS twap
FROM l GROUP BY user_id
""".strip(),
)
def user_value_twap(spark, sf_dir):
    """Time-weighted average value per user (TWAP): each observation
    holds until the next, so bursts of readings at a spike no longer
    overweight the spike the way a plain AVG does. One lead window +
    one agg keyed on user_id; durations rescale to seconds so the
    4dp sum rounding absorbs cross-engine summation-order ulps, and
    the final ratio uses the portable floor-round. Tie order under
    equal timestamps is pinned by event_id on both engines (the tied
    row gets zero duration — WHICH row gets it changes the sum)."""
    from mpes_spark.transforms.rollup import time_weighted_avg

    ev = t(spark, sf_dir, "events")
    return time_weighted_avg(ev, ts="ts", value="value", group="user_id")


@_q(
    "event_type_runs",
    """
WITH e AS (SELECT user_id, event_id, event_type, epoch_ns(ts) AS tns FROM events),
l AS (SELECT *, CASE WHEN row_number() OVER
        (PARTITION BY user_id ORDER BY tns, event_id) = 1 THEN 1
      WHEN lag(event_type) OVER
        (PARTITION BY user_id ORDER BY tns, event_id)
        IS NOT DISTINCT FROM event_type THEN 0 ELSE 1 END AS chg
      FROM e),
g AS (SELECT *, CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY tns, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_seq
      FROM l)
SELECT user_id, run_seq, event_type,
       min(tns) AS run_start, max(tns) AS run_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM g GROUP BY user_id, run_seq, event_type
""".strip(),
)
def event_type_runs(spark, sf_dir):
    """Gaps-and-islands, VALUE-CHANGE variant: per user, consecutive
    events with the same event_type collapse into one validity run —
    the derivation that turns an event/snapshot stream into SCD
    Type-2 history rows (each run = one valid_from/valid_to record).
    One lag window + one running sum + one collapse agg, all keyed on
    user_id with the exchange reused; all-integer/string output, so
    the gate is exact."""
    from mpes_spark.transforms.rollup import value_runs

    ev = t(spark, sf_dir, "events")
    return value_runs(
        ev, value="event_type", order=["ts", "event_id"], group="user_id"
    ).select(
        "user_id", "run_seq", "event_type",
        F.col("run_start").cast("bigint").alias("run_start"),
        F.col("run_end").cast("bigint").alias("run_end"),
        "n_events",
    )


# -- session-window scan segmentation (§2.8's batch-mode hard signal:
#    session_window is the same grouping expression streaming uses) --------
_SESSION_GAP_US = 7_200_000_000  # 2 hours


@_q(
    "session_scan_segments",
    f"""
WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
l AS (SELECT user_id, us, lag(us) OVER (PARTITION BY user_id ORDER BY us) AS prev FROM e),
f AS (SELECT user_id, us,
             CASE WHEN prev IS NULL OR us - prev > {_SESSION_GAP_US} THEN 1 ELSE 0 END AS news
      FROM l),
g AS (SELECT user_id, us,
             sum(news) OVER (PARTITION BY user_id ORDER BY us
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM f)
SELECT user_id, min(us) AS session_start_us,
       max(us) + {_SESSION_GAP_US} AS session_end_us,
       CAST(count(*) AS BIGINT) AS n_events
FROM g GROUP BY user_id, sid
""".strip(),
)
def session_scan_segments(spark, sf_dir):
    """Acquisition-scan segmentation via ``session_window`` on the
    batch events table (the identical grouping expression drives the
    streaming path, ``streaming/live.py:scan_sessions``): events of
    a user separated by more than 2 h of silence start a new scan.
    Oracle is the classic gaps-and-islands rewrite; the boundary rule
    matches Spark exactly (merge at gap == threshold, split strictly
    beyond — pinned empirically and by the `>` in the oracle).
    Timestamps are compared at µs (DuckDB truncates TIMESTAMP(NANOS)
    to µs; Spark reads nanos longs and divides)."""
    from mpes_spark.streaming.live import scan_sessions

    ev = t(spark, sf_dir, "events")
    out = scan_sessions(ev, gap="2 hours", group_col="user_id")
    return out.select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
        F.col("n_events").cast("bigint").alias("n_events"),
    )


# -- conversion lag: first signup -> first purchase, hour-bucketed ---------
_HOUR_US = 3_600_000_000


@_q(
    "conversion_lag_hist",
    f"""
WITH s AS (SELECT user_id, min(epoch_us(ts)) AS t0 FROM events
           WHERE event_type = 'signup' GROUP BY user_id),
p AS (SELECT user_id, min(epoch_us(ts)) AS t1 FROM events
      WHERE event_type = 'purchase' GROUP BY user_id)
SELECT CAST((p.t1 - s.t0) // {_HOUR_US} AS BIGINT) AS lag_hours,
       CAST(count(*) AS BIGINT) AS n_users
FROM s JOIN p ON p.user_id = s.user_id
WHERE p.t1 >= s.t0
GROUP BY lag_hours
""".strip(),
)
def conversion_lag_hist(spark, sf_dir):
    """Time-to-convert distribution: hours from each user's FIRST
    signup to their FIRST purchase, histogrammed — funnels count who
    converts, this measures how long conversion takes (the activation
    metric product teams act on). Two min-aggs keyed on user + one
    user-keyed join + one bucket agg; all integers (epoch floor
    division), exact gate. Users who purchased before ever signing
    up (data noise) are excluded by the t1 >= t0 guard on both
    engines."""
    ev = t(spark, sf_dir, "events")
    us = F.expr("ts div 1000")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(us).alias("t0"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(us).alias("t1"))
    )
    return (
        s.join(p, "user_id")
        .filter(F.col("t1") >= F.col("t0"))
        .select(
            F.expr(f"(t1 - t0) div {_HOUR_US}").cast("bigint").alias(
                "lag_hours"
            )
        )
        .groupBy("lag_hours")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )


# -- growth accounting: per-day new / active / cumulative users ------------
_DAY_US = 86_400_000_000


@_q(
    "user_growth_daily",
    f"""
WITH d AS (SELECT user_id, epoch_us(ts) // {_DAY_US} AS day FROM events),
fd AS (SELECT user_id, min(day) AS day FROM d GROUP BY user_id),
nu AS (SELECT day, count(*) AS new_users FROM fd GROUP BY day),
au AS (SELECT day, count(DISTINCT user_id) AS active_users FROM d GROUP BY day)
SELECT CAST(au.day AS BIGINT) AS day_idx,
       CAST(au.active_users AS BIGINT) AS active_users,
       CAST(coalesce(nu.new_users, 0) AS BIGINT) AS new_users,
       CAST(sum(coalesce(nu.new_users, 0)) OVER (ORDER BY au.day)
            AS BIGINT) AS cum_users
FROM au LEFT JOIN nu ON nu.day = au.day
""".strip(),
)
def user_growth_daily(spark, sf_dir):
    """Growth accounting: per epoch-day active users, NEW users
    (first-ever-seen that day — the vocab_growth first-occurrence
    trick applied to ids: one min-agg per user, never a prefix scan)
    and the cumulative user count. The running sum is a plain window
    HERE because it rides the DAY-grained relation — bounded by the
    calendar (~365 rows/year) at any data scale, unlike the per-doc
    curves that need the two-phase decomposition."""
    ev = t(spark, sf_dir, "events").select(
        "user_id", F.expr(f"ts div {_DAY_US * 1000}").alias("day")
    )
    fd = ev.groupBy("user_id").agg(F.min("day").alias("day"))
    nu = fd.groupBy("day").agg(F.count(F.lit(1)).alias("new_users"))
    au = ev.groupBy("day").agg(
        F.countDistinct("user_id").alias("active_users")
    )
    from pyspark.sql import Window as _Win

    w = _Win.orderBy("day").rowsBetween(_Win.unboundedPreceding, 0)
    return (
        au.join(nu, "day", "left")
        .withColumn("new_users", F.coalesce(F.col("new_users"), F.lit(0)))
        .select(
            F.col("day").cast("bigint").alias("day_idx"),
            F.col("active_users").cast("bigint").alias("active_users"),
            F.col("new_users").cast("bigint").alias("new_users"),
            F.sum("new_users").over(w).cast("bigint").alias("cum_users"),
        )
    )


# -- tumbling / sliding event-time windows (§2.7/§2.8: F.window is the
#    grouping expression Structured Streaming uses; run here in batch
#    mode with an epoch-arithmetic oracle) ----------------------------------
_TUMBLE_US = 900_000_000  # 15 minutes


@_q(
    "tumbling_window_rate",
    f"""
SELECT (epoch_us(ts) // {_TUMBLE_US}) * {_TUMBLE_US} AS win_us,
       CAST(count(*) AS BIGINT) AS cnt,
       round(sum(value), 2) AS sum_value
FROM events GROUP BY win_us
""".strip(),
)
def tumbling_window_rate(spark, sf_dir):
    """Event-time tumbling-window rate + measure rollup via
    ``F.window`` — the identical expression drives
    ``streaming/live.py:live_count_rate``; windows align to the epoch
    origin, matching the oracle's integer floor-division."""
    ev = t(spark, sf_dir, "events")
    ev = ev.withColumn("event_time", F.timestamp_micros(F.expr("ts div 1000")))
    return (
        ev.groupBy(F.window("event_time", "15 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(F.unix_micros(F.col("w.start")).alias("win_us"), "cnt", "sum_value")
    )


@_q(
    "sliding_window_rate",
    f"""
SELECT ((epoch_us(ts) // {_TUMBLE_US}) - k.k) * {_TUMBLE_US} AS win_us,
       CAST(count(*) AS BIGINT) AS cnt
FROM events CROSS JOIN (VALUES (0), (1)) k(k)
GROUP BY win_us
""".strip(),
)
def sliding_window_rate(spark, sf_dir):
    """Sliding (hopping) window counts — 30-minute windows every
    15 minutes, so each event lands in exactly 2 windows. The oracle
    enumerates the window set per event (k = 0, 1 slide offsets);
    Spark's ``F.window(size, slide)`` expands to the same assignment
    internally (no shuffle beyond the final agg)."""
    ev = t(spark, sf_dir, "events")
    ev = ev.withColumn("event_time", F.timestamp_micros(F.expr("ts div 1000")))
    return (
        ev.groupBy(F.window("event_time", "30 minutes", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .select(F.unix_micros(F.col("w.start")).alias("win_us"), "cnt")
    )


# -- merge-join as-of (transforms/joins.py:asof_join): the scale plan
#    for the reference's latest-config-before-event resolution
#    (/root/reference/mpes/fprocessing.py:2604-2660) when BOTH sides
#    are large. The oracle is DuckDB's native ASOF JOIN. The right side
#    is pre-aggregated to one row per (user_id, ts) so the matched
#    payload is deterministic in both engines. ------------------------------
_ASOF_RIGHT_SQL = (
    "(SELECT user_id, ts, CAST(max(floor(value)) AS BIGINT) AS click_fv "
    "FROM events WHERE event_type = 'click' GROUP BY user_id, ts) c"
)
_ASOF_LEFT_SQL = (
    "(SELECT event_id, user_id, ts FROM events "
    "WHERE event_type = 'purchase') p"
)


def _asof_sides(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max(F.floor("value")).cast("bigint").alias("click_fv"))
    )
    return p, c


@_q(
    "asof_join_value",
    f"SELECT p.event_id, CAST(epoch_us(c.ts) AS BIGINT) AS click_us, c.click_fv "
    f"FROM {_ASOF_LEFT_SQL} ASOF LEFT JOIN {_ASOF_RIGHT_SQL} "
    "ON p.user_id = c.user_id AND p.ts >= c.ts",
)
def asof_join_value(spark, sf_dir):
    """Backward as-of with payload gather — per purchase, the latest
    prior click's value. One shuffle + sorted window pass (see
    transforms/joins.py docstring for the plan contrast with the
    join-then-max formulation)."""
    from mpes_spark.transforms.joins import asof_join

    p, c = _asof_sides(spark, sf_dir)
    j = asof_join(p, c, on="user_id", direction="backward")
    return j.select(
        "event_id",
        F.expr("matched_ts div 1000").alias("click_us"),
        "click_fv",
    )


@_q(
    "asof_join_forward",
    f"SELECT p.event_id, CAST(epoch_us(c.ts) AS BIGINT) AS click_us, c.click_fv "
    f"FROM {_ASOF_LEFT_SQL} ASOF LEFT JOIN {_ASOF_RIGHT_SQL} "
    "ON p.user_id = c.user_id AND p.ts <= c.ts",
)
def asof_join_forward(spark, sf_dir):
    """Forward as-of: the next click at-or-after each purchase."""
    from mpes_spark.transforms.joins import asof_join

    p, c = _asof_sides(spark, sf_dir)
    j = asof_join(p, c, on="user_id", direction="forward")
    return j.select(
        "event_id",
        F.expr("matched_ts div 1000").alias("click_us"),
        "click_fv",
    )


_ASOF_TOL_NS = 3_600_000_000_000  # 1 hour


@_q(
    "asof_join_nearest",
    f"""
SELECT event_id, click_us, click_fv FROM (
  SELECT p.event_id, CAST(epoch_us(c.ts) AS BIGINT) AS click_us, c.click_fv,
         row_number() OVER (
           PARTITION BY p.event_id
           ORDER BY abs(epoch_ns(c.ts) - epoch_ns(p.ts)), epoch_ns(c.ts)
         ) AS rn
  FROM {_ASOF_LEFT_SQL} LEFT JOIN {_ASOF_RIGHT_SQL}
    ON c.user_id = p.user_id
   AND abs(epoch_ns(c.ts) - epoch_ns(p.ts)) <= {_ASOF_TOL_NS}
) WHERE rn = 1
""".strip(),
)
def asof_join_nearest(spark, sf_dir):
    """Nearest-in-time as-of with a 1-hour tolerance; equal-distance
    ties resolve backward (matching the oracle's ORDER BY ts tiebreak)."""
    from mpes_spark.transforms.joins import asof_join

    p, c = _asof_sides(spark, sf_dir)
    j = asof_join(
        p, c, on="user_id", direction="nearest", tolerance=_ASOF_TOL_NS
    )
    return j.select(
        "event_id",
        F.expr("matched_ts div 1000").alias("click_us"),
        "click_fv",
    )


# -- binned range join (transforms/joins.py:range_join_binned): the
#    interval_lookup semantics without the broadcast-NLJ scale ceiling.
#    200 overlapping intervals (width 7.5, stride 5 -> most points
#    match 2 intervals) exercise the exactly-once bin-match guarantee. ------
@_q(
    "range_join_binned",
    "SELECT iv.iv_id, CAST(count(*) AS BIGINT) AS cnt, "
    "CAST(sum(floor(e.value)) AS BIGINT) AS sum_fv "
    "FROM events e JOIN (SELECT range AS iv_id, range * 5.0 AS v0, "
    "range * 5.0 + 7.5 AS v1 FROM range(0, 200)) iv "
    "ON e.value >= iv.v0 AND e.value < iv.v1 GROUP BY iv.iv_id",
)
def range_join_binned_q(spark, sf_dir):
    """Point-in-interval via quantized-bin equi-join (bin_width = the
    5.0 interval stride -> each interval covers <= 3 bins). The plan is
    a hash/sort-merge equi-join either side of a shuffle on the bin id
    — never a nested-loop — so the same code survives a 100 GB
    interval table (tests/test_joins.py asserts the no-NLJ plan with
    broadcast disabled)."""
    from mpes_spark.transforms.joins import range_join_binned

    iv = spark.range(0, 200).select(
        F.col("id").alias("iv_id"),
        (F.col("id") * F.lit(5.0)).alias("v0"),
        (F.col("id") * F.lit(5.0) + F.lit(7.5)).alias("v1"),
    )
    ev = t(spark, sf_dir, "events")
    j = range_join_binned(ev, iv, point="value", start="v0", end="v1", bin_width=5.0)
    return j.groupBy("iv_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.sum(F.floor("value")).cast("bigint").alias("sum_fv"),
    )


# -- continuous-aggregate cascade (transforms/rollup.py): minute
#    rollup -> re-aggregate to hours; mergeable stats (cnt/sum/min/max,
#    avg derived at read time). Oracle computes hours directly from the
#    raw events — proving the cascade never needs the raw scan. ------------
@_q(
    "rollup_cascade_1h",
    # floor (not truncating) integer division, twin of rollup._floor_div
    "SELECT ((epoch_ns(ts) - ((epoch_ns(ts) % 3600000000000) + 3600000000000) % 3600000000000) "
    "// 3600000000000) AS bucket, "
    "CAST(count(*) AS BIGINT) AS cnt, round(sum(value), 2) AS sum_m, "
    "round(min(value), 6) AS min_m, round(max(value), 6) AS max_m, "
    "round(round(sum(value), 2) / count(*), 6) AS avg_m "
    "FROM events GROUP BY bucket",
)
def rollup_cascade_1h(spark, sf_dir):
    """Hourly stats derived from the minute-level rollup (never the
    raw events): one full scan feeds every coarser resolution."""
    from mpes_spark.transforms.rollup import coarsen, finalize_rollup, time_rollup

    minutes = time_rollup(
        t(spark, sf_dir, "events"), measure="value", bucket_ns=60_000_000_000
    )
    return finalize_rollup(coarsen(minutes, 60))


@_q(
    "rollup_incremental",
    # oracle: the FULL single-pass hourly rollup — the IVM claim is
    # that base+delta merge reproduces it bit-for-bit post-rounding
    "SELECT ((epoch_ns(ts) - ((epoch_ns(ts) % 3600000000000) + 3600000000000) % 3600000000000) "
    "// 3600000000000) AS bucket, "
    "CAST(count(*) AS BIGINT) AS cnt, round(sum(value), 2) AS sum_m, "
    "round(min(value), 6) AS min_m, round(max(value), 6) AS max_m, "
    "round(round(sum(value), 2) / count(*), 6) AS avg_m "
    "FROM events GROUP BY bucket",
)
def rollup_incremental(spark, sf_dir):
    """Incremental view maintenance of the hourly rollup: history
    (events before the cutoff) and the new ingest batch (after) are
    rolled up SEPARATELY and merged with
    :func:`transforms.rollup.merge_rollups` — the oracle is the full
    single-pass rollup, so the green row IS the proof that
    delta-merge == recompute. At scale the delta shuffle is
    batch-sized and history is never rescanned."""
    from mpes_spark.transforms.rollup import (
        finalize_rollup,
        merge_rollups,
        time_rollup,
    )

    ev = t(spark, sf_dir, "events")
    hour = 3_600_000_000_000
    base = time_rollup(
        ev.filter(F.col("ts") < _T1_NS), measure="value", bucket_ns=hour
    )
    delta = time_rollup(
        ev.filter(F.col("ts") >= _T1_NS), measure="value", bucket_ns=hour
    )
    return finalize_rollup(merge_rollups(base, delta))


# -- mergeable histogram quantile sketch (fixed-grid CDF readout: the
#    distributed-quantile shape that, unlike exact percentile, never
#    sorts and merges across batches/partitions by cell addition) ---------

_QH_BIN = 0.5  # 1000 cells over [0, 500)


def _qh_sql() -> str:
    thr = lambda q: f"CAST(ceil({q} * tot) AS BIGINT)"  # noqa: E731
    pick = (
        lambda q: f"round(min(CASE WHEN cum >= {thr(q)} THEN bin END) * {_QH_BIN}, 6)"
    )  # noqa: E731
    return (
        "WITH b AS (SELECT event_type, "
        f"CAST(floor(value / {_QH_BIN}) AS BIGINT) AS bin, "
        "CAST(count(*) AS BIGINT) AS cnt FROM events "
        "WHERE value >= 0 AND value < 500 GROUP BY event_type, bin), "
        "c AS (SELECT event_type, bin, cnt, "
        "CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS BIGINT) AS cum, "
        "CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS tot FROM b) "
        "SELECT event_type, CAST(max(tot) AS BIGINT) AS n, "
        f"{pick('0.50')} AS p50_approx, "
        f"{pick('0.90')} AS p90_approx, "
        f"{pick('0.99')} AS p99_approx "
        "FROM c GROUP BY event_type"
    )


@_q("quantile_hist_approx", _qh_sql())
def quantile_hist_approx(spark, sf_dir):
    """Approximate per-group quantiles from a fixed-grid histogram
    sketch (left bin edge at the target rank): cells combine
    map-side, merge across batches by addition, and the readout is a
    cumulative window over |grid| rows — no sort of the data, ever.
    The contract exact `percentile` can't offer at 100 TB; error
    bounded by the cell width (0.5 here). `value_quantiles` keeps the
    exact path; this is the mergeable one."""
    from pyspark.sql.window import Window as W

    ev = t(spark, sf_dir, "events").filter(
        (F.col("value") >= 0) & (F.col("value") < 500)
    )
    b = ev.groupBy(
        "event_type",
        F.floor(F.col("value") / _QH_BIN).cast("bigint").alias("bin"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    c = b.select(
        "event_type",
        "bin",
        F.sum("cnt")
        .over(W.partitionBy("event_type").orderBy("bin"))
        .cast("bigint")
        .alias("cum"),
        F.sum("cnt").over(W.partitionBy("event_type")).cast("bigint").alias("tot"),
    )

    def pick(q):
        thr = F.ceil(F.lit(q) * F.col("tot")).cast("bigint")
        return F.round(
            F.min(F.when(F.col("cum") >= thr, F.col("bin"))) * F.lit(_QH_BIN), 6
        )

    return c.groupBy("event_type").agg(
        F.max("tot").cast("bigint").alias("n"),
        pick(0.50).alias("p50_approx"),
        pick(0.90).alias("p90_approx"),
        pick(0.99).alias("p99_approx"),
    )


# -- declarative data-quality report (the Deequ/dbt-test shape,
#    dq.py: single-pass metrics + one FK probe, tidy pass/fail) ----------

def _dq_checks():
    from mpes_spark.dq import InRange, InSet, MinRows, NotNull, Unique

    return [
        Unique("o_orderkey"),
        NotNull("o_custkey"),
        InRange("o_totalprice", 0.0, 1e7),
        InSet("o_orderstatus", ("F", "O", "P")),
        MinRows(1000),
    ]


def _dq_sql() -> str:
    from mpes_spark.dq import dq_report_sql, fk_sql

    return (
        "SELECT * FROM ("
        + dq_report_sql("orders", _dq_checks(), order=False)
        + " UNION ALL "
        + fk_sql("lineitem", "l_orderkey", "orders", "o_orderkey")
        + ") q ORDER BY check_name"
    )


@_q("dq_report", _dq_sql())
def dq_report(spark, sf_dir):
    """Data-quality constraint report over the orders table plus one
    referential-integrity probe (lineitem -> orders): uniqueness,
    completeness, range, accepted-values, and row-count metrics all
    ride ONE aggregation pass; the FK check is one semi-join-shaped
    aggregation. `passed` compares the ROUNDED metric so both engines
    decide identically."""
    from mpes_spark.dq import check_constraints, referential_integrity

    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    rep = check_constraints(o, _dq_checks())
    fk = referential_integrity(li, "l_orderkey", o, "o_orderkey")
    return rep.unionByName(fk).orderBy("check_name")


# -- market-basket co-purchase lift (association-rule mining shape:
#    pair generation stays WITHIN the order — bounded by
#    lineitems-per-order squared, never corpus-quadratic) -----------------

_COPURCHASE_SQL = (
    "WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p "
    "               FROM lineitem), "
    "n AS (SELECT CAST(count(DISTINCT o) AS DOUBLE) AS n FROM items), "
    "freq AS (SELECT p, CAST(count(*) AS BIGINT) AS cnt FROM items GROUP BY p), "
    "pairs AS (SELECT a.p AS pa, b.p AS pb, CAST(count(*) AS BIGINT) AS cnt "
    "          FROM items a JOIN items b ON a.o = b.o AND a.p < b.p "
    "          GROUP BY a.p, b.p) "
    "SELECT pr.pa, pr.pb, pr.cnt AS n_both, "
    "round((pr.cnt / n.n) / ((fa.cnt / n.n) * (fb.cnt / n.n)), 6) AS lift "
    "FROM pairs pr CROSS JOIN n "
    "JOIN freq fa ON fa.p = pr.pa JOIN freq fb ON fb.p = pr.pb "
    "WHERE pr.cnt >= 3 "
    "ORDER BY lift DESC, pr.pa, pr.pb LIMIT 50"
)


@_q("copurchase_lift", _COPURCHASE_SQL)
def copurchase_lift(spark, sf_dir):
    """Association-rule lift over parts co-occurring in an order:
    pair generation is ROW-LOCAL over each order's sorted distinct
    part set (r11, guide §3.3 "explode after the join": the previous
    (o,p)-distinct self-equi-join shuffled the item relation twice on
    the order key and re-ran the distinct once per consumer — 5
    parquet scans / a 2-sided join exchange in the before plan, 3
    scans and NO self-join after; pairs-per-order is items-per-order
    squared either way, but now it never crosses an exchange).
    Supports are a broadcast-sized frequency relation via a single
    distinct-agg pass, and the min-support filter (cnt >= 3) prunes
    before the lift arithmetic. TakeOrdered top-50 — no global
    sort."""
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    )
    n1 = li.agg(F.countDistinct("o").cast("double").alias("n"))
    freq = li.groupBy("p").agg(
        F.countDistinct("o").cast("bigint").alias("cnt")
    )
    # per-order sorted distinct part set (bounded by items-per-order),
    # unordered pairs (pa < pb) generated in-row — identical to the
    # old distinct a JOIN b ON (same order, pa < pb): one row per
    # (order, pa, pb)
    sets = li.groupBy("o").agg(F.sort_array(F.collect_set("p")).alias("ps"))
    pair_expr = F.expr(
        "flatten(transform(ps, (x, i) -> "
        "transform(slice(ps, i + 2, size(ps)), y -> "
        "struct(x AS pa, y AS pb))))"
    )
    pairs = (
        sets.select(F.explode(pair_expr).alias("pr"))
        .groupBy(F.col("pr.pa").alias("pa"), F.col("pr.pb").alias("pb"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
        .filter(F.col("n_both") >= 3)
    )
    fa = freq.select(F.col("p").alias("pa"), F.col("cnt").alias("ca"))
    fb = freq.select(F.col("p").alias("pb"), F.col("cnt").alias("cb"))
    lift = (F.col("n_both") / F.col("n")) / (
        (F.col("ca") / F.col("n")) * (F.col("cb") / F.col("n"))
    )
    return (
        pairs.crossJoin(F.broadcast(n1))
        .join(fa, "pa")
        .join(fb, "pb")
        .select("pa", "pb", "n_both", F.round(lift, 6).alias("lift"))
        .orderBy(F.col("lift").desc(), "pa", "pb")
        .limit(50)
    )


# -- rolling z-score anomaly detection (telemetry outlier shape: a
#    per-type ordered window of the trailing 100 buckets) -----------------

_ZSCORE_SQL = (
    "WITH m AS (SELECT event_type, "
    "((epoch_ns(ts) - ((epoch_ns(ts) % 60000000000) + 60000000000) % 60000000000) "
    "// 60000000000) AS bucket, "
    "round(sum(value), 2) AS x FROM events GROUP BY event_type, bucket), "
    "w AS (SELECT event_type, bucket, x, "
    "  CAST(count(x) OVER win AS BIGINT) AS nw, "
    "  round(CAST(sum(x) OVER win AS DOUBLE), 2) AS s1, "
    "  round(CAST(sum(x * x) OVER win AS DOUBLE), 4) AS s2 "
    "FROM m WINDOW win AS (PARTITION BY event_type ORDER BY bucket "
    "  ROWS BETWEEN 100 PRECEDING AND 1 PRECEDING)), "
    "d AS (SELECT event_type, bucket, x, nw, "
    "  round(s1 / nw, 6) AS mu, "
    "  round(sqrt((s2 - s1 * s1 / nw) / (nw - 1)), 6) AS sd "
    "FROM w WHERE nw >= 20) "
    "SELECT event_type, bucket, x, mu, sd, round((x - mu) / sd, 4) AS z "
    "FROM d WHERE sd > 0.001 AND abs((x - mu) / sd) > 3.0"
)


@_q("anomaly_zscore", _ZSCORE_SQL)
def anomaly_zscore(spark, sf_dir):
    """Rolling z-score outliers over per-minute per-type totals (the
    :meth:`EventPipeline.anomalies` facade, registry defaults): the
    trailing-100-bucket window runs over the ROLLUP relation
    (grid-bounded), never the events; one shuffle on event_type.
    Determinism: stddev from ROUNDED raw moments (sum x to 2, sum x^2
    to 4 — the rollup rule extended to second moments; an
    engine-internal stddev_samp would mix accumulation orders), so
    mu/sd/z are identical IEEE chains in both engines."""
    from mpes_spark.pipeline import EventPipeline

    return EventPipeline(t(spark, sf_dir, "events")).anomalies()


_GF_NS = 900_000_000_000  # 15-minute buckets
_GF_BUCKET = (
    f"((epoch_ns(ts) - ((epoch_ns(ts) % {_GF_NS}) + {_GF_NS}) % {_GF_NS}) "
    f"// {_GF_NS})"
)


@_q(
    "rollup_gapfill_locf",
    "WITH r AS ("
    f"  SELECT {_GF_BUCKET} AS bucket, CAST(count(*) AS BIGINT) AS cnt, "
    "   round(round(sum(value), 2) / count(*), 6) AS avg_m "
    "  FROM events WHERE user_id < 5 GROUP BY bucket), "
    "g AS (SELECT unnest(generate_series((SELECT min(bucket) FROM r), "
    "                                    (SELECT max(bucket) FROM r))) AS bucket) "
    "SELECT g.bucket, coalesce(r.cnt, 0) AS cnt, "
    "  last_value(r.avg_m IGNORE NULLS) OVER (ORDER BY g.bucket) AS avg_locf, "
    "  CAST(CASE WHEN r.bucket IS NULL THEN 1 ELSE 0 END AS INTEGER) AS is_gap "
    "FROM g LEFT JOIN r ON r.bucket = g.bucket",
)
def rollup_gapfill_locf(spark, sf_dir):
    """Gap-filled rollup with last-observation-carried-forward — the
    `time_bucket_gapfill` + `locf` shape: the dense bucket grid comes
    from sequence(min, max) (grid-bounded, never data-bounded), empty
    buckets join in as cnt=0, and the carried value is a
    last(ignorenulls) window over the GRID. The single-partition locf
    window is bounded by the grid size (time range / resolution), the
    same driver-bounded regime as densify; a multi-year fine grid
    would partition by coarse period and stitch boundaries."""
    from pyspark.sql.window import Window as W

    from mpes_spark.transforms.rollup import time_rollup

    ev = t(spark, sf_dir, "events").filter(F.col("user_id") < 5)
    r = time_rollup(ev, measure="value", bucket_ns=_GF_NS).select(
        "bucket",
        "cnt",
        F.round(F.round("sum_m", 2) / F.col("cnt"), 6).alias("avg_m"),
    )
    mm = r.agg(F.min("bucket").alias("mn"), F.max("bucket").alias("mx"))
    grid = mm.select(F.explode(F.sequence("mn", "mx")).alias("bucket"))
    w = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        grid.join(r, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("cnt", F.lit(0)).cast("bigint").alias("cnt"),
            F.last("avg_m", ignorenulls=True).over(w).alias("avg_locf"),
            F.col("avg_m").isNull().cast("int").alias("is_gap"),
        )
    )


# -- binary ingest under a FULL hash-match oracle (VERDICT r4 #4): the
#    SyntheticBackend is a pure function of (file, stream, event index),
#    so DuckDB can recompute the ENTIRE ingest independently — stream
#    values (float64 sweep -> float32 cast), per-event timeStamps
#    reconstruction from msMarkers, chunked assembly — and the twin is
#    execution-order-independent (it never reads Spark's output).
#    Constants are Python-precomputed and inlined as CAST(repr AS
#    DOUBLE) so DuckDB's DECIMAL literal parsing can't diverge.
_ING_N = 100_000  # events per file (fixed: this query gates numerics;
_ING_FILES = 4  # binary_ingest_hist owns the sf-scaled bench volume)
_ING_STRIDE_X = repr(0.61803398875 + 0.1 * 0)  # stream 0 = X
_ING_STRIDE_ADC = repr(0.61803398875 + 0.1 * 3)  # stream 3 = ADC
_ING_LAST_MARKER = (_ING_N - 1) // 1000 * 1000  # 99000
_ING_NMARK = len(range(0, _ING_N, 1000))  # 100

_BINARY_INGEST_ORACLE_SQL = f"""
WITH ev AS (
  SELECT 'synth_' || CAST(f AS VARCHAR) AS file,
    CAST(fmod(CAST(idx AS DOUBLE) * CAST('{_ING_STRIDE_X}' AS DOUBLE)
              + CAST(f AS DOUBLE) * CAST('1013.0' AS DOUBLE),
              CAST('1000.0' AS DOUBLE)) AS FLOAT) AS X,
    CAST(fmod(CAST(idx AS DOUBLE) * CAST('{_ING_STRIDE_ADC}' AS DOUBLE)
              + CAST(f AS DOUBLE) * CAST('1013.0' AS DOUBLE),
              CAST('1000.0' AS DOUBLE)) AS FLOAT) AS ADC,
    (CAST('1700000000.0' AS DOUBLE) + CAST(f AS DOUBLE) * CAST('3600.0' AS DOUBLE))
      + (CASE WHEN idx >= {_ING_LAST_MARKER} THEN {_ING_NMARK}
              ELSE idx // 1000 END) / CAST('1000.0' AS DOUBLE) AS timeStamps
  FROM (SELECT t1.range AS f, t2.range AS idx
        FROM range({_ING_FILES}) t1, range({_ING_N}) t2)
)
SELECT file,
  CAST(floor(X / CAST('15.625' AS DOUBLE)) AS BIGINT) AS bin_x,
  CAST(count(*) AS BIGINT) AS cnt,
  round(sum(CAST(ADC AS DOUBLE)), 2) AS sum_adc,
  round(min(timeStamps), 3) AS ts_min,
  round(max(timeStamps), 3) AS ts_max
FROM ev GROUP BY file, bin_x
"""


@_q("binary_ingest_oracle", _BINARY_INGEST_ORACLE_SQL)
def binary_ingest_oracle(spark, sf_dir):
    """Full-pipeline ingest gate: chunk plan -> mapInPandas assembly
    (float32 cast, timeStamps reconstruction from msMarkers,
    fprocessing.py:628-698) -> convert_to_parquet -> per-(file, X-bin)
    aggregate over the converted columnar output — hash-matched
    against a DuckDB twin that RE-DERIVES the same synthetic events
    from the (file, stream, index) generator, so every assembly
    numeric (value sweep, float32 rounding, marker piecewise fill) is
    independently confirmed, not just replayed. Fixed volume (4 files
    x 100k events, 2 chunks per file) — the sf-scaled bench load
    lives in ``binary_ingest_hist``."""
    import os
    import tempfile

    from mpes_spark.io.binary_source import (
        IngestSpec,
        SyntheticBackend,
        convert_to_parquet,
    )

    backend = SyntheticBackend(events_per_file=_ING_N)
    paths = [f"synth_{k}" for k in range(_ING_FILES)]
    out = os.path.join(tempfile.gettempdir(), "mpes_spark_ingest_oracle")
    convert_to_parquet(
        spark,
        paths,
        backend,
        out,
        IngestSpec(
            aliases=["X", "ADC"],
            timestamps=True,
            with_file=True,
            chunk_size=50_000,
        ),
    )
    ev = spark.read.parquet(out)
    return ev.groupBy(
        "file",
        F.floor(F.col("X") / F.lit(15.625)).cast("bigint").alias("bin_x"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.round(F.sum(F.col("ADC").cast("double")), 2).alias("sum_adc"),
        F.round(F.min("timeStamps"), 3).alias("ts_min"),
        F.round(F.max("timeStamps"), 3).alias("ts_max"),
    )


@_q("binary_ingest_hist", None)  # synthetic source: rows-only by design
def binary_ingest_hist(spark, sf_dir):
    """The binary ingest seam under the bench clock (VERDICT r3 #7):
    chunk-plan -> mapInPandas assembly (float32 cast + timeStamps
    reconstruction) from the compute-on-read SyntheticBackend ->
    ``convert_to_parquet`` -> histogram over the converted columnar
    output — the full ``hdf5Reader.convert`` + bin pipeline
    (fprocessing.py:823-856) minus only the h5py binding. Volume
    scales with sf (sf0.1 -> 8 files x 250k events = 2M events); no
    DuckDB oracle because the source is a runtime-synthesized binary
    stream, not a pre-registered view — numerics pinned by
    tests/test_binary_source.py instead."""
    import os
    import tempfile

    from mpes_spark.binning.engine import bin_sparse
    from mpes_spark.binning.spec import BinAxis
    from mpes_spark.io.binary_source import (
        IngestSpec,
        SyntheticBackend,
        convert_to_parquet,
    )

    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = 0.01
    backend = SyntheticBackend(events_per_file=max(25_000, int(2_500_000 * sf)))
    paths = [f"synth_{k}" for k in range(8)]
    out = os.path.join(tempfile.gettempdir(), "mpes_spark_ingest_bench")
    convert_to_parquet(
        spark,
        paths,
        backend,
        out,
        IngestSpec(
            aliases=["X", "Y", "t", "ADC"], timestamps=True, chunk_size=100_000
        ),
    )
    ev = spark.read.parquet(out)
    return bin_sparse(
        ev, [BinAxis("X", 64, 0.0, 1000.0), BinAxis("t", 64, 0.0, 1000.0)]
    )


# -- the SAME ingest pipeline reading REAL .h5 files (r9, VERDICT #8):
#    the pure-python hdf5lite writer generates genuine HDF5 v0 files
#    (contiguous Stream_N datasets, Name attributes, msMarkers,
#    FirstEventTimeStamp) whose payloads follow the synthetic sweep
#    formula, so the DuckDB twin re-derives everything independently —
#    a hash match proves superblock -> symbol table -> object header ->
#    contiguous slice -> assembly -> parquet, end to end. ------------------
_H5_N = 40_000
_H5_FILES = 2
_H5_LAST_MARKER = (_H5_N - 1) // 1000 * 1000
_H5_NMARK = len(range(0, _H5_N, 1000))

_HDF5_INGEST_ORACLE_SQL = f"""
WITH ev AS (
  SELECT f,
    CAST(fmod(CAST(idx AS DOUBLE) * CAST('{_ING_STRIDE_X}' AS DOUBLE)
              + CAST(f AS DOUBLE) * CAST('1013.0' AS DOUBLE),
              CAST('1000.0' AS DOUBLE)) AS FLOAT) AS X,
    CAST(fmod(CAST(idx AS DOUBLE) * CAST('{_ING_STRIDE_ADC}' AS DOUBLE)
              + CAST(f AS DOUBLE) * CAST('1013.0' AS DOUBLE),
              CAST('1000.0' AS DOUBLE)) AS FLOAT) AS ADC,
    (CAST('1700000000.0' AS DOUBLE) + CAST(f AS DOUBLE) * CAST('3600.0' AS DOUBLE))
      + (CASE WHEN idx >= {_H5_LAST_MARKER} THEN {_H5_NMARK}
              ELSE idx // 1000 END) / CAST('1000.0' AS DOUBLE) AS timeStamps
  FROM (SELECT t1.range AS f, t2.range AS idx
        FROM range({_H5_FILES}) t1, range({_H5_N}) t2)
)
SELECT 'events_' || CAST(f AS VARCHAR) || '.h5' AS file,
  CAST(floor(X / CAST('15.625' AS DOUBLE)) AS BIGINT) AS bin_x,
  CAST(count(*) AS BIGINT) AS cnt,
  round(sum(CAST(ADC AS DOUBLE)), 2) AS sum_adc,
  round(min(timeStamps), 3) AS ts_min,
  round(max(timeStamps), 3) AS ts_max
FROM ev GROUP BY file, bin_x
"""


def _h5lite_fixture_dir() -> str:
    """Write the deterministic .h5 fixtures once per process tree
    (driver-side numpy; ~2.6 MB total). The payloads are the exact
    synthetic-sweep doubles, so the files are bit-reproducible and the
    oracle can recompute them from the formula."""
    import datetime
    import os
    import tempfile

    import numpy as np

    from mpes_spark.io.hdf5lite import write_hdf5

    out = os.path.join(tempfile.gettempdir(), "mpes_spark_h5lite_fixture")
    os.makedirs(out, exist_ok=True)
    paths = []
    for f in range(_H5_FILES):
        p = os.path.join(out, f"events_{f}.h5")
        paths.append(p)
        if os.path.exists(p):
            continue
        idx = np.arange(_H5_N, dtype="float64")
        streams = {
            f"Stream_{i}": (idx * (0.61803398875 + 0.1 * i) + f * 1013.0) % 1000.0
            for i in range(4)
        }
        streams["msMarkers"] = np.arange(0, _H5_N, 1000, dtype="int64")
        ts = datetime.datetime.fromtimestamp(
            1.7e9 + f * 3600.0, tz=datetime.timezone.utc
        ).strftime("%Y-%m-%dT%H:%M:%S.%f%z")
        write_hdf5(
            p,
            streams,
            {f"Stream_{i}": {"Name": a} for i, a in enumerate(["X", "Y", "t", "ADC"])},
            {"FirstEventTimeStamp": ts},
        )
    return out


@_q("hdf5_ingest_oracle", _HDF5_INGEST_ORACLE_SQL)
def hdf5_ingest_oracle(spark, sf_dir):
    """REAL-HDF5 ingest under the full hash gate (r9, VERDICT #8 —
    the last env seam closed the way the image stub was): genuine .h5
    files (v0 superblock, symbol-table root group, contiguous
    ``Stream_N`` datasets with ``Name`` attributes, ``msMarkers``,
    ``FirstEventTimeStamp``) written by the pure-python
    :mod:`io.hdf5lite` writer, ingested by :class:`Hdf5LiteBackend`
    through the SAME chunk-plan -> mapInPandas assembly ->
    ``convert_to_parquet`` pipeline as the gated synthetic twin
    (``hdf5Reader.convert``, /root/reference/mpes/fprocessing.py:823-856),
    then aggregated per (file, X-bin). The DuckDB twin re-derives the
    payload from the sweep formula, so a hash match proves the whole
    HDF5 byte-format walk produced exactly the right doubles."""
    import os

    from mpes_spark.io.binary_source import (
        Hdf5LiteBackend,
        IngestSpec,
        convert_to_parquet,
    )

    src = _h5lite_fixture_dir()
    paths = [os.path.join(src, f"events_{f}.h5") for f in range(_H5_FILES)]
    out = os.path.join(os.path.dirname(src), "mpes_spark_h5lite_ingest")
    convert_to_parquet(
        spark,
        paths,
        Hdf5LiteBackend(),
        out,
        IngestSpec(
            aliases=["X", "ADC"],
            timestamps=True,
            with_file=True,
            chunk_size=15_000,
        ),
    )
    ev = spark.read.parquet(out)
    return ev.withColumn("file", F.element_at(F.split("file", "/"), -1)).groupBy(
        "file",
        F.floor(F.col("X") / F.lit(15.625)).cast("bigint").alias("bin_x"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.round(F.sum(F.col("ADC").cast("double")), 2).alias("sum_adc"),
        F.round(F.min("timeStamps"), 3).alias("ts_min"),
        F.round(F.max("timeStamps"), 3).alias("ts_max"),
    )


# -- incremental join maintenance (delta rule; the join half of IVM) -------

_IVM_T0 = "2000-01-01"
_IVM_T1 = "2000-07-01"

_JOIN_IVM_SQL = f"""
WITH lo AS (SELECT o_orderkey, o_orderpriority FROM orders
            WHERE o_orderdate < TIMESTAMP '{_IVM_T0}'),
ld AS (SELECT o_orderkey, o_orderpriority FROM orders
       WHERE o_orderdate >= TIMESTAMP '{_IVM_T0}'
         AND o_orderdate < TIMESTAMP '{_IVM_T1}'),
ro AS (SELECT l_orderkey, l_returnflag,
              CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
       FROM lineitem WHERE l_shipdate < TIMESTAMP '{_IVM_T0}'),
rd AS (SELECT l_orderkey, l_returnflag,
              CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
       FROM lineitem WHERE l_shipdate >= TIMESTAMP '{_IVM_T0}'
         AND l_shipdate < TIMESTAMP '{_IVM_T1}'),
newj AS (
  SELECT o.o_orderpriority, r.l_returnflag,
         count(*) AS c, sum(r.cents) AS s
  FROM (SELECT * FROM lo UNION ALL SELECT * FROM ld) o
  JOIN (SELECT * FROM ro UNION ALL SELECT * FROM rd) r
    ON r.l_orderkey = o.o_orderkey
  GROUP BY 1, 2),
oldj AS (
  SELECT o.o_orderpriority, r.l_returnflag,
         count(*) AS c, sum(r.cents) AS s
  FROM lo o JOIN ro r ON r.l_orderkey = o.o_orderkey
  GROUP BY 1, 2)
SELECT n.o_orderpriority, n.l_returnflag,
       CAST(n.c - coalesce(o.c, 0) AS BIGINT) AS delta_rows,
       CAST(n.s - coalesce(o.s, 0) AS BIGINT) AS delta_cents
FROM newj n LEFT JOIN oldj o
  ON o.o_orderpriority = n.o_orderpriority
 AND o.l_returnflag = n.l_returnflag
WHERE n.c - coalesce(o.c, 0) > 0
""".strip()


@_q("join_ivm_delta", _JOIN_IVM_SQL)
def join_ivm_delta(spark, sf_dir):
    """Incremental view maintenance of a join under inserts: both
    sides of orders ⋈ lineitem receive a 6-month increment, and the
    materialized view advances by the three delta-rule terms
    ``ΔL ⋈ R ∪ L ⋈ ΔR ∪ ΔL ⋈ ΔR`` (transforms/cdc.join_delta) —
    work scales with the increment, never the base. The DuckDB twin
    derives the same rows INDEPENDENTLY (full new join minus full
    old join as per-group count/sum differences), so the gate proves
    the delta rule itself, not a shared formula. Money is compared
    as exact cent BIGINTs: a float sum over delta rows would not
    equal the difference of two float sums."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    odt = dict(o.dtypes)["o_orderdate"]
    t0 = F.lit(_IVM_T0).cast(odt)
    t1 = F.lit(_IVM_T1).cast(odt)
    osel = o.select("o_orderkey", "o_orderpriority", "o_orderdate")
    lsel = li.select(
        F.col("l_orderkey").alias("o_orderkey"),
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100)
        .cast("bigint")
        .alias("cents"),
        "l_shipdate",
    )
    l_old = osel.filter(F.col("o_orderdate") < t0).drop("o_orderdate")
    l_delta = osel.filter(
        (F.col("o_orderdate") >= t0) & (F.col("o_orderdate") < t1)
    ).drop("o_orderdate")
    r_old = lsel.filter(F.col("l_shipdate") < t0).drop("l_shipdate")
    r_delta = lsel.filter(
        (F.col("l_shipdate") >= t0) & (F.col("l_shipdate") < t1)
    ).drop("l_shipdate")
    from mpes_spark.transforms.cdc import join_delta

    delta = join_delta(l_old, l_delta, r_old, r_delta, on="o_orderkey")
    return delta.groupBy("o_orderpriority", "l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("delta_rows"),
        F.sum("cents").cast("bigint").alias("delta_cents"),
    )


_IVM_DU_LO = (
    "SELECT o_orderkey, o_orderpriority FROM orders "
    f"WHERE o_orderdate < TIMESTAMP '{_IVM_T0}'"
)
_IVM_DU_LN = (
    "SELECT o_orderkey, CASE WHEN o_orderkey % 5 = 0 THEN 'X-UPDATED' "
    "ELSE o_orderpriority END AS o_orderpriority FROM orders "
    f"WHERE o_orderdate < TIMESTAMP '{_IVM_T1}' AND o_orderkey % 7 <> 0"
)
_IVM_DU_RO = (
    "SELECT l_orderkey * 10 + l_linenumber AS lk, "
    "l_orderkey AS o_orderkey, min(l_returnflag) AS l_returnflag, "
    "sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents "
    f"FROM lineitem WHERE l_shipdate < TIMESTAMP '{_IVM_T0}' "
    "GROUP BY 1, 2"
)
_IVM_DU_RN = (
    "SELECT l_orderkey * 10 + l_linenumber AS lk, "
    "l_orderkey AS o_orderkey, min(l_returnflag) AS l_returnflag, "
    "sum(CAST(round(l_extendedprice * 100) AS BIGINT) "
    "+ CASE WHEN (l_orderkey + l_linenumber) % 4 = 0 THEN 500 ELSE 0 END) "
    "AS cents FROM lineitem "
    f"WHERE l_shipdate < TIMESTAMP '{_IVM_T1}' "
    "AND (l_orderkey + l_linenumber) % 11 <> 0 "
    "GROUP BY 1, 2"
)

_JOIN_IVM_DU_SQL = f"""
WITH lo AS ({_IVM_DU_LO}), ln AS ({_IVM_DU_LN}),
ro AS ({_IVM_DU_RO}), rn AS ({_IVM_DU_RN}),
oldj AS (
  SELECT o.o_orderpriority, r.l_returnflag,
         count(*) AS c, sum(r.cents) AS s
  FROM lo o JOIN ro r ON r.o_orderkey = o.o_orderkey
  GROUP BY 1, 2),
newj AS (
  SELECT o.o_orderpriority, r.l_returnflag,
         count(*) AS c, sum(r.cents) AS s
  FROM ln o JOIN rn r ON r.o_orderkey = o.o_orderkey
  GROUP BY 1, 2)
SELECT coalesce(n.o_orderpriority, o.o_orderpriority) AS o_orderpriority,
       coalesce(n.l_returnflag, o.l_returnflag) AS l_returnflag,
       CAST(coalesce(n.c, 0) - coalesce(o.c, 0) AS BIGINT) AS delta_rows,
       CAST(coalesce(n.s, 0) - coalesce(o.s, 0) AS BIGINT) AS delta_cents
FROM newj n FULL OUTER JOIN oldj o
  ON o.o_orderpriority = n.o_orderpriority
 AND o.l_returnflag = n.l_returnflag
WHERE coalesce(n.c, 0) - coalesce(o.c, 0) <> 0
   OR coalesce(n.s, 0) - coalesce(o.s, 0) <> 0
""".strip()


@_q("join_ivm_delta_du", _JOIN_IVM_DU_SQL)
def join_ivm_delta_du(spark, sf_dir):
    """Join IVM under MIXED churn — the delete/update generalization
    of ``join_ivm_delta`` (VERDICT r6 #5). Both join sides churn
    between two snapshots: orders loses every 7th key (delete), gets
    its 6-month insert wave, and every 5th key's priority is
    rewritten (update); lineitem loses every 11th (orderkey +
    linenumber) row, gains its own insert wave, and every 4th row's
    price moves by 5.00. ``table_diff_feed`` derives the D/U/I feed
    for each side, ``feed_to_signed_delta`` turns it into ±1
    multiplicity rows, and ``join_delta_signed`` (transforms/cdc.py)
    emits the view delta with per-row multiplicity products — the
    view advances by summing signed counts and signed cent sums per
    group. The DuckDB twin recomputes both full joins INDEPENDENTLY
    and differences the group aggregates (full-outer, so groups that
    vanish under deletes are asserted too), proving the signed delta
    rule, not a shared formula. Money stays exact cent BIGINTs."""
    from mpes_spark.transforms.cdc import (
        feed_to_signed_delta,
        join_delta_signed,
        table_diff_feed,
    )

    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    odt = dict(o.dtypes)["o_orderdate"]
    t0 = F.lit(_IVM_T0).cast(odt)
    t1 = F.lit(_IVM_T1).cast(odt)
    l_old = o.filter(F.col("o_orderdate") < t0).select(
        "o_orderkey", "o_orderpriority"
    )
    l_new = (
        o.filter(
            (F.col("o_orderdate") < t1) & (F.col("o_orderkey") % 7 != 0)
        )
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 5 == 0, F.lit("X-UPDATED"))
            .otherwise(F.col("o_orderpriority"))
            .alias("o_orderpriority"),
        )
    )
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    # (l_orderkey, l_linenumber) is NOT unique in the synthetic data,
    # so the right relation is made keyed BY CONSTRUCTION: per-lk
    # aggregate (sum of cents, min returnflag), churn predicates
    # applied per underlying row before the group — a group whose rows
    # straddle the snapshot dates churns as an update of its sum
    rsel = li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("lk"),
        F.col("l_orderkey").alias("o_orderkey"),
        "l_returnflag",
        cents.alias("cents"),
        (F.col("l_orderkey") + F.col("l_linenumber")).alias("__rk"),
        "l_shipdate",
    )

    def _rkeyed(df):
        return df.groupBy("lk", "o_orderkey").agg(
            F.min("l_returnflag").alias("l_returnflag"),
            F.sum("cents").alias("cents"),
        )

    r_old = _rkeyed(rsel.filter(F.col("l_shipdate") < t0))
    r_new = _rkeyed(
        rsel.filter((F.col("l_shipdate") < t1) & (F.col("__rk") % 11 != 0))
        .withColumn(
            "cents",
            F.col("cents")
            + F.when(F.col("__rk") % 4 == 0, F.lit(500)).otherwise(F.lit(0)),
        )
    )
    dl = feed_to_signed_delta(
        table_diff_feed(l_old, l_new, "o_orderkey", ["o_orderpriority"]),
        "o_orderkey",
        ["o_orderpriority"],
    )
    dr = feed_to_signed_delta(
        table_diff_feed(
            r_old, r_new, "lk", ["o_orderkey", "l_returnflag", "cents"]
        ),
        "lk",
        ["o_orderkey", "l_returnflag", "cents"],
    )
    delta = join_delta_signed(l_old, dl, r_old, dr, on="o_orderkey")
    out = delta.groupBy("o_orderpriority", "l_returnflag").agg(
        F.sum("m").cast("bigint").alias("delta_rows"),
        F.sum(F.col("m") * F.col("cents")).cast("bigint").alias("delta_cents"),
    )
    return out.filter(
        (F.col("delta_rows") != 0) | (F.col("delta_cents") != 0)
    )


# -- blocked entity resolution (record linkage, multi-pass blocking) -------

def _linkage_rels() -> tuple[str, str]:
    """(mentions_sql, canon_sql) for the DuckDB twin: canonical
    12-hex-char entity names derived from c_custkey via md5 (the
    portable hash family), mentions = every third entity with ONE
    character substituted at position 1 + custkey % 12 — so roughly
    a third of the corruptions break any single blocking key, and
    only the two-pass union recovers full recall."""
    canon = (
        "SELECT c_custkey AS canon_id, "
        "substring(md5(CAST(c_custkey AS VARCHAR)), 1, 12) AS canon_name "
        "FROM customer"
    )
    mentions = (
        "SELECT c_custkey AS mention_id, "
        "concat(substring(nm, 1, p - 1), 'z', substring(nm, p + 1, 12)) "
        "AS mention_name FROM ("
        "  SELECT c_custkey, "
        "  substring(md5(CAST(c_custkey AS VARCHAR)), 1, 12) AS nm, "
        "  CAST(1 + c_custkey % 12 AS INTEGER) AS p "
        "  FROM customer WHERE c_custkey % 3 = 0) q"
    )
    return mentions, canon


_LINKAGE_BLOCKS = ["substring({n}, 1, 4)", "substring({n}, 9, 4)"]


def _linkage_sql() -> str:
    from mpes_spark.extras.linkage import blocked_best_match_sql

    mentions, canon = _linkage_rels()
    return blocked_best_match_sql(
        mentions, canon, _LINKAGE_BLOCKS, max_dist=3, max_block=50
    )


_MENTION_NODE_OFFSET = 10_000_000


@_q(
    "entity_clusters",
    __import__(
        "mpes_spark.extras.dedup", fromlist=["connected_components_sql"]
    ).connected_components_sql(
        f"SELECT canon_id AS id_a, mention_id + {_MENTION_NODE_OFFSET} AS id_b "
        f"FROM ({_linkage_sql()}) m"
    ),
)
def entity_clusters(spark, sf_dir):
    """Entity RESOLUTION composed end to end: blocked best-match
    linkage -> connected components -> per-cluster rollup — the
    match table gives EDGES, but master-data management needs one
    canonical record per transitive CLUSTER (two mentions matching
    the same canonical must collapse together even though they never
    matched each other). Mentions are lifted into a disjoint node
    space (+1e7) so the shared customer-key space cannot alias; the
    oracle chains the linkage SQL into the recursive-CTE reachability
    twin of the log-rounds Spark propagation."""
    from mpes_spark.extras.dedup import cluster_summary, connected_components
    from mpes_spark.extras.linkage import blocked_best_match

    c = t(spark, sf_dir, "customer").select("c_custkey")
    name = F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 12)
    canon = c.select(
        F.col("c_custkey").alias("canon_id"), name.alias("canon_name")
    )
    mentions = (
        c.filter(F.col("c_custkey") % 3 == 0)
        .select(
            F.col("c_custkey").alias("mention_id"),
            name.alias("nm"),
            (1 + F.col("c_custkey") % 12).cast("int").alias("p"),
        )
        .select(
            "mention_id",
            F.concat(
                F.expr("substring(nm, 1, p - 1)"),
                F.lit("z"),
                F.expr("substring(nm, p + 1, 12)"),
            ).alias("mention_name"),
        )
    )
    blocks = [
        lambda n: F.substring(n, 1, 4),
        lambda n: F.substring(n, 9, 4),
    ]
    matches = blocked_best_match(
        mentions, canon, blocks, max_dist=3, max_block=50
    )
    pairs = matches.select(
        F.col("canon_id").alias("id_a"),
        (F.col("mention_id") + _MENTION_NODE_OFFSET).alias("id_b"),
    )
    cc = connected_components(pairs, "node")
    return cluster_summary(cc, "node")


@_q("entity_match_blocked", _linkage_sql())
def entity_match_blocked(spark, sf_dir):
    """Record linkage with multi-pass blocking (Fellegi-Sunter /
    Christen): mention strings resolve to a canonical entity table
    via two cheap block keys (name[1:4], name[9:12]) — candidate
    pairs form ONLY inside blocks, the levenshtein runs only on
    co-blocked pairs, and a per-mention window argmin (ties to the
    lowest id) picks the match. The corruptions are planted so each
    blocking pass alone misses ~a third of true matches — the union
    is what reaches 100% recall (pinned by pytest). ``max_block``
    exercises the oversized-block skew guard. All-integer distances:
    the hash gate is exact."""
    from mpes_spark.extras.linkage import blocked_best_match

    c = t(spark, sf_dir, "customer").select("c_custkey")
    name = F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 12)
    canon = c.select(
        F.col("c_custkey").alias("canon_id"), name.alias("canon_name")
    )
    mentions = (
        c.filter(F.col("c_custkey") % 3 == 0)
        .select(
            F.col("c_custkey").alias("mention_id"),
            name.alias("nm"),
            (1 + F.col("c_custkey") % 12).cast("int").alias("p"),
        )
        .select(
            "mention_id",
            F.concat(
                F.expr("substring(nm, 1, p - 1)"),
                F.lit("z"),
                F.expr("substring(nm, p + 1, 12)"),
            ).alias("mention_name"),
        )
    )
    blocks = [
        lambda n: F.substring(n, 1, 4),
        lambda n: F.substring(n, 9, 4),
    ]
    return blocked_best_match(
        mentions, canon, blocks, max_dist=3, max_block=50
    )


# ===========================================================================
# public accessors
# ===========================================================================

def _gate_history() -> tuple[dict[str, int], set[str]]:
    """(last-gated round per query, names whose MOST RECENT gate row
    was hash-red). The red set drives the re-gate-immediately rule in
    :func:`all_queries` (r9): a failed oracle must come back through
    the window the very next round — sorting by last-GATED round alone
    would push it to the back for several rounds precisely because it
    was just seen."""
    import glob
    import json as _json
    import os
    import re as _re

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    last: dict[str, int] = {}
    verdict: dict[str, tuple[int, bool]] = {}
    for p in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = _re.search(r"r(\d+)\.json$", p)
        if not m:
            continue
        r = int(m.group(1))
        try:
            with open(p) as fh:
                doc = _json.load(fh)
        except Exception:  # noqa: BLE001 - rotation is best-effort decoration
            continue
        if isinstance(doc, dict):
            for name, row in doc.items():
                last[name] = max(last.get(name, 0), r)
                red = isinstance(row, dict) and row.get("hash_match") is False
                if name not in verdict or r > verdict[name][0]:
                    verdict[name] = (r, red)
    return last, {n for n, (_, red) in verdict.items() if red}


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """All registered queries, ordered for the driver's gate window.

    The driver's correctness gate records roughly the first 50 entries
    of this dict, so ordering IS the rotation policy (VERDICT r2 #1,
    r3 #2, r4 #3). Since round 5 the policy is data-driven rather than
    a hand-maintained list: each oracled query is keyed by the round of
    its most recent driver gate row (parsed from the committed
    CORRECTNESS_r*.json artifacts) and the window leads with

    1. never-gated oracled queries (anything new this round) plus
       RE-GATES: oracled queries whose most recent gate row was
       hash-red (r9 rule — a failed oracle comes back through the
       window the very next round; last-gated-round ordering alone
       would bury it precisely because it was just seen), then
    2. never-gated rows-only queries (no DuckDB twin) — ONE debut
       appearance each, so every registered query has at least one
       driver row (spark_rows populated, err null) proving it runs
       under the harness; once gated they drop to the back;
    3. oracled queries in ascending last-gated round — longest-ago
       first, so every query cycles back through the window and no
       green row goes more than a few rounds unrefreshed;
    4. already-gated rows-only-by-design queries (xxhash64 hash
       families, learned quantizers, synthetic-source ingest) dead
       last — they burn gate slots on `err: no_oracle` rows otherwise.

    Ties (same last-gated round) keep stable registry order, so the
    sequence is deterministic for a given artifact set. Queries that
    fall past the window remain covered by
    tests/test_oracle_parity.py and the opt-in
    SPARK_GRAFT_FULL_PARITY=1 sf0.1 sweep.
    """
    from mpes_spark.decision import decision_queries
    from mpes_spark.extras.registry import extras_queries

    base = (
        extras_queries()
        | {q.name: q.spark for q in _REGISTRY}
        | decision_queries()
    )
    oracled = all_oracles()
    last, red = _gate_history()
    idx = {n: i for i, n in enumerate(base)}
    ora = sorted(
        (n for n in base if n in oracled),
        key=lambda n: (last.get(n, 0), idx[n]),
    )
    rows_only = [n for n in base if n not in oracled]
    ro_debut = [n for n in rows_only if n not in last]
    ro_gated = [n for n in rows_only if n in last]
    ora_new = [n for n in ora if n not in last]
    ora_red = [n for n in ora if n in last and n in red]
    ora_old = [n for n in ora if n in last and n not in red]
    return {
        n: base[n] for n in [*ora_new, *ora_red, *ro_debut, *ora_old, *ro_gated]
    }


def all_oracles() -> dict[str, str]:
    from mpes_spark.decision import decision_oracles
    from mpes_spark.extras.registry import extras_oracles

    return (
        extras_oracles()
        | {q.name: q.sql for q in _REGISTRY if q.sql is not None}
        | decision_oracles()
    )
