"""The binning engine — N-D histogram aggregation as a Spark groupBy.

The reference's core query reduces ~1e9 event rows to a dense 2-4-D
counts array via hand-rolled per-partition ``np.histogramdd``/numba
kernels plus a manual tree combine (``binDataframe*``,
``/root/reference/mpes/fprocessing.py:1485-1847``;
``parallelBinning``, ``:3010-3109``). In Spark the entire machinery —
partition-local partial histograms, wave scheduling, parallel combine —
is a single declarative plan:

    events.filter(lo_i <= x_i < hi_i)              # scan columns
          .select(floor((x_i - lo_i)/step_i) AS bin_i)
          .groupBy(bin_0..bin_{d-1}).count()
          .filter(0 <= bin_i < nbins_i)           # float-edge guard

An axis over a calibrated column (TPS warp, k axis, energy polynomial)
is keyed ``CASE WHEN lo <= x < hi THEN floor(...) END`` instead of
being pre-filtered, so each calibration is evaluated once per event;
see :func:`with_bin_indices`.

Every predicate and key is SQL text built from :class:`BinAxis`'s
``*_sql`` methods, the same text :func:`bin_sparse_sql` gives the
DuckDB oracle; the Spark plan is a handful of py4j calls however many
axes it bins.

Catalyst/Tungsten give partial (map-side) aggregation, whole-stage
codegen for the floor arithmetic, parquet column pruning down to the
binned axes, and AQE-coalesced shuffle for the final combine. The
sparse (bin..., count) relation is at most prod(nbins) rows (~1e7 for
production 512x512x50 grids) regardless of input row count, so the
shuffle is tiny and the densify step is a bounded driver-side scatter.

Scale notes (100 TB): the only shuffle moves <= grid-size rows per
partial aggregate; input is scanned once with only the axis columns
read (ReadSchema pruning). No collect() of event data ever happens —
only the aggregated sparse histogram (bounded by grid size, not data
size) comes to the driver.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mpes_spark.binning.spec import BinAxis
from mpes_spark.grid.binned import BinnedArray
from mpes_spark.sqltext import qcol


def _leaf_columns(df: DataFrame, names: Sequence[str]) -> set[str]:
    """The subset of ``names`` that are plain columns of a leaf relation
    (a scan, a local table): columns whose resolved exprId a leaf of
    ``df``'s analyzed plan outputs. A filter on such a column can reach
    the scan; any other column is an expression over the leaves."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    outputs = [leaves.apply(i).outputSet() for i in range(leaves.size())]
    return {n for n in names if any(o.contains(df._jdf.resolve(n)) for o in outputs)}


def with_bin_indices(
    df: DataFrame, axes: Sequence[BinAxis], keep: Sequence[str] = ()
) -> DataFrame:
    """Project the input down to bin-index columns (+ optional
    carried-through columns) under the half-open bin rule
    ``lo <= x < hi``: one ``filter`` and one ``selectExpr``, both SQL
    text, so the plan costs two py4j calls whatever the axis count.

    How an axis is keyed depends on where its column comes from:

    - a plain column of a leaf relation is pre-filtered on its *value*
      (not on ``floor(...)``), so the range predicate reaches the
      parquet scan as ``PushedFilters``;
    - any other column (a calibration: TPS warp, homography, energy
      polynomial) is keyed as
      ``CASE WHEN lo <= x < hi THEN floor((x - lo) / step) END``. A
      value filter here would be pushed below the projection that
      computes ``x`` and re-inline the expression once per condition;
      the CASE reads ``x`` from that projection, so the expression is
      evaluated once per event. The CASE condition covers every
      derived axis: an event outside any of them gets NULL in all
      derived keys, so such events share one group per task, which
      :func:`bin_sparse` drops after aggregation."""
    leaf = _leaf_columns(df, [ax.col for ax in axes])
    pre = [ax.in_domain_sql(qcol(ax.col)) for ax in axes if ax.col in leaf]
    ok = " AND ".join(ax.in_domain_sql(qcol(ax.col)) for ax in axes if ax.col not in leaf)
    cols = []
    for ax in axes:
        key = ax.index_sql(qcol(ax.col))
        if ax.col not in leaf:
            key = f"CASE WHEN {ok} THEN {key} END"
        cols.append(f"{key} AS {qcol(ax.out)}")
    out = df.filter(" AND ".join(pre)) if pre else df
    return out.selectExpr(*cols, *map(qcol, keep))


#: guard-only row count carried through the aggregate by bin_sparse
_ROWS = "__bin_rows"


def bin_sparse(
    df: DataFrame,
    axes: Sequence[BinAxis],
    extra_keys: Sequence[str] = (),
    count_name: str = "cnt",
    weight: str | None = None,
) -> DataFrame:
    """N-D histogram as a sparse relation (bin_0..bin_{d-1}[, extra
    keys], count). ``extra_keys`` supports the per-file histogram
    matrix (``extractEDC``, /root/reference/mpes/fprocessing.py:3418-3435)
    and any group-parallel binning. ``weight`` switches the measure
    from row counts to a weighted histogram ``sum(weight)`` — the
    non-count-measure extension SURVEY §2.9 anticipates (the
    reference's kernels are count-only); same plan shape, the partial
    aggregate carries a sum instead of a count.

    The final bin-range guard runs on the aggregated relation
    (grid-bounded rows). It drops the NULL-key groups of out-of-range
    derived-axis events and the rare float-boundary bin
    ``floor((x-lo)/step) == nbins`` for x just below hi. It is written
    ``guard OR rows < 0`` over a row count of the group: the disjunct
    is never true, but it references an aggregate output, so Catalyst
    cannot push the guard below the aggregate, where it would re-inline
    each derived axis' expression. For a count measure the two
    ``count(1)`` aggregates are the same expression and are computed
    once."""
    keep = list(extra_keys) + ([weight] if weight else [])
    keyed = with_bin_indices(df, axes, keep=keep)
    keys = [ax.out for ax in axes] + list(extra_keys)
    measure = f"sum({qcol(weight)})" if weight else "count(1)"
    out = keyed.groupBy(*keys).agg(
        F.expr(f"{measure} AS {qcol(count_name)}"), F.expr(f"count(1) AS {_ROWS}")
    )
    guard = " AND ".join(ax.in_range_sql(qcol(ax.out)) for ax in axes)
    return out.filter(f"({guard}) OR {_ROWS} < 0").drop(_ROWS)


def bin_sparse_sql(
    table: str,
    axes: Sequence[BinAxis],
    extra_keys: Sequence[str] = (),
    count_name: str = "cnt",
    where: str | None = None,
    weight: str | None = None,
    round_digits: int | None = None,
) -> str:
    """The DuckDB-oracle twin of :func:`bin_sparse` — same arithmetic,
    same half-open rule (value-domain pre-filter + post-aggregation
    bin guard), same column names. ``weight``/``round_digits`` mirror
    the weighted-measure variant."""
    sel = ", ".join(
        [f"{ax.index_sql()} AS {ax.out}" for ax in axes] + list(extra_keys)
    )
    conds = [ax.in_domain_sql() for ax in axes]
    if where:
        conds.append(f"({where})")
    where_sql = f"WHERE {' AND '.join(conds)} " if conds else ""
    keys = ", ".join([ax.out for ax in axes] + list(extra_keys))
    outer = " AND ".join(ax.in_range_sql(ax.out) for ax in axes)
    if weight:
        m = f"sum({weight})"
        if round_digits is not None:
            m = f"round({m}, {round_digits})"
        measure = f"{m} AS {count_name}"
    else:
        measure = f"count(*) AS {count_name}"
    return (
        f"SELECT * FROM (SELECT {sel}, {measure} FROM {table} "
        f"{where_sql}GROUP BY {keys}) binned WHERE {outer}"
    )


def densify(
    sparse: DataFrame,
    axes: Sequence[BinAxis],
    count_name: str = "cnt",
    dtype: str = "float64",
) -> BinnedArray:
    """Collect the sparse histogram (bounded by grid size, not input
    size) and scatter into a dense zero-filled ndarray with labeled
    midpoint axes — the engine's equivalent of the reference's
    ``histdict`` (``/root/reference/mpes/fprocessing.py:1199-1210``)."""
    _grid_shape(axes)  # refuse an oversized grid before collecting
    cols = [ax.out for ax in axes] + [count_name]
    pdf = sparse.select(*cols).toPandas()
    return scatter_counts(pdf, axes, count_name, dtype=dtype)


def _grid_shape(axes: Sequence[BinAxis]) -> tuple[int, ...]:
    """The dense grid's shape; raises for a grid too large for the
    driver."""
    shape = tuple(ax.nbins for ax in axes)
    ncells = int(np.prod(shape))
    if ncells > 200_000_000:
        raise ValueError(
            f"dense grid of {ncells} cells would not fit on the driver; "
            "keep the result sparse or coarsen the grid"
        )
    return shape


def scatter_counts(
    pdf,
    axes: Sequence[BinAxis],
    count_name: str = "cnt",
    into: np.ndarray | None = None,
    dtype: str = "float64",
    **attrs,
) -> BinnedArray:
    """Scatter collected sparse (bin..., count) rows into a dense grid
    and label its axes with the bin midpoints. The grid is a fresh
    zero-filled one unless ``into`` (an earlier grid, updated in place)
    is given; ``attrs`` join the ``units`` attribute."""
    data = np.zeros(_grid_shape(axes), dtype=dtype) if into is None else into
    if len(pdf):
        idx = tuple(pdf[ax.out].to_numpy(dtype="int64") for ax in axes)
        data[idx] = pdf[count_name].to_numpy()
    return BinnedArray(
        data=data,
        dims=[ax.out for ax in axes],
        coords={ax.out: ax.centers() for ax in axes},
        attrs={"units": "counts", **attrs},
    )


def bin_dataframe(
    df: DataFrame,
    axes: Sequence[BinAxis],
    jitter: dict[str, float] | None = None,
    jitter_type: str = "uniform",
    seed: int | None = 42,
) -> BinnedArray:
    """End-to-end binning: optional seeded jitter -> sparse groupBy ->
    dense labeled array. Replaces ``distributedBinning``
    (``/root/reference/mpes/fprocessing.py:2448-2486``).

    Jitter (dithering before binning, cf. ``applyJitter``,
    ``/root/reference/mpes/fprocessing.py:1849-1870``) defaults to a
    *seeded* RNG so runs are reproducible — the reference's unseeded
    ``np.random`` is explicitly nondeterministic."""
    if jitter:
        from mpes_spark.transforms.columns import apply_jitter

        df = apply_jitter(df, jitter, jitter_type=jitter_type, seed=seed)
    return densify(bin_sparse(df, axes), axes)


def histogram_per_group(
    df: DataFrame,
    axis: BinAxis,
    group_col: str,
    count_name: str = "cnt",
) -> DataFrame:
    """1-D histogram per group key — the ``extractEDC`` batch query
    (``/root/reference/mpes/fprocessing.py:3418-3435``: one EDC trace
    per bias-scan file). Sparse output (group, bin, count)."""
    return bin_sparse(df, [axis], extra_keys=[group_col], count_name=count_name)
