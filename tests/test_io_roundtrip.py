"""Sink round-trip tests: event tables (parquet/json/csv/orc), table
splitting, binned-histogram archives, calibration-parameter dicts."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from mpes_spark.binning.engine import bin_dataframe
from mpes_spark.binning.spec import BinAxis
from mpes_spark.io.writers import (
    list_output_files,
    load_binned,
    load_params,
    save_binned,
    save_params,
    split_table,
    write_table,
)
from mpes_spark.io.readers import read_table
from mpes_spark.registry import t
from tests.conftest import SF_SMALL


@pytest.mark.parametrize("form", ["parquet", "json", "csv", "orc"])
def test_event_table_roundtrip(spark, tmp_path, form):
    ev = t(spark, SF_SMALL, "events").select("event_id", "user_id", "value")
    out = str(tmp_path / f"ev_{form}")
    write_table(ev, out, form=form)
    back = (
        read_table(spark, out, ftype=form)
        if form in ("parquet", "orc")
        else spark.read.option("header", "true").option("inferSchema", "true").format(form).load(out)
    )
    assert back.count() == ev.count()
    got = {r.event_id: r.value for r in back.collect()}
    want = {r.event_id: r.value for r in ev.collect()}
    assert got.keys() == want.keys()
    assert all(abs(got[k] - want[k]) < 1e-9 for k in want)


def _jobs(spark, group, fn):
    """(fn's result, the number of Spark jobs it ran), counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_read_table_infers_an_unchanged_source_once(spark, tmp_path):
    """The first read of a directory infers its schema with a Spark job;
    a second read of the unchanged directory runs none and returns the
    same schema and rows."""
    out = str(tmp_path / "ev")
    spark.range(100).selectExpr("id", "id * 0.5 AS x").write.parquet(out)
    first, jobs_first = _jobs(spark, "read-first", lambda: read_table(spark, out))
    second, jobs_second = _jobs(spark, "read-second", lambda: read_table(spark, out))
    assert jobs_first >= 1
    assert jobs_second == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_read_table_reinfers_a_rewritten_source(spark, tmp_path):
    """A directory rewritten with an added column is inferred again: the
    file listing is part of the reuse key."""
    out = str(tmp_path / "ev")
    spark.range(10).selectExpr("id", "id * 0.5 AS x").write.parquet(out)
    assert read_table(spark, out).columns == ["id", "x"]
    spark.range(10).selectExpr("id", "id * 0.5 AS x", "id + 1 AS y").write.mode(
        "overwrite"
    ).parquet(out)
    back = read_table(spark, out)
    assert back.columns == ["id", "x", "y"]
    assert sorted(r.y for r in back.collect()) == list(range(1, 11))


def test_read_table_options_do_not_share_a_schema(spark, tmp_path):
    """Reads of one source with different reader options keep their own
    schemas: ``mergeSchema`` unions the two files' columns, a plain read
    before and after it does not."""
    out = tmp_path / "ev"
    spark.range(5).selectExpr("id", "id AS a").write.parquet(str(out / "part=1"))
    spark.range(5).selectExpr("id", "id AS b").write.parquet(str(out / "part=2"))
    plain = set(read_table(spark, str(out)).columns)
    merged = set(read_table(spark, str(out), mergeSchema="true").columns)
    assert merged == {"id", "a", "b", "part"}
    assert plain != merged
    assert set(read_table(spark, str(out)).columns) == plain


def test_partitioned_write_prunes(spark, tmp_path):
    ev = t(spark, SF_SMALL, "events").select("event_id", "event_type", "value")
    out = str(tmp_path / "part")
    write_table(ev, out, partition_by=["event_type"])
    back = spark.read.parquet(out).filter(F.col("event_type") == "click")
    plan = back._jdf.queryExecution().executedPlan().toString()
    # partition pruning: the filter becomes a PartitionFilter, not a data filter
    assert "PartitionFilters: [isnotnull(event_type" in plan
    assert back.count() == ev.filter(F.col("event_type") == "click").count()


def test_split_table(spark, tmp_path):
    ev = t(spark, SF_SMALL, "events")
    out = str(tmp_path / "shards")
    split_table(ev, 4, out)
    files = list_output_files(out, ".parquet")
    assert len(files) == 4
    assert spark.read.parquet(out).count() == ev.count()


def test_bucketed_join_is_shuffle_free(spark):
    """Two tables bucketed on the join key with matching bucket counts
    must join without an Exchange on either side — the co-located-join
    contract write_bucketed exists for."""
    from mpes_spark.io.writers import write_bucketed

    ev = t(spark, SF_SMALL, "events").select("event_id", "user_id", "value")
    agg = ev.groupBy("user_id").count()
    write_bucketed(ev, "ev_b", "user_id", 4)
    write_bucketed(agg, "agg_b", "user_id", 4)
    # disable auto-broadcast: at real scale neither side fits a
    # broadcast — the bucketed sort-merge path is what we verify
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("ev_b").join(spark.table("agg_b"), "user_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        assert joined.count() == ev.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS ev_b")
        spark.sql("DROP TABLE IF EXISTS agg_b")


def test_binned_roundtrip(spark, tmp_path):
    ba = bin_dataframe(
        t(spark, SF_SMALL, "events"),
        [BinAxis("value", nbins=50, lo=0.0, hi=500.0)],
    )
    p = str(tmp_path / "hist.npz")
    save_binned(ba, p)
    back = load_binned(p)
    np.testing.assert_array_equal(back.data, ba.data)
    assert back.dims == ba.dims
    np.testing.assert_allclose(back.coords["value_bin"], ba.coords["value_bin"])
    assert back.attrs == ba.attrs


def test_params_roundtrip(tmp_path):
    params = {
        "coeffs": np.array([1e-9, -2e-6, 0.05]),
        "E0": 1.5,
        "nested": {"points": np.arange(6).reshape(3, 2).astype("float64")},
        "label": "ecal",
    }
    p = str(tmp_path / "cal.json")
    save_params(params, p)
    back = load_params(p)
    np.testing.assert_allclose(back["coeffs"], params["coeffs"])
    np.testing.assert_allclose(back["nested"]["points"], params["nested"]["points"])
    assert back["E0"] == 1.5 and back["label"] == "ecal"


def test_zorder_write_locality_and_roundtrip(spark, tmp_path):
    """Z-order layout: (1) lossless — same rows back; (2) locality —
    per-file bounding rectangles in (ts, value) space are much
    smaller than under a single-column sort layout, which is what
    lets parquet min/max stats prune files for 2-D crops."""
    from pyspark.sql import functions as F

    from mpes_spark.io.writers import zorder_write
    from mpes_spark.registry import t
    from tests.conftest import SF_SMALL

    ev = t(spark, SF_SMALL, "events").select("event_id", "ts", "value")
    zpath, spath = str(tmp_path / "z"), str(tmp_path / "s")
    zorder_write(ev, zpath, ["ts", "value"], bits=12, n_files=16)
    # baseline: same file count, sorted by ts only
    (
        ev.repartitionByRange(16, "ts")
        .sortWithinPartitions("ts")
        .write.parquet(spath)
    )

    back = spark.read.parquet(zpath)
    assert back.count() == ev.count()
    assert back.agg(F.sum("event_id")).collect()[0][0] == ev.agg(
        F.sum("event_id")
    ).collect()[0][0]

    def file_spans(path):
        return (
            spark.read.parquet(path)
            .groupBy(F.input_file_name().alias("f"))
            .agg(F.min("value").alias("v0"), F.max("value").alias("v1"))
            .collect()
        )

    tot = ev.agg(F.min("value"), F.max("value")).collect()[0]
    vmin, vmax = tot[0], tot[1]
    mid, band = (vmin + vmax) / 2, (vmax - vmin) * 0.02
    lo, hi = mid - band, mid + band

    def overlapping(path):
        return sum(1 for r in file_spans(path) if r.v0 <= hi and r.v1 >= lo)

    # the point of z-order vs a single-column sort: file min/max stats
    # prune on the NON-leading dimension too. A ts-sorted layout keeps
    # near-full value spans per file (every file overlaps a narrow
    # value band); the Morton layout confines each file to a value
    # sub-range (measured here: 3/16 files touched vs 13/16)
    z_hit, s_hit = overlapping(zpath), overlapping(spath)
    assert z_hit <= s_hit // 2
    assert z_hit <= 6


def test_zorder_expr_key_is_rank_interleave(spark):
    """The Z-order key is the Morton interleave of each column's
    clamped grid rank: bit b of column i lands at b * ncols + i, and
    the ranks are computed from the min/max stats the call returns
    (double, date and negative inputs, a constant column, a NULL)."""
    import datetime

    from mpes_spark.io.writers import zorder_expr

    rng = np.random.default_rng(5)
    n, bits = 200, 7
    xs = rng.normal(0.0, 50.0, n)
    days = rng.integers(0, 4000, n)
    rows = [
        (i, float(xs[i]), datetime.date(1990, 1, 1) + datetime.timedelta(days=int(days[i])), 3.0)
        for i in range(n)
    ]
    rows.append((n, None, datetime.date(1990, 1, 1), 3.0))
    df = spark.createDataFrame(rows, "id long, x double, d date, c double")
    cols = ["x", "d", "c"]
    key, stats = zorder_expr(df, cols, bits=bits)
    got = {r.id: r.z for r in df.select("id", key.alias("z")).collect()}

    epoch = datetime.date(1970, 1, 1)
    values = {
        "x": [r[1] for r in rows],
        "d": [float((r[2] - epoch).days) for r in rows],
        "c": [r[3] for r in rows],
    }
    nmax = (1 << bits) - 1
    ranks = []
    for c in cols:
        mn, mx = stats[c]
        v = np.array([np.nan if x is None else x for x in values[c]])
        r = np.floor((v - mn) / ((mx - mn) or 1.0) * nmax)
        ranks.append(np.clip(np.nan_to_num(r, nan=0.0), 0, nmax).astype(np.int64))
    want = np.zeros(len(rows), dtype=np.int64)
    for i, r in enumerate(ranks):
        for b in range(bits):
            want |= ((r >> b) & 1) << (b * len(cols) + i)
    assert stats["c"] == (3.0, 3.0)
    assert got == {r[0]: int(want[j]) for j, r in enumerate(rows)}
    with pytest.raises(ValueError, match="signed BIGINT"):
        zorder_expr(df, cols, bits=22)


def test_copytool_mirror_skip_and_cleanup(tmp_path):
    """CopyTool analog (mirrorutil.py:13-157): tree mirroring with
    same-relative-layout targets, already-fresh skip, force re-copy,
    free-space guard, and a cleanup that refuses to leave the scratch
    side."""
    import os
    import time

    from mpes_spark.io.mirror import CopyTool

    src_root = tmp_path / "beamline"
    dst_root = tmp_path / "scratch"
    run = src_root / "2024" / "run_017"
    os.makedirs(run / "sub")
    (run / "a.bin").write_bytes(b"x" * 1000)
    (run / "sub" / "b.bin").write_bytes(b"y" * 500)

    ct = CopyTool(str(src_root), str(dst_root), ntasks=4, safety_margin=0)
    ddir = ct.copy(str(run))
    assert ddir == str(dst_root / "2024" / "run_017")
    assert (dst_root / "2024" / "run_017" / "a.bin").read_bytes() == b"x" * 1000
    assert (dst_root / "2024" / "run_017" / "sub" / "b.bin").read_bytes() == b"y" * 500
    assert ct.size(str(run)) == (1500, 1500)

    # fresh mirror -> second copy touches nothing (mtime preserved)
    before = os.stat(dst_root / "2024" / "run_017" / "a.bin").st_mtime_ns
    time.sleep(0.01)
    ct.copy(str(run))
    assert os.stat(dst_root / "2024" / "run_017" / "a.bin").st_mtime_ns == before
    ct.copy(str(run), force=True)  # force re-copies

    # a source outside the configured root is rejected
    import pytest as _pytest

    with _pytest.raises(ValueError):
        ct.copy(str(tmp_path))
    # impossible margin -> refuse before writing anything
    (run / "c.bin").write_bytes(b"z" * 100)
    big = CopyTool(str(src_root), str(dst_root), safety_margin=1 << 62)
    with _pytest.raises(OSError):
        big.copy(str(run))

    ct.cleanup_target(str(run))
    assert not (dst_root / "2024" / "run_017").exists()
    assert (run / "a.bin").exists()  # source untouched


def test_binned_h5_roundtrips_everywhere(tmp_path):
    """xarray_to_h5 analog, r9: the round-trip works in EVERY runtime
    — h5py binding when present (gzip matrix), the pure-python
    hdf5lite writer/reader otherwise (same binned/V3 + axes/ax{i} +
    metadata/attrs group layout, contiguous storage). Only h5py-less
    APPEND remains gated (whole-file writer)."""
    import numpy as np
    import pytest as _pytest

    from mpes_spark.grid.binned import BinnedArray
    from mpes_spark.io.writers import load_binned_h5, save_binned_h5

    arr = BinnedArray(
        data=np.arange(12.0).reshape(3, 4),
        dims=["E", "k"],
        coords={"E": np.linspace(0, 1, 3), "k": np.linspace(-2, 2, 4)},
        attrs={"run": 17},
    )
    p = str(tmp_path / "binned.h5")
    save_binned_h5(arr, p)
    back = load_binned_h5(p)
    assert back.dims == arr.dims
    assert np.array_equal(back.data, arr.data)
    assert np.array_equal(back.coords["k"], arr.coords["k"])
    assert back.attrs == arr.attrs
    try:
        import h5py  # noqa: F401
    except ImportError:
        # h5py-less append works since r10 (hdf5lite read-modify-write,
        # test_hdf5lite.py covers it); re-appending the SAME datasets to
        # the same file is a duplicate and must refuse loudly
        with _pytest.raises(ValueError, match="already exist"):
            save_binned_h5(arr, p, mode="a")


def test_compact_table_reshards_and_preserves_data(spark, tmp_path):
    """Many small files -> ~target-sized files; row count and the
    order-insensitive digest survive the rewrite."""
    from mpes_spark.dq import table_checksum
    from mpes_spark.io.writers import compact_table, split_table

    src = str(tmp_path / "small")
    dst = str(tmp_path / "compacted")
    df = spark.range(20_000).select(
        F.col("id"), (F.col("id") % 7).alias("k"), (F.col("id") * 0.25).alias("v")
    )
    split_table(df, 40, src)
    import glob

    n_small = len(glob.glob(src + "/*.parquet"))
    assert n_small == 40
    n = compact_table(spark, src, dst, target_mb=1)
    n_out = len(glob.glob(dst + "/*.parquet"))
    assert n_out == n <= 5
    before = table_checksum(spark.read.parquet(src), "t", ["id", "k"], []).collect()[0]
    after = table_checksum(spark.read.parquet(dst), "t", ["id", "k"], []).collect()[0]
    assert (before.n_rows, before.checksum) == (after.n_rows, after.checksum)


def test_compact_table_partitioned_layout(spark, tmp_path):
    """partition_by branch: each Hive partition compacts to its own
    file set and the partition column survives the rewrite."""
    import glob

    from mpes_spark.io.writers import compact_table, split_table

    src = str(tmp_path / "psmall")
    dst = str(tmp_path / "pcompacted")
    df = spark.range(5_000).select(
        F.col("id"), (F.col("id") % 3).alias("p"), (F.col("id") * 1.5).alias("v")
    )
    split_table(df.withColumn("p", F.col("p")), 12, src)
    compact_table(spark, src, dst, target_mb=1, partition_by="p")
    parts = sorted(glob.glob(dst + "/p=*"))
    assert [p.split("/")[-1] for p in parts] == ["p=0", "p=1", "p=2"]
    back = spark.read.parquet(dst)
    assert back.count() == 5_000
    assert set(r.p for r in back.select("p").distinct().collect()) == {0, 1, 2}


# ---------------------------------------------------------------------------
# saveDict output branches (r10: the tiff/png/ibw sinks + the 4-D h5
# slab decomposition, /root/reference/mpes/fprocessing.py:859-977)
# ---------------------------------------------------------------------------

def _fixture_binned(shape, seed=11):
    from mpes_spark.grid.binned import BinnedArray

    rng = np.random.default_rng(seed)
    dims = ["kx", "ky", "E", "tpp", "adc"][: len(shape)]
    return BinnedArray(
        data=(rng.random(shape) * 1e4),
        dims=dims,
        coords={d: np.linspace(0.0, 1.0, n) for d, n in zip(dims, shape)},
        attrs={"src": "test"},
    )


def test_save_binned_dict_h5_slab_decomposition(tmp_path):
    """4-D data decomposes into 3-D slabs along cutaxis, exactly the
    reference's saveDict h5 branch (fprocessing.py:926-936)."""
    from mpes_spark.io.hdf5lite import read_hdf5
    from mpes_spark.io.writers import save_binned_dict

    arr = _fixture_binned((4, 5, 6, 3))
    p = str(tmp_path / "hist4d")
    (out,) = save_binned_dict(arr, p, form="h5", dtyp="float32", cutaxis=3)
    f = read_hdf5(out)
    rolled = np.rollaxis(arr.data.astype("float32"), 3)
    for i in range(3):
        assert np.array_equal(f.read(f"binned/V{i}"), rolled[i])
    assert f"binned/V3" not in f.datasets
    for d in arr.dims:
        assert np.allclose(f.read(f"axes/{d}"), arr.coords[d])

    # 3-D stays a single dataset
    arr3 = _fixture_binned((4, 5, 6))
    (out3,) = save_binned_dict(arr3, str(tmp_path / "h3"), form="h5")
    f3 = read_hdf5(out3)
    assert np.array_equal(f3.read("binned/V"), arr3.data.astype("float32"))

    arr5 = _fixture_binned((2, 2, 2, 2, 2))
    with pytest.raises(NotImplementedError):
        save_binned_dict(arr5, str(tmp_path / "h5d"), form="h5")


def test_save_binned_dict_tiff_stack(tmp_path):
    """tiff branch: float32 multi-page stack, pages over leading dims
    (the tifffile shape of fprocessing.py:946-952); 4-D flattens."""
    from mpes_spark.io.images import read_tiff_stack
    from mpes_spark.io.writers import save_binned_dict

    arr = _fixture_binned((3, 4, 5))
    (out,) = save_binned_dict(arr, str(tmp_path / "st"), form="tiff")
    pages = read_tiff_stack(open(out, "rb").read())
    assert np.array_equal(np.stack(pages), arr.data.astype("float32"))

    arr4 = _fixture_binned((2, 3, 4, 5))
    (out4,) = save_binned_dict(arr4, str(tmp_path / "st4"), form="tiff")
    pages4 = read_tiff_stack(open(out4, "rb").read())
    assert np.array_equal(
        np.stack(pages4).reshape(arr4.data.shape), arr4.data.astype("float32")
    )

    arr2 = _fixture_binned((6, 7))
    (out2,) = save_binned_dict(arr2, str(tmp_path / "st2"), form="tiff")
    (page,) = read_tiff_stack(open(out2, "rb").read())
    assert np.array_equal(page, arr2.data.astype("float32"))


def test_save_binned_dict_png_slices(tmp_path):
    """png branch: 3-D writes one _i file per slice along cutaxis
    (default 2, fprocessing.py:955-969); float dtyp is rejected."""
    from mpes_spark.io.images import read_png
    from mpes_spark.io.writers import save_binned_dict

    from mpes_spark.grid.binned import BinnedArray

    rng = np.random.default_rng(5)
    arr = BinnedArray(
        data=rng.integers(0, 255, size=(4, 5, 3)).astype("int64"),
        dims=["kx", "ky", "E"],
        coords={
            "kx": np.arange(4.0),
            "ky": np.arange(5.0),
            "E": np.arange(3.0),
        },
    )
    paths = save_binned_dict(arr, str(tmp_path / "sl"), form="png", dtyp="uint8")
    assert [p.rsplit("_", 1)[-1] for p in paths] == ["0.png", "1.png", "2.png"]
    rolled = np.rollaxis(arr.data.astype("uint8"), 2)
    for i, p in enumerate(paths):
        assert np.array_equal(read_png(open(p, "rb").read()), rolled[i])

    with pytest.raises(ValueError):
        save_binned_dict(arr, str(tmp_path / "bad"), form="png", dtyp="float32")

    # 2-D single file
    arr2 = BinnedArray(
        data=arr.data[:, :, 0],
        dims=["kx", "ky"],
        coords={"kx": np.arange(4.0), "ky": np.arange(5.0)},
    )
    (p2,) = save_binned_dict(arr2, str(tmp_path / "one"), form="png", dtyp="uint8")
    assert np.array_equal(
        read_png(open(p2, "rb").read()), arr2.data.astype("uint8")
    )


def test_save_binned_dict_ibw_with_axis_scaling(tmp_path):
    """ibw branch: v5 wave round-trips through the in-repo TN003
    parser WITH real sfA/sfB axis scaling (the reference's igorwriter
    branch, fprocessing.py:971-975, drops the axes)."""
    from mpes_spark.io.igor import load_ibw
    from mpes_spark.io.writers import save_binned_dict

    arr = _fixture_binned((4, 6))
    (out,) = save_binned_dict(arr, str(tmp_path / "w"), form="ibw")
    wave = load_ibw(out)
    assert wave.name == "binned"
    assert np.array_equal(wave.data, arr.data.astype("float32"))
    for d in range(2):
        coords = wave.dim_coords(d)
        assert np.allclose(coords, arr.coords[arr.dims[d]], atol=1e-6)


def test_save_binned_dict_npz_and_mat_gate(tmp_path):
    from mpes_spark.io.writers import load_binned, save_binned_dict

    arr = _fixture_binned((3, 4))
    (out,) = save_binned_dict(arr, str(tmp_path / "a"), form="npz", dtyp="float64")
    back = load_binned(out)
    assert np.array_equal(back.data, arr.data)

    # mat branch works in every runtime since r10 (scipy when present,
    # the pure-python MAT5 writer otherwise) — see test_matlib.py for
    # the full codec matrix; here just the sink wiring
    from mpes_spark.io.matlib import loadmat

    (mp,) = save_binned_dict(arr, str(tmp_path / "m"), form="mat", dtyp="float64")
    r = loadmat(mp)
    assert np.array_equal(r["binned"], arr.data)
    for d in arr.dims:
        assert np.allclose(np.ravel(r[d]), arr.coords[d])
