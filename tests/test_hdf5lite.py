"""Pure-python HDF5 reader/writer (io/hdf5lite.py, VERDICT r9 #8):
round-trips across dtypes, bounded slice reads, attribute parsing,
format-error branches, and end-to-end parity of Hdf5LiteBackend
against DictBackend through the full Spark ingest seam. When h5py is
present (not in this container) the cross-library check also runs."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from mpes_spark.io.hdf5lite import _SIG, read_hdf5, write_hdf5


def _streams(n=5_000, seed=3):
    rng = np.random.default_rng(seed)
    return {
        "Stream_0": rng.random(n),
        "Stream_1": rng.random(n).astype("float32"),
        "Stream_2": rng.integers(-(2**20), 2**20, n).astype("int32"),
        "Stream_3": rng.integers(0, 65535, n).astype("uint16"),
        "msMarkers": np.arange(0, n, 1000, dtype="int64"),
    }


@pytest.fixture()
def h5file(tmp_path):
    p = str(tmp_path / "t.h5")
    streams = _streams()
    write_hdf5(
        p,
        streams,
        {f"Stream_{i}": {"Name": a} for i, a in enumerate(["X", "Y", "t", "ADC"])},
        {"FirstEventTimeStamp": "2023-01-05T10:00:00.000000+0000", "runId": 42},
    )
    return p, streams


def test_roundtrip_all_dtypes(h5file):
    p, streams = h5file
    f = read_hdf5(p)
    assert sorted(f.datasets) == sorted(streams)
    for nm, arr in streams.items():
        got = f.read(nm)
        assert got.dtype == arr.dtype.newbyteorder("<")
        np.testing.assert_array_equal(got, arr)
        assert f.n_rows(nm) == len(arr)


def test_bounded_slice_reads(h5file):
    p, streams = h5file
    f = read_hdf5(p)
    for nm, arr in streams.items():
        np.testing.assert_array_equal(f.read(nm, 100, 250), arr[100:250])
        np.testing.assert_array_equal(f.read(nm, 0, 1), arr[:1])
        # stop clamps to n, start clamps to 0
        np.testing.assert_array_equal(f.read(nm, len(arr) - 3, 10**9), arr[-3:])


def test_slice_read_holds_only_its_window(tmp_path):
    """Opening a file and reading 10 rows of a 16 MB contiguous
    dataset allocates a small fraction of the file: the reader maps
    the file and copies out only the requested byte window. An empty
    file still fails as a bad signature."""
    import os
    import tracemalloc

    p = str(tmp_path / "big.h5")
    data = np.arange(2 * 1024 * 1024, dtype="float64")  # 16 MB
    write_hdf5(p, {"Stream_0": data})
    size = os.path.getsize(p)
    assert size >= 16 * 1024 * 1024
    tracemalloc.start()
    try:
        f = read_hdf5(p)
        got = f.read("Stream_0", 1000, 1010)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    np.testing.assert_array_equal(got, data[1000:1010])
    assert peak < size // 100, (peak, size)
    f.close()
    empty = str(tmp_path / "empty.h5")
    open(empty, "wb").close()
    with pytest.raises(ValueError, match="superblock signature"):
        read_hdf5(empty)


def test_attributes(h5file):
    p, _ = h5file
    f = read_hdf5(p)
    assert f.attrs["FirstEventTimeStamp"] == "2023-01-05T10:00:00.000000+0000"
    assert f.attrs["runId"] == 42
    aliases = {g: ds.attrs["Name"] for g, ds in f.datasets.items() if "Stream" in g}
    assert aliases == {f"Stream_{i}": a for i, a in enumerate(["X", "Y", "t", "ADC"])}


def test_2d_dataset_roundtrip(tmp_path):
    p = str(tmp_path / "m.h5")
    mat = np.arange(60, dtype="float64").reshape(12, 5)
    write_hdf5(p, {"M": mat})
    f = read_hdf5(p)
    np.testing.assert_array_equal(f.read("M"), mat)
    np.testing.assert_array_equal(f.read("M", 2, 5), mat[2:5])


def test_error_branches(tmp_path):
    with pytest.raises(ValueError, match="superblock signature"):
        read_hdf5(__file__)
    # unsupported superblock version
    p = str(tmp_path / "bad.h5")
    with open(p, "wb") as fh:
        fh.write(_SIG + bytes([9]) + b"\x00" * 80)
    with pytest.raises(ValueError, match="superblock version"):
        read_hdf5(p)
    # unknown layout class refuses loudly: craft a header with class 3
    q = str(tmp_path / "ok.h5")
    write_hdf5(q, {"D": np.arange(10.0)})
    f = read_hdf5(q)
    buf = bytearray(open(q, "rb").read())
    # find the layout message (version 3, class 1) and flip its class
    idx = buf.find(struct.pack("<BBQ", 3, 1, f.datasets["D"].data_addr))
    assert idx > 0
    buf[idx + 1] = 3
    r = str(tmp_path / "badclass.h5")
    open(r, "wb").write(bytes(buf))
    with pytest.raises(ValueError, match="layout class"):
        read_hdf5(r)


def test_sorted_symbol_table(tmp_path):
    """Link names land in lexicographic order in the symbol table node
    regardless of insertion order (libhdf5's lookup contract)."""
    p = str(tmp_path / "s.h5")
    write_hdf5(p, {"zzz": np.arange(3.0), "aaa": np.arange(4.0), "mmm": np.arange(5.0)})
    f = read_hdf5(p)
    assert {n: f.n_rows(n) for n in f.datasets} == {"zzz": 3, "aaa": 4, "mmm": 5}


def test_h5py_cross_validation(tmp_path):
    """When a real libhdf5 binding exists, it must read our files and
    we must read its (contiguous, old-style-group) files. Skipped in
    containers without h5py — the byte layout is still pinned by the
    spec-shape tests above."""
    h5py = pytest.importorskip("h5py")
    p = str(tmp_path / "x.h5")
    streams = _streams(n=1_000)
    write_hdf5(p, streams, {"Stream_0": {"Name": "X"}}, {"tag": "lite"})
    with h5py.File(p, "r") as f:
        for nm, arr in streams.items():
            np.testing.assert_array_equal(f[nm][:], arr)
        assert f["Stream_0"].attrs["Name"] in (b"X", "X")
    q = str(tmp_path / "y.h5")
    with h5py.File(q, "w", libver="earliest") as f:
        for nm, arr in streams.items():
            f.create_dataset(nm, data=arr)
        f["Stream_0"].attrs["Name"] = np.bytes_("X")
    g = read_hdf5(q)
    for nm, arr in streams.items():
        np.testing.assert_array_equal(g.read(nm), arr)


def test_backend_parity_through_ingest(spark, tmp_path):
    """Hdf5LiteBackend through the FULL Spark ingest pipeline produces
    exactly what DictBackend produces for identical content — chunk
    plan, alias resolution, float32 cast, timestamp reconstruction."""
    import pandas as pd

    from mpes_spark.io.binary_source import (
        DictBackend,
        Hdf5LiteBackend,
        IngestSpec,
        parse_first_event_timestamp,
        read_events_binary,
    )

    n = 7_500
    rng = np.random.default_rng(11)
    vals = [rng.random(n) * 1000 for _ in range(3)]
    markers = np.arange(0, n, 1000, dtype="int64")
    p = str(tmp_path / "ev.h5")
    write_hdf5(
        p,
        {f"Stream_{i}": v for i, v in enumerate(vals)}
        | {"msMarkers": markers},
        {f"Stream_{i}": {"Name": a} for i, a in enumerate(["X", "Y", "ADC"])},
        {"FirstEventTimeStamp": "2023-01-05T10:00:00.000000+0000"},
    )
    dict_backend = DictBackend(
        files={
            p: {
                "streams": [
                    (f"Stream_{i}", a, vals[i])
                    for i, a in enumerate(["X", "Y", "ADC"])
                ],
                "ms_markers": markers,
                "start_time": parse_first_event_timestamp(
                    "2023-01-05T10:00:00.000000+0000"
                ),
                "mtime": 0.0,
            }
        }
    )
    spec = IngestSpec(aliases=["X", "ADC"], timestamps=True, chunk_size=2_000)
    a = read_events_binary(spark, [p], Hdf5LiteBackend(), spec).toPandas()
    b = read_events_binary(spark, [p], dict_backend, spec).toPandas()
    a = a.sort_values(list(a.columns), ignore_index=True)
    b = b.sort_values(list(b.columns), ignore_index=True)
    pd.testing.assert_frame_equal(a, b)
    assert len(a) == n


def test_read_events_hdf5_lite_fallback(spark, tmp_path):
    """The PUBLIC reader entry point works with no h5py in the
    runtime: Hdf5LiteBackend takes over and the full ingest pipeline
    (chunk plan, alias lookup, float32 cast, timestamps) runs on a
    real .h5 file."""
    from mpes_spark.io.readers import read_events_hdf5

    p = str(tmp_path / "re.h5")
    n = 4_000
    write_hdf5(
        p,
        {
            "Stream_0": np.arange(n, dtype="float64"),
            "Stream_1": np.arange(n, dtype="float64") * 2,
            "msMarkers": np.arange(0, n, 1000, dtype="int64"),
        },
        {"Stream_0": {"Name": "X"}, "Stream_1": {"Name": "ADC"}},
        {"FirstEventTimeStamp": "2023-01-05T10:00:00.000000+0000"},
    )
    pdf = (
        read_events_hdf5(spark, [p], aliases=["X", "ADC"], timestamps=True, chunk_size=1_500)
        .toPandas()
        .sort_values("X", ignore_index=True)
    )
    assert list(pdf.columns) == ["X", "ADC", "timeStamps"]
    assert len(pdf) == n
    np.testing.assert_allclose(pdf["X"], np.arange(n, dtype="float32"))
    np.testing.assert_allclose(pdf["ADC"], np.arange(n, dtype="float32") * 2)


def test_nested_group_roundtrip(tmp_path):
    """Names with '/' become REAL HDF5 subgroups (the reference's
    binned/V3 + axes/ax{i} layout), each with its own symbol table;
    the reader registers children under their full path."""
    p = str(tmp_path / "g.h5")
    mat = np.arange(24.0).reshape(4, 6)
    write_hdf5(
        p,
        {
            "binned/V3": mat,
            "axes/ax0": np.linspace(0, 1, 4),
            "axes/ax1": np.linspace(-2, 2, 6),
            "metadata/attrs": np.frombuffer(b'{"run": 17}', dtype="u1"),
            "toplevel": np.arange(5.0),
        },
        {"axes/ax0": {"name": "E"}, "axes/ax1": {"name": "k"}},
    )
    f = read_hdf5(p)
    assert sorted(f.datasets) == [
        "axes/ax0", "axes/ax1", "binned/V3", "metadata/attrs", "toplevel"
    ]
    np.testing.assert_array_equal(f.read("binned/V3"), mat)
    assert f.datasets["axes/ax0"].attrs["name"] == "E"
    assert f.datasets["axes/ax1"].attrs["name"] == "k"
    assert bytes(f.read("metadata/attrs").tobytes()) == b'{"run": 17}'


def _chunked_file(path, arr, chunk, filters):
    """Independent hand-encoder of a chunked+filtered HDF5 dataset
    (libhdf5's gzip shape) — so the reader's chunk B-tree walk and
    filter pipeline are tested against bytes it did not write."""
    import zlib

    _UNDEF = 0xFFFFFFFFFFFFFFFF
    out = bytearray(b"\x00" * 96)
    rank = arr.ndim
    isz = arr.dtype.itemsize

    # 1. chunk payloads
    entries = []  # (nbytes, coords, addr)
    grid = [range(0, s, c) for s, c in zip(arr.shape, chunk)]
    import itertools

    for coords in itertools.product(*grid):
        full = np.zeros(chunk, dtype=arr.dtype)
        sel = tuple(slice(c, min(c + d, s)) for c, d, s in zip(coords, chunk, arr.shape))
        clip = tuple(slice(0, sl.stop - sl.start) for sl in sel)
        full[clip] = arr[sel]
        raw = full.tobytes()
        for fid in filters:  # apply in pipeline order
            if fid == 2:
                a = np.frombuffer(raw, dtype="u1").reshape(-1, isz)
                raw = a.T.tobytes()
            elif fid == 1:
                raw = zlib.compress(raw, 6)
        addr = len(out)
        out.extend(raw)
        entries.append((len(raw), coords, addr))

    # 2. chunk B-tree (level 0, one node)
    btree_addr = len(out)
    out.extend(b"TREE" + struct.pack("<BBHQQ", 1, 0, len(entries), _UNDEF, _UNDEF))
    for nbytes, coords, addr in entries:
        out.extend(struct.pack("<II", nbytes, 0))
        out.extend(struct.pack(f"<{rank + 1}Q", *coords, 0))
        out.extend(struct.pack("<Q", addr))
    out.extend(struct.pack("<II", 0, 0))  # trailing key
    out.extend(struct.pack(f"<{rank + 1}Q", *arr.shape, isz))

    # 3. object header: dataspace, datatype, filter pipeline v1, layout v3/2
    from mpes_spark.io.hdf5lite import (
        _dataspace_message,
        _dtype_message,
        _v1_header,
    )

    fparts = bytearray(struct.pack("<BB6x", 1, len(filters)))
    for fid in filters:
        fparts += struct.pack("<HHHH", fid, 0, 0, 1)  # 1 client value
        fparts += struct.pack("<II", 6, 0)  # value + v1 odd-count pad
    layout = struct.pack("<BBBQ", 3, 2, rank + 1, btree_addr)
    layout += struct.pack(f"<{rank + 1}I", *chunk, isz)
    oh_addr = len(out)
    out.extend(
        _v1_header(
            [
                (0x0001, _dataspace_message(arr.shape)),
                (0x0003, _dtype_message(arr.dtype)),
                (0x000B, bytes(fparts)),
                (0x0008, layout),
            ]
        )
    )

    # 4. root group with one link
    heap_addr = len(out)
    heap = bytearray(b"\x00" * 8)
    name_off = len(heap)
    heap += b"D\x00" + b"\x00" * 6
    out.extend(b"HEAP" + struct.pack("<BxxxQQQ", 0, len(heap), _UNDEF, heap_addr + 32))
    out.extend(heap)
    snod_addr = len(out)
    out.extend(b"SNOD" + struct.pack("<BBH", 1, 0, 1))
    out.extend(struct.pack("<QQIxxxx16x", name_off, oh_addr, 0))
    bt = len(out)
    out.extend(b"TREE" + struct.pack("<BBHQQ", 0, 0, 1, _UNDEF, _UNDEF))
    out.extend(struct.pack("<QQQ", name_off, snod_addr, name_off))
    root_oh = len(out)
    out.extend(_v1_header([(0x0011, struct.pack("<QQ", bt, heap_addr))]))
    from mpes_spark.io.hdf5lite import _SIG as SIG

    sb = SIG + struct.pack(
        "<BBBBBBBxHHIQQQQ", 0, 0, 0, 0, 0, 8, 8, 32, 16, 0, 0, _UNDEF, len(out), _UNDEF
    )
    sb += struct.pack("<QQIxxxxQQ", 0, root_oh, 1, bt, heap_addr)
    out[: len(sb)] = sb
    open(path, "wb").write(bytes(out))


@pytest.mark.parametrize("filters", [(1,), (2, 1), ()])
def test_chunked_gzip_decode(tmp_path, filters):
    """Chunked layout + deflate/shuffle filters decode natively —
    tested against an independently hand-encoded file, including
    edge chunks that overhang the array bounds."""
    rng = np.random.default_rng(9)
    arr = rng.random((7, 5))
    p = str(tmp_path / "c.h5")
    _chunked_file(p, arr, (3, 2), list(filters))
    f = read_hdf5(p)
    ds = f.datasets["D"]
    assert ds.chunk_dims == (3, 2) and ds.filters == tuple(filters)
    np.testing.assert_array_equal(f.read("D"), arr)
    np.testing.assert_array_equal(f.read("D", 2, 5), arr[2:5])


def test_chunked_unknown_filter_refuses(tmp_path):
    arr = np.arange(12.0).reshape(3, 4)
    p = str(tmp_path / "szip.h5")
    _chunked_file(p, arr, (2, 2), [4])  # szip id
    with pytest.raises(ValueError, match="filter ids"):
        read_hdf5(p)


# ---------------------------------------------------------------------------
# property fuzz (hypothesis): arbitrary shapes/dtypes/names round-trip
# ---------------------------------------------------------------------------

from hypothesis import given, settings, strategies as st
from hypothesis.extra.numpy import arrays


@given(
    arr=arrays(
        dtype=st.sampled_from([np.uint16, np.int32, np.float32, np.float64]),
        shape=st.tuples(st.integers(1, 40)),
    ),
    name=st.text(
        alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd")),
        min_size=1,
        max_size=12,
    ),
)
@settings(max_examples=60, deadline=None)
def test_hdf5_roundtrip_fuzz(tmp_path_factory, arr, name):
    p = str(tmp_path_factory.mktemp("h5fuzz") / "f.h5")
    write_hdf5(p, {name: arr}, {name: {"Name": "alias"}})
    f = read_hdf5(p)
    got = f.read(name)
    np.testing.assert_array_equal(got, arr.astype(got.dtype))
    assert f.datasets[name].attrs["Name"] == "alias"


@given(
    n=st.integers(1, 200),
    start=st.integers(0, 250),
    stop=st.integers(0, 250),
)
@settings(max_examples=60, deadline=None)
def test_hdf5_slice_fuzz(tmp_path_factory, n, start, stop):
    """Every [start, stop) slice equals the numpy slice, including
    degenerate and out-of-range windows."""
    p = str(tmp_path_factory.mktemp("h5slice") / "s.h5")
    arr = np.arange(n, dtype="float64")
    write_hdf5(p, {"d": arr})
    f = read_hdf5(p)
    want = arr[max(0, start) : min(stop, n)]
    got = f.read("d", start, stop)
    if stop < start:
        assert got.size == 0 or np.array_equal(got, want)
    else:
        np.testing.assert_array_equal(got, want)


def test_append_hdf5_read_modify_write(tmp_path):
    """r10 append (VERDICT r9 #9 stretch): datasets appended to a
    lite-written file merge with the existing tree, attributes (per-
    dataset and root) survive the rewrite, and collisions raise like
    h5py's create_dataset under mode 'a'."""
    import numpy as np
    import pytest

    from mpes_spark.io.hdf5lite import append_hdf5, read_hdf5, write_hdf5

    p = str(tmp_path / "grow.h5")
    a = np.arange(12, dtype="f8").reshape(3, 4)
    write_hdf5(
        p,
        {"binned/V3": a, "axes/ax0": np.arange(3.0)},
        {"axes/ax0": {"name": "kx"}},
        {"origin": "test"},
    )
    append_hdf5(
        p,
        {"axes/ax1": np.arange(4.0), "metadata/extra": np.arange(5, dtype="u1")},
        {"axes/ax1": {"name": "ky"}},
    )
    f = read_hdf5(p)
    assert np.array_equal(f.read("binned/V3"), a)
    assert np.array_equal(f.read("axes/ax1"), np.arange(4.0))
    assert f.datasets["axes/ax0"].attrs["name"] == "kx"
    assert f.datasets["axes/ax1"].attrs["name"] == "ky"
    assert f.attrs["origin"] == "test"

    with pytest.raises(ValueError, match="already exist"):
        append_hdf5(p, {"axes/ax0": np.arange(3.0)})

    # missing file degrades to a plain write (h5py 'a' behavior)
    p2 = str(tmp_path / "fresh.h5")
    append_hdf5(p2, {"only": np.arange(2.0)})
    assert np.array_equal(read_hdf5(p2).read("only"), np.arange(2.0))


def test_save_binned_h5_append_mode_no_h5py(tmp_path):
    """save_binned_h5 mode 'a' works in the h5py-less runtime: second
    array appends under a distinct prefix via the rewrite path."""
    import json

    import numpy as np

    from mpes_spark.grid.binned import BinnedArray
    from mpes_spark.io.hdf5lite import append_hdf5, read_hdf5
    from mpes_spark.io.writers import save_binned_h5

    arr = BinnedArray(
        data=np.arange(6.0).reshape(2, 3),
        dims=["kx", "ky"],
        coords={"kx": np.arange(2.0), "ky": np.arange(3.0)},
        attrs={"run": 1},
    )
    p = str(tmp_path / "b.h5")
    save_binned_h5(arr, p, mode="a")  # fresh file: degrades to write
    append_hdf5(p, {"extra/marker": np.arange(4, dtype="i4")})
    f = read_hdf5(p)
    assert np.array_equal(f.read("binned/V3"), arr.data)
    assert np.array_equal(f.read("extra/marker"), np.arange(4, dtype="i4"))
    attrs = json.loads(bytes(f.read("metadata/attrs").tobytes()).decode())
    assert attrs == {"run": 1}
