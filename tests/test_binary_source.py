"""The HDF5 ingest seam (io/binary_source.py) exercised end-to-end
through the in-memory DictBackend: alias lookup, chunked assembly,
float32 cast, timeStamps reconstruction (reference semantics,
fprocessing.py:628-702), parquet conversion, and a binned histogram
over the ingested events."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from mpes_spark.binning.engine import bin_sparse
from mpes_spark.binning.spec import BinAxis
from mpes_spark.io.binary_source import (
    DictBackend,
    IngestSpec,
    convert_to_parquet,
    parse_first_event_timestamp,
    read_events_binary,
)


def _fake_files(rng=None):
    """Two files mirroring the h5 layout: Stream_* groups with Name
    aliases, msMarkers, FirstEventTimeStamp on one file and the
    mtime fallback on the other."""
    rng = rng or np.random.default_rng(42)
    files = {}
    for i, (n, start) in enumerate([(2500, 1.7e9), (1700, None)]):
        x = rng.uniform(0, 100, n)
        y = rng.uniform(-50, 50, n)
        t = rng.uniform(6e4, 7e4, n)
        # markers: event index at each elapsed ms, monotonic with a
        # duplicate (an empty millisecond) to hit that branch
        markers = np.sort(rng.integers(0, n, size=20))
        markers[5] = markers[4]  # duplicate ms marker
        files[f"mem://file_{i}.h5"] = {
            "streams": [
                ("Stream_0", "X", x),
                ("Stream_1", "Y", y),
                ("Stream_2", "t", t),
                ("Stream_4", None, rng.uniform(0, 1, n)),  # alias-less
            ],
            "ms_markers": np.sort(markers),
            "start_time": start,
            "mtime": 1.69e9,
        }
    return files


@pytest.fixture(scope="module")
def backend():
    return DictBackend(_fake_files())


def test_chunked_assembly_matches_source(spark, backend):
    """chunk_size smaller than any file -> multiple chunks per file;
    the union of chunk outputs must equal the concatenated source
    arrays, cast to float32, regardless of chunk boundaries."""
    paths = sorted(backend.files)
    out = read_events_binary(
        spark, paths, backend, IngestSpec(chunk_size=600, with_file=True)
    )
    assert [f.name for f in out.schema.fields[:4]] == ["X", "Y", "t", "Stream_4"]
    assert all(f.dataType.typeName() == "float" for f in out.schema.fields[:4])
    pdf = out.toPandas().sort_values(["file", "X"], ignore_index=True)
    want_n = sum(backend.n_events(p) for p in paths)
    assert len(pdf) == want_n
    for p in paths:
        got = np.sort(pdf[pdf.file == p]["X"].to_numpy())
        want = np.sort(backend.read_stream(p, "Stream_0", 0, backend.n_events(p)).astype("float32"))
        assert np.array_equal(got, want)


def test_ingest_plan_has_no_exchange(spark, backend):
    """The chunk plan feeds mapInPandas straight from its local
    relation: no round-robin shuffle in front of the Python tasks, and
    the ingested rows are exactly the backend's reads."""
    paths = sorted(backend.files)
    out = read_events_binary(
        spark, paths, backend, IngestSpec(chunk_size=600, with_file=True)
    )
    pdf = out.toPandas()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "MapInPandas" in plan
    got = sorted(map(tuple, pdf[["file", "X", "Y", "t", "Stream_4"]].itertuples(index=False)))
    want = []
    for p in paths:
        n = backend.n_events(p)
        cols = [
            backend.read_stream(p, g, 0, n).astype("float32")
            for g in ("Stream_0", "Stream_1", "Stream_2", "Stream_4")
        ]
        want += [(p, *vals) for vals in zip(*cols)]
    assert got == sorted(want)


def test_alias_selection_and_missing_alias(spark, backend):
    paths = sorted(backend.files)
    out = read_events_binary(
        spark, paths, backend, IngestSpec(aliases=["t", "X"], chunk_size=1000)
    )
    assert [f.name for f in out.schema.fields] == ["t", "X"]
    assert out.count() == sum(backend.n_events(p) for p in paths)
    with pytest.raises(KeyError):
        read_events_binary(spark, paths, backend, IngestSpec(aliases=["nope"]))


def test_timestamps_reference_semantics(spark, backend):
    """timeStamps must follow the reference's piecewise msMarkers fill
    (fprocessing.py:688-698): before first marker -> start, between
    markers n,n+1 -> start + n/1000, after last -> start + len/1000 —
    computed here independently with a python loop."""
    path = sorted(backend.files)[0]
    n = backend.n_events(path)
    out = (
        read_events_binary(
            spark, [path], backend,
            IngestSpec(aliases=["X"], chunk_size=700, timestamps=True),
        )
        .select("X", "timeStamps")
        .toPandas()
    )
    # reproduce the reference loop verbatim (unit-fixed tail)
    m = np.asarray(backend.ms_markers(path))
    start = backend.start_time(path)
    want = np.zeros(n)
    want[0 : m[0]] = start
    for i in range(len(m) - 1):
        want[m[i] : m[i + 1]] = start + i / 1000.0
    want[m[-1] :] = start + len(m) / 1000.0
    # align by X value (row order across chunks is not guaranteed)
    x_src = backend.read_stream(path, "Stream_0", 0, n).astype("float32")
    got = out.sort_values("X", ignore_index=True)
    order = np.argsort(x_src, kind="stable")
    assert np.allclose(got["timeStamps"].to_numpy(), want[order])


def test_mtime_fallback_start_time(backend):
    """A file without FirstEventTimeStamp falls back to mtime minus
    write duration (fprocessing.py:678-686)."""
    path = sorted(backend.files)[1]
    m = backend.ms_markers(path)
    assert backend.start_time(path) == pytest.approx(1.69e9 - len(m) / 1000.0)


def test_parse_first_event_timestamp():
    ts = parse_first_event_timestamp("2024-01-01T00:00:00.000000+0000")
    assert ts == 1704067200.0


def test_convert_to_parquet_then_bin(spark, backend, tmp_path):
    """The day-one real-data path: ingest -> parquet -> binned
    histogram, histogram equal to numpy's on the source arrays."""
    paths = sorted(backend.files)
    out_dir = str(tmp_path / "events_pq")
    convert_to_parquet(
        spark, paths, backend, out_dir, IngestSpec(aliases=["X", "Y"], chunk_size=900)
    )
    df = spark.read.parquet(out_dir)
    hist = (
        bin_sparse(df, [BinAxis("X", 20, 0.0, 100.0)])
        .orderBy("X_bin")
        .collect()
    )
    src = np.concatenate(
        [
            backend.read_stream(p, "Stream_0", 0, backend.n_events(p)).astype("float32")
            for p in paths
        ]
    )
    want, _ = np.histogram(src, bins=20, range=(0.0, 100.0))
    got = np.zeros(20, dtype="int64")
    for r in hist:
        got[int(r.X_bin)] = r.cnt
    assert np.array_equal(got, want)


def test_read_metadata_projection(backend):
    from mpes_spark.io.binary_source import read_metadata

    paths = sorted(backend.files)
    backend.files[paths[0]]["attrs"] = {"Instrument": "METIS", "Run": 42}
    meta = read_metadata(paths, backend)
    assert meta[paths[0]]["Instrument"] == "METIS"
    assert meta[paths[0]]["n_events"] == backend.n_events(paths[0])
    proj = read_metadata([paths[0]], backend, attributes=["Run"])
    assert set(proj[paths[0]]) == {"Run", "n_events"}


def test_summarize_source_catalog(spark, backend):
    from mpes_spark.io.binary_source import summarize_source

    paths = sorted(backend.files)
    cat = summarize_source(spark, paths, backend).toPandas()
    assert len(cat) == sum(len(backend.list_streams(p)) for p in paths)
    f0 = cat[cat.file == paths[0]]
    assert set(f0.alias) == {"X", "Y", "t", "Stream_4"}  # nullval alias kept
    assert (f0.n_events == backend.n_events(paths[0])).all()


def test_hdf5_reader_works_without_h5py(spark):
    """r9: without h5py the public reader falls back to the pure-
    python Hdf5LiteBackend instead of raising — the env gate is
    CLOSED for the reference's own contiguous layout. A missing file
    is now an ordinary IO error, not a NotImplementedError."""
    from mpes_spark.io.readers import read_events_hdf5

    try:
        import h5py  # noqa: F401

        pytest.skip("h5py present; the lite fallback is not exercised")
    except ImportError:
        pass
    with pytest.raises((OSError, ValueError)):
        read_events_hdf5(spark, ["/nonexistent.h5"])


def test_synthetic_backend_ingest_exact(spark):
    """SyntheticBackend (compute-on-read, zero pickled payload) must
    assemble exactly the values its formula defines, chunk-split or
    not — the determinism that makes binary_ingest_hist a stable
    bench entry."""
    import numpy as np

    from mpes_spark.io.binary_source import (
        IngestSpec,
        SyntheticBackend,
        read_events_binary,
    )

    backend = SyntheticBackend(events_per_file=1_000, ms_marker_step=100)
    paths = ["synth_0", "synth_3"]
    df = read_events_binary(
        spark,
        paths,
        backend,
        IngestSpec(aliases=["X", "t"], timestamps=True, with_file=True, chunk_size=256),
    )
    got = df.toPandas().sort_values(["file", "timeStamps", "X"], ignore_index=True)
    assert len(got) == 2_000
    for k, path in ((0, "synth_0"), (3, "synth_3")):
        sub = got[got.file == path]
        idx = np.arange(1_000, dtype="float64")
        want_x = np.sort(((idx * 0.61803398875 + k * 1013.0) % 1000.0).astype("float32"))
        assert np.array_equal(np.sort(sub.X.to_numpy()), want_x)
        # timestamps: marker step 100 -> events [m*100, (m+1)*100) at
        # start + m/1000, last marker tail at start + nmarkers/1000
        assert sub.timeStamps.min() == backend.start_time(path)
    # the chunk plan parallelizes: 1000/256 -> 4 chunks per file
    assert df.rdd.getNumPartitions() == 8
