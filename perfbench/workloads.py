"""The benchmark's ops: each one a sequence of public engine calls, run
either whole (the timed run) or as a ladder of cumulative prefixes (the
traced run). Every op result is checked against the generator's reference.
"""

from __future__ import annotations

import os
import time

import numpy as np
from pyspark.sql import functions as F

import spec
from gen import canon_hash, digest
from mpes_spark.binning.engine import bin_sparse, densify
from mpes_spark.binning.spec import axes_from_triples
from mpes_spark.calibrate.tps import tps_coeffs
from mpes_spark.io.binary_source import Hdf5LiteBackend, convert_to_parquet
from mpes_spark.io.readers import read_events_hdf5, read_table
from mpes_spark.pipeline import EventPipeline
from mpes_spark.registry import _REGISTRY


class CheckFailed(Exception):
    pass


def _check_in_grid(total: float, rows: int, group: str) -> None:
    share = total / rows
    if share < spec.MIN_IN_GRID_SHARE[group]:
        raise CheckFailed(f"only {share:.3f} of {rows} rows landed in the grid")


class EventOp:
    """read_table -> [filter] -> [calibration] -> N-D bin on one parquet
    input. ``steps`` are (rung name, pipeline step, columns to sum) added
    after the scan; the traced ladder times each cumulative prefix."""

    def __init__(self, spark, name, path, rows, steps, axes, nbins, ranges, check):
        self.spark, self.name = spark, name
        self.path, self.rows, self.steps = path, rows, steps
        self.axes, self.nbins, self.ranges = axes, nbins, ranges
        self._check = check

    def pipelines(self):
        p = EventPipeline(read_table(self.spark, self.path))
        out = [("io.scan", p, ["X", "Y", "t"])]
        for rung, step, cols in self.steps:
            p = step(p)
            out.append((rung, p, cols))
        return out

    def run(self):
        return self.pipelines()[-1][1].bin(self.axes, self.nbins, self.ranges)

    def ladder(self, tracer, parent: int):
        for rung, p, cols in self.pipelines():
            with tracer.span(rung, parent):
                p.df.agg(*[F.sum(c) for c in cols]).collect()
            df = p.df
        axes = axes_from_triples(list(self.axes), self.nbins, self.ranges)
        with tracer.span("binning.sparse", parent) as s:
            s.attrs["sparse_rows"] = bin_sparse(df, axes).count()
            s.attrs["ndims"] = len(axes)
        with tracer.span("binning.densify", parent):
            return densify(bin_sparse(df, axes), axes)

    def check(self, result) -> None:
        self._check(np.asarray(result.data))


class Hdf5Op(EventOp):
    """hdf5lite files -> convert_to_parquet -> read back -> 256^2 bin."""

    def __init__(self, spark, files, out, rows, check):
        super().__init__(
            spark, "hdf5.convert_bin_xy", out, rows, [],
            ["X", "Y"], [n for n, _, _ in spec.HDF5_GRID],
            [(lo, hi) for _, lo, hi in spec.HDF5_GRID], check,
        )
        self.files = files

    def convert(self):
        convert_to_parquet(self.spark, self.files, Hdf5LiteBackend(), self.path)

    def run(self):
        self.convert()
        return super().run()

    def ladder(self, tracer, parent: int):
        # the decoder alone: every stream of every file, on the driver
        with tracer.span("io.hdf5_read", parent, spark_counters=False):
            backend = Hdf5LiteBackend()
            for f in self.files:
                n = backend.n_events(f)
                for group, _ in backend.list_streams(f):
                    backend.read_stream(f, group, 0, n)
        with tracer.span("io.ingest", parent):
            read_events_hdf5(self.spark, self.files).agg(
                *[F.sum(c) for c in ("X", "Y", "t", "ADC")]
            ).collect()
        with tracer.span("io.convert", parent):
            self.convert()
        return super().ladder(tracer, parent)


class GraphOp:
    """A registered iteration-family query, built then collected."""

    def __init__(self, spark, name, sf_dir, rows, expect):
        self.spark, self.name, self.sf_dir = spark, name, sf_dir
        self.rows, self.expect = rows, expect
        self.query = next(q for q in _REGISTRY if q.name == name).spark

    def run(self):
        return self.query(self.spark, self.sf_dir).toPandas()

    def ladder(self, tracer, parent: int):
        with tracer.span("graph.build", parent):
            df = self.query(self.spark, self.sf_dir)
        with tracer.span("graph.exec", parent):
            return df.toPandas()

    def check(self, result) -> None:
        got = canon_hash(result)
        if got != self.expect:
            raise CheckFailed(f"result hash {got} != oracle {self.expect}")


# ---- per-workload set-up: build the op cycle from the generated inputs ------


def calib_ops(spark, inp: str, m: dict, seed: int, work: str, timings: dict):
    p = m["params"]
    src = np.asarray(p["tps_src"])
    t0 = time.perf_counter()
    co = tps_coeffs(src, np.asarray(p["tps_dst"]))
    timings["calibrate.solve_s"] = time.perf_counter() - t0
    field = np.load(os.path.join(inp, "dfield.npy"))
    scale = p["dfield_scale"]
    x0, y0, fx, fy = p["k_axis"]
    grid = p["grid"]
    rows = m["rows"]

    def calibrate(xc, yc):
        return lambda q: q.append_energy_axis_poly(p["e_poly"], p["e0"]).append_k_axis(
            xc, yc, x0, y0, fx, fy
        )

    corrections = {
        "none": lambda q: q,
        "tps": lambda q: q.apply_tps(co, src),
        "dfield": lambda q: q.with_column("Xs", F.col("X") / F.lit(scale))
        .with_column("Ys", F.col("Y") / F.lit(scale))
        .apply_dfield(field, how="join", x="Xs", y="Ys"),
    }

    def checker(name):
        want = np.load(os.path.join(inp, f"expect_{name}.npy"))

        def check(got):
            l1 = float(np.abs(got - want).sum())
            if l1 > spec.CALIB_L1_TOL * rows:
                raise CheckFailed(f"L1 distance {l1} to the reference > {spec.CALIB_L1_TOL} x {rows}")
            _check_in_grid(float(got.sum()), rows, "calib_coarse")

        return check

    ops = []
    for name in spec.CALIB_OPS:
        xy = ("X", "Y") if name == "none" else ("Xm", "Ym")
        corr, cal = corrections[name], calibrate(*xy)
        steps = [
            ("transforms.filter", lambda q: q.filter_range("t", *p["t_window"]), ["X", "Y", "t"]),
            ("transforms.calib", lambda q, corr=corr, cal=cal: cal(corr(q)), ["kx", "ky", "E"]),
        ]
        ops.append(
            EventOp(
                spark, f"calib.{name}", os.path.join(inp, "events.parquet"), rows, steps,
                ["kx", "ky", "E"], [g[0] for g in grid], [(g[1], g[2]) for g in grid], checker(name),
            )
        )
    return ops


def fine_ops(spark, inp: str, m: dict, seed: int, work: str, timings: dict):
    rows = m["rows"]

    def checker(name):
        want = m["expect"][name]

        def check(got):
            d = digest(got)
            if d != want:
                raise CheckFailed(f"histogram digest {d} != reference {want}")
            _check_in_grid(d["total"], rows, "fine_rebin")

        return check

    return [
        EventOp(
            spark, f"fine.{name}", os.path.join(inp, "events.parquet"), rows, [],
            ["X", "Y", "t"], [g[0] for g in grid], [(g[1], g[2]) for g in grid], checker(name),
        )
        for name, grid in spec.FINE_GRIDS.items()
    ]


def hdf5_ops(spark, inp: str, m: dict, seed: int, work: str, timings: dict):
    files = [os.path.join(inp, f) for f in m["files"]]
    rows = m["rows"]
    want = np.load(os.path.join(inp, "expect_xy.npy"))

    def check(got):
        if not np.array_equal(got, want):
            raise CheckFailed(f"256^2 histogram differs in {int((got != want).sum())} cells")
        _check_in_grid(float(got.sum()), rows, "hdf5_convert")

    return [Hdf5Op(spark, files, os.path.join(work, "converted.parquet"), rows, check)]


def graph_ops(spark, inp: str, m: dict, seed: int, work: str, timings: dict):
    rest = list(spec.GRAPH_OPS[1:])
    order = [spec.GRAPH_OPS[0]] + [rest[i] for i in np.random.default_rng(seed).permutation(len(rest))]
    rows = m["rows"]
    read = {
        "pagerank_custsupp": rows["orders"] + rows["lineitem"],
        "label_communities": rows["orders"] + rows["lineitem"],
        "kcore_copurchase": rows["lineitem"],
    }
    return [GraphOp(spark, name, inp, read[name], m["expect"][name]) for name in order]


BUILDERS = {
    "calib_coarse": calib_ops,
    "fine_rebin": fine_ops,
    "hdf5_convert": hdf5_ops,
    "graph_iterate": graph_ops,
}


def build_ops(spark, workload: str, inp: str, manifest: dict, seed: int, work: str, timings: dict):
    """The workload's op cycle: its op groups' ops, in group order."""
    ops = []
    for group in spec.WORKLOADS[workload]:
        ops += BUILDERS[group](
            spark, os.path.join(inp, group), manifest["groups"][group], seed, work, timings
        )
    return ops
