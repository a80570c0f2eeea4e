"""Seeded input generator for the event-pipeline benchmark.

Runs as its own process (``python3 perfbench/gen.py --workload W --seed S
--out DIR``) so that generating inputs never touches the measured driver's
memory. It writes the workload's inputs plus the expected outputs that the
benchmark checks every op against, and a ``manifest.json`` that records row
counts, bytes and why the workload exists. Expected outputs are computed with
numpy (histograms, calibration) and DuckDB (the registry's oracle SQL); the
only engine code used here is the hdf5lite writer and those SQL strings.

Events follow FIXTURES A1: ``X, Y`` in [0, 2047] as Gaussian bands over a
uniform background, ``t`` with peaks in [68000, 74000] over [65000, 100000],
``ADC`` uniform in [0, 500]; all float32.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import zlib

import numpy as np

import spec

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

COLS = ("X", "Y", "t", "ADC")


def events(n: int, rng: np.random.Generator) -> dict[str, np.ndarray]:
    nb = int(n * 0.7)
    nu = n - nb
    k = 12
    cx, cy = rng.uniform(250, 1800, k), rng.uniform(250, 1800, k)
    # fixed set of band widths (only their order is drawn), so the number of
    # occupied cells, and with it the sparse result, varies little by seed
    sx, sy = rng.permutation(np.linspace(15, 140, k)), rng.permutation(np.linspace(15, 140, k))
    comp = rng.integers(0, k, nb)
    x = np.concatenate([rng.normal(cx[comp], sx[comp]), rng.uniform(0, 2047, nu)])
    y = np.concatenate([rng.normal(cy[comp], sy[comp]), rng.uniform(0, 2047, nu)])
    # one peak always inside the 512x512x50 grid's ToF window [69000, 70000)
    peaks = np.array([rng.uniform(69200, 69800), *rng.uniform(70500, 73500, 2)])
    t = np.concatenate(
        [rng.normal(peaks[rng.integers(0, 3, nb)], 250.0), rng.uniform(65000, 100000, nu)]
    )
    perm = rng.permutation(n)
    return {
        "X": np.clip(x, 0, 2047)[perm].astype("float32"),
        "Y": np.clip(y, 0, 2047)[perm].astype("float32"),
        "t": np.clip(t, 65000, 100000)[perm].astype("float32"),
        "ADC": rng.uniform(0, 500, n).astype("float32"),
    }


def write_parquet(path: str, cols: dict[str, np.ndarray], parts: int = 1) -> int:
    """Write ``cols`` as ``parts`` parquet files under the directory ``path``
    (one file when ``parts`` is 1), so a scan gets one task per file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    n = len(next(iter(cols.values())))
    edges = np.linspace(0, n, parts + 1).astype(int)
    for i in range(parts):
        part = {k: v[edges[i]:edges[i + 1]] for k, v in cols.items()}
        pq.write_table(pa.table(part), os.path.join(path, f"part-{i:03d}.parquet"))
    return sum(e.stat().st_size for e in os.scandir(path))


# ---- reference histograms: the engine's documented half-open rule,
#      bin = floor((x - lo) / step) kept when lo <= x < hi and
#      0 <= bin < nbins, in the same float64 ops -----------------------------


def hist_counts(values: list[np.ndarray], grid: list[tuple[int, float, float]]) -> np.ndarray:
    ok = np.ones(len(values[0]), dtype=bool)
    idx = []
    for v, (n, lo, hi) in zip(values, grid):
        v = np.asarray(v, dtype="float64")
        with np.errstate(invalid="ignore"):
            ok &= (v >= lo) & (v < hi)
            b = np.floor((v - lo) / ((hi - lo) / n))
        ok &= (b >= 0) & (b < n)
        idx.append(b)
    shape = tuple(n for n, _, _ in grid)
    lin = np.ravel_multi_index(tuple(b[ok].astype("int64") for b in idx), shape)
    return np.bincount(lin, minlength=int(np.prod(shape))).reshape(shape)


def digest(counts: np.ndarray) -> dict:
    """What the benchmark compares a dense float64 result against: the
    total, the occupied-cell count and a CRC of the float64 bytes."""
    dense = np.ascontiguousarray(counts, dtype="float64")
    return {
        "total": int(counts.sum()),
        "nnz": int(np.count_nonzero(counts)),
        "crc32": zlib.crc32(memoryview(dense).cast("B")),
    }


# ---- calibration reference (same float64 op order as the engine's
#      column expressions) -----------------------------------------------------


def tps_solve(src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    """Bookstein thin-plate-spline solve, kernel U(r) = r^2 ln r, by the
    pseudo-inverse as the engine documents it. In detector pixels the system
    is ill-conditioned (condition number ~1e15), so a different solver gives
    a visibly different warp; the reference follows the same algorithm."""
    n = len(src)
    dx = np.subtract.outer(src[:, 0], src[:, 0])
    dy = np.subtract.outer(src[:, 1], src[:, 1])
    r = np.sqrt(dx * dx + dy * dy)
    with np.errstate(divide="ignore", invalid="ignore"):
        k = np.where(r < 1e-10, 0.0, r * r * np.log(np.where(r < 1e-10, 1.0, r)))
    p = np.hstack([np.ones((n, 1)), src])
    m = np.zeros((n + 3, n + 3))
    m[:n, :n], m[:n, n:], m[n:, :n] = k, p, p.T
    v = np.zeros((n + 3, 2))
    v[:n] = dst
    return np.linalg.pinv(m) @ v


def tps_apply(co: np.ndarray, pts: np.ndarray, x: np.ndarray, y: np.ndarray):
    out = []
    for which in (0, 1):
        w, (a1, ax, ay) = co[:-3, which], co[-3:, which]
        acc = a1 + ax * x + ay * y
        for wi, (px, py) in zip(w, pts):
            r2 = (x - px) * (x - px) + (y - py) * (y - py)
            acc = acc + wi * (0.5 * r2 * np.log(r2 + 5e-324))
        out.append(acc)
    return out


def calib_reference(ev: dict[str, np.ndarray], p: dict) -> dict[str, np.ndarray]:
    x, y, t = (ev[c].astype("float64") for c in ("X", "Y", "t"))
    keep = (t > p["t_window"][0]) & (t < p["t_window"][1])
    x, y, t = x[keep], y[keep], t[keep]
    e = p["e_poly"][0]
    for c in p["e_poly"][1:]:
        e = e * t + c
    e = e * t + p["e0"]
    x0, y0, fx, fy = p["k_axis"]
    grid = [(n, lo, hi) for n, lo, hi in p["grid"]]

    def hist(xc, yc):
        return hist_counts([fx * (xc - x0), fy * (yc - y0), e], grid)

    src, dst = np.asarray(p["tps_src"]), np.asarray(p["tps_dst"])
    xm, ym = tps_apply(tps_solve(src, dst), src, x, y)
    field = np.load(p["dfield_path"])
    xi = (x / p["dfield_scale"]).astype("int64")
    yi = (y / p["dfield_scale"]).astype("int64")
    return {
        "none": hist(x, y),
        "tps": hist(xm, ym),
        "dfield": hist(field[0][xi, yi], field[1][xi, yi]),
    }


def dfield(rng: np.random.Generator, size: int, scale: float) -> np.ndarray:
    """Inverse deformation field (2, size, size) in detector pixels: the
    cell centre plus a smooth seeded warp."""
    c = (np.arange(size) + 0.5) * scale
    gx, gy = np.meshgrid(c, c, indexing="ij")
    a, b = rng.uniform(8, 20, 2)
    ph = rng.uniform(0, 2 * np.pi, 2)
    wx = gx + a * np.sin(gy / 2048 * 2 * np.pi + ph[0])
    wy = gy + b * np.sin(gx / 2048 * 2 * np.pi + ph[1])
    return np.stack([wx, wy])


# ---- per-workload generation ---------------------------------------------------


def gen_calib(out: str, seed) -> dict:
    rng = np.random.default_rng(seed)
    n = spec.CALIB_EVENTS
    ev = events(n, rng)
    nbytes = write_parquet(os.path.join(out, "events.parquet"), ev, spec.EVENT_FILES)
    ang = np.linspace(0, 2 * np.pi, spec.TPS_LANDMARKS - 1, endpoint=False)
    src = np.vstack([[1024.0, 1024.0], np.column_stack([1024 + 600 * np.cos(ang), 1024 + 600 * np.sin(ang)])])
    dst = src + rng.normal(0.0, 6.0, src.shape)
    np.save(os.path.join(out, "dfield.npy"), dfield(rng, spec.DFIELD_SIZE, 2048 / spec.DFIELD_SIZE))
    params = dict(spec.CALIB_PARAMS, tps_src=src.tolist(), tps_dst=dst.tolist())
    ref = calib_reference(ev, dict(params, dfield_path=os.path.join(out, "dfield.npy")))
    for name, h in ref.items():
        np.save(os.path.join(out, f"expect_{name}.npy"), h)
    return {
        "rows": n,
        "input_bytes": nbytes,
        "decoded_bytes": n * 4 * len(COLS),
        "params": params,
        "in_grid_share": {k: float(v.sum()) / n for k, v in ref.items()},
    }


def gen_fine(out: str, seed) -> dict:
    rng = np.random.default_rng(seed)
    n = spec.FINE_EVENTS
    ev = events(n, rng)
    nbytes = write_parquet(os.path.join(out, "events.parquet"), ev, spec.EVENT_FILES)
    expect = {}
    for name, grid in spec.FINE_GRIDS.items():
        h = hist_counts([ev["X"], ev["Y"], ev["t"]], grid)
        expect[name] = digest(h)
        del h
    return {
        "rows": n,
        "input_bytes": nbytes,
        "decoded_bytes": n * 4 * 3,
        "expect": expect,
        "in_grid_share": {k: v["total"] / n for k, v in expect.items()},
    }


def gen_hdf5(out: str, seed) -> dict:
    sys.path.insert(0, ROOT)
    from mpes_spark.io.hdf5lite import write_hdf5

    rng = np.random.default_rng(seed)
    per = spec.HDF5_EVENTS_PER_FILE
    files, nbytes, xs, ys = [], 0, [], []
    for i in range(spec.HDF5_FILES):
        ev = events(per, rng)
        path = os.path.join(out, f"scan_{i:02d}.h5")
        write_hdf5(
            path,
            {f"Stream_{j}": ev[c] for j, c in enumerate(COLS)},
            dataset_attrs={f"Stream_{j}": {"Name": c} for j, c in enumerate(COLS)},
            root_attrs={"FirstEventTimeStamp": "2019-01-21T10:00:00.000000+0000"},
        )
        files.append(os.path.basename(path))
        nbytes += os.path.getsize(path)
        xs.append(ev["X"])
        ys.append(ev["Y"])
    h = hist_counts([np.concatenate(xs), np.concatenate(ys)], spec.HDF5_GRID)
    np.save(os.path.join(out, "expect_xy.npy"), h)
    n = per * spec.HDF5_FILES
    return {
        "rows": n,
        "input_bytes": nbytes,
        "decoded_bytes": n * 4 * len(COLS),
        "files": files,
        "in_grid_share": {"xy": float(h.sum()) / n},
    }


def canon_hash(df) -> str:
    """Order-insensitive value hash of a result table; the benchmark
    applies the same function to the engine's output."""
    import hashlib

    import pandas as pd

    out = df[sorted(df.columns)].copy()
    for c in out.columns:
        if pd.api.types.is_float_dtype(out[c]):
            out[c] = out[c].astype("float64")
        elif pd.api.types.is_integer_dtype(out[c]):
            out[c] = out[c].astype("int64")
        else:
            out[c] = out[c].astype(str)
    out = out.sort_values(list(out.columns), ignore_index=True)
    rows = pd.util.hash_pandas_object(out, index=False).to_numpy()
    return hashlib.sha256(rows.tobytes()).hexdigest() + f":{len(out)}"


def gen_graph(out: str, seed) -> dict:
    """Fixed TPC-H-shaped orders/lineitem tables (sf0.01 key domains);
    ``seed`` is ignored here because the graph workload's seed only
    orders its ops."""
    import duckdb

    sys.path.insert(0, ROOT)
    from mpes_spark.registry import _REGISTRY

    rng = np.random.default_rng(spec.GRAPH_TABLE_SEED)
    sf = spec.GRAPH_SF
    n_orders = int(1_500_000 * sf)
    n_items = 4 * n_orders
    tables = {
        "orders": {
            "o_orderkey": np.arange(n_orders, dtype="int64"),
            "o_custkey": rng.integers(0, int(150_000 * sf), n_orders),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_orders, n_items),
            "l_partkey": rng.integers(0, int(200_000 * sf), n_items),
            "l_suppkey": rng.integers(0, int(10_000 * sf), n_items),
        },
    }
    nbytes = sum(write_parquet(os.path.join(out, f"{k}.parquet"), v) for k, v in tables.items())
    con = duckdb.connect()
    for k in tables:
        con.execute(f"CREATE VIEW {k} AS SELECT * FROM read_parquet('{os.path.join(out, k)}.parquet/*.parquet')")
    sql = {q.name: q.sql for q in _REGISTRY}
    expect = {name: canon_hash(con.execute(sql[name]).df()) for name in spec.GRAPH_OPS}
    con.close()
    return {
        "rows": {"orders": n_orders, "lineitem": n_items},
        "input_bytes": nbytes,
        "expect": expect,
    }


GENERATORS = {
    "calib_coarse": gen_calib,
    "fine_rebin": gen_fine,
    "hdf5_convert": gen_hdf5,
    "graph_iterate": gen_graph,
}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(spec.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    tmp = f"{a.out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    info = {"workload": a.workload, "seed": a.seed, "why": spec.WHY[a.workload], "groups": {}}
    for i, group in enumerate(spec.WORKLOADS[a.workload]):
        os.makedirs(os.path.join(tmp, group))
        # each op group draws from its own stream of the workload seed
        info["groups"][group] = GENERATORS[group](os.path.join(tmp, group), [a.seed, i])
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(info, f, indent=1)
    shutil.rmtree(a.out, ignore_errors=True)
    os.rename(tmp, a.out)


if __name__ == "__main__":
    main()
