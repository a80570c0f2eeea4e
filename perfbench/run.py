"""Event-pipeline benchmark: one closed-loop client running the workload's
ops one after another on ``local[N]`` (N = usable cores, at most 2).

    python3 perfbench/run.py --workload event_pipeline --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 12   # every workload, summary

Run from the root of a checkout. Inputs are generated from ``--seed`` by
``gen.py`` in a separate process and cached under ``.perfbench/``. The last
stdout line is one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics (from a laddered, traced run) with ``--trace 1``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import spec

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
# Two task threads: with one per core, the JIT compiler, GC and Python-worker
# threads compete with the tasks, and the walls keep drifting as compilation
# goes on (README.md, "Why two task threads")
CORES = min(len(os.sched_getaffinity(0)), 2)
DRIVER_MEM = "3g"
CACHE_KEEP = 12  # generated input sets kept per workload, newest first
# start no cycle that would end after this much process time (one timed
# cycle always runs), so that a run on a very slow host still ends in time
DEADLINE_S = 70.0


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def pin_environment() -> dict:
    """Fix everything the engine reads from the environment, so a run does
    not depend on the caller's shell."""
    for k in list(os.environ):
        if k == "MPES_SPARK_EXTRA_CONF" or k.startswith("MPES_WAVE_"):
            del os.environ[k]
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    pinned = {
        "MPES_SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_LOCAL_DIRS": local,
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
    }
    os.environ.update(pinned)
    return pinned


def cache_bytes(level: int) -> int | None:
    try:
        out = subprocess.run(
            ["getconf", f"LEVEL{level}_CACHE_SIZE"], capture_output=True, text=True, timeout=10
        ).stdout.strip()
        return int(out) if out else None
    except (OSError, ValueError, subprocess.SubprocessError):
        return None


def inputs(workload: str, seed: int) -> tuple[str, dict]:
    """Generate (or reuse) the workload's inputs in a separate process."""
    cache = os.path.join(WORK, "cache")
    os.makedirs(cache, exist_ok=True)
    key = f"{workload}-fixed" if workload == "graph_iterate" else f"{workload}-{seed}"
    out = os.path.join(cache, key)
    if not os.path.exists(os.path.join(out, "manifest.json")):
        old = sorted(
            (e for e in os.scandir(cache) if e.is_dir() and e.name.startswith(f"{workload}-")),
            key=lambda e: e.stat().st_mtime,
            reverse=True,
        )
        for e in old[CACHE_KEEP - 1:]:
            shutil.rmtree(e.path, ignore_errors=True)
        t0 = time.perf_counter()
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), "--workload", workload,
             "--seed", str(seed), "--out", out],
            check=True, timeout=600,
        )
        log(f"generated {key} in {time.perf_counter() - t0:.1f} s")
    os.utime(out)
    with open(os.path.join(out, "manifest.json")) as f:
        return out, json.load(f)


def peak_rss_mb() -> float:
    """Peak RSS of this process so far (Linux reports kB). Set-up runs no op
    and holds no result, so after the ops (warm-up and timed) this is their
    peak."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


class Outcome:
    """Counts attempted and failed ops; a failure is a raise or a failed check."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, op, fn) -> float:
        """Time ``fn()`` (the op), check its result outside the timing, and
        return the wall time. The result is dropped before the next op, so
        the driver's peak RSS is that of one op."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception:
            self.failed += 1
            log(f"op {op.name} raised:\n{traceback.format_exc()}")
            return time.perf_counter() - t0
        wall = time.perf_counter() - t0
        try:
            op.check(result)
        except Exception as e:
            self.failed += 1
            log(f"op {op.name} failed its check: {e}")
        return wall


def measure(ops, warmup: int, timed: int, seconds: float, outcome: Outcome, t_process: float) -> dict:
    """Run ``warmup`` untimed cycles of the op list (an op's first execution
    pays codegen, JIT and Python-worker spawn; the driver's own code keeps
    getting faster for a few cycles more), then timed cycles until at least
    ``timed`` ran and ``seconds`` have passed. The cycle counts are fixed, not
    fitted to a time budget: on a slower host fewer cycles would fit, each
    op would be measured less warm, and the slow-down would be amplified.
    Only ``DEADLINE_S`` cuts them, on a host about twice as slow as usual.
    Each op's wall is its median over the timed cycles; the rate is a
    cycle's input rows over the sum of those medians."""
    warm: dict[str, list[float]] = {op.name: [] for op in ops}
    for _ in range(warmup):
        for op in ops:
            warm[op.name].append(outcome.run(op, op.run))
    walls: dict[str, list[float]] = {op.name: [] for op in ops}
    t0 = time.perf_counter()
    cycles = 0
    while True:
        t_cycle = time.perf_counter()
        for op in ops:
            walls[op.name].append(outcome.run(op, op.run))
        cycles += 1
        now = time.perf_counter()
        if cycles >= timed and now - t0 >= seconds:
            break
        if now + (now - t_cycle) - t_process >= DEADLINE_S:
            break
    wall = sum(statistics.median(v) for v in walls.values())
    rows = sum(op.rows for op in ops)
    return {
        "rows_per_s": rows / wall,
        "cycles": cycles,
        "rows": rows * cycles,
        "op_walls_s": walls,
        "warmup_walls_s": warm,
    }


def op_layers(op, spans, untraced_wall: float) -> dict:
    """Per-layer self times and counters of one traced op. A layer's self
    time is its rung's wall minus the previous rung's."""
    w = {s.name: s.wall for s in spans}
    c = {s.name: s.counters for s in spans}
    m: dict[str, float] = {}
    if "graph.build" in w:
        full = ["graph.build", "graph.exec"]
        m["graph.build_s"], m["graph.exec_s"] = w["graph.build"], w["graph.exec"]
        for k in ("jobs", "stages", "tasks"):
            m[f"graph.{k}"] = sum(c[r][k] for r in full)
        m["graph.idle_core_s"] = CORES * sum(w[r] for r in full) - sum(
            c[r]["executor_run_s"] for r in full
        )
    else:
        full = ["binning.densify"]
        if "io.ingest" in w:
            full.insert(0, "io.convert")
            m["io.hdf5_read_s"] = w["io.hdf5_read"]
            m["io.ingest_s"] = w["io.ingest"]
            m["io.write_s"] = w["io.convert"] - w["io.ingest"]
            m["io.output_bytes"] = c["io.convert"]["output_bytes"]
        m["io.scan_s"] = prev = w["io.scan"]
        m["io.input_bytes"] = c["io.scan"]["input_bytes"]
        m["io.input_records"] = c["io.scan"]["input_records"]
        if "transforms.filter" in w:
            m["transforms.filter_s"] = w["transforms.filter"] - prev
            prev = w["transforms.filter"]
        if "transforms.calib" in w:
            m["transforms.calib_s"] = w["transforms.calib"] - prev
            m["calib_rows"] = op.rows
            if op.name == "calib.dfield":
                m["transforms.dfield_join_s"] = m["transforms.calib_s"]
            prev = w["transforms.calib"]
        sparse = next(s for s in spans if s.name == "binning.sparse")
        m["binning.sparse_s"] = sparse.wall - prev
        m["binning.map_run_s"] = sparse.counters["map_run_s"]
        m["binning.reduce_run_s"] = sparse.counters["reduce_run_s"]
        m["binning.shuffle_write_bytes"] = sparse.counters["shuffle_write_bytes"]
        m["binning.shuffle_records"] = sparse.counters["shuffle_records"]
        m["binning.spill_bytes"] = sparse.counters["spill_bytes"]
        m["binning.sparse_rows"] = sparse.attrs["sparse_rows"]
        # toPandas of (bin_0..bin_{d-1}, cnt), all int64
        m["binning.collect_bytes"] = sparse.attrs["sparse_rows"] * (sparse.attrs["ndims"] + 1) * 8
        m["binning.densify_s"] = w["binning.densify"] - sparse.wall
    for k in ("jobs", "stages", "tasks", "executor_run_s", "gc_s"):
        m[f"spark.{k}"] = sum(c[r][k] for r in full)
    m["spark.executor_cpu_s"] = sum(c[r]["executor_cpu_s"] for r in full)
    m["trace.overhead_s"] = sum(w[r] for r in full) - untraced_wall
    return m


def measure_traced(ops, seconds, outcome, tracer, t_process) -> list[dict]:
    """Per cycle: each op once untraced, then as its traced ladder. Returns
    the per-layer sums of every completed cycle."""
    cycles = []
    t0 = time.perf_counter()
    while True:
        cyc: dict[str, float] = {}
        for op in ops:
            untraced = outcome.run(op, op.run)
            with tracer.span(f"op:{op.name}", spark_counters=False) as parent:
                outcome.run(op, lambda: op.ladder(tracer, parent.id))
            children = [s for s in tracer.spans if s.parent == parent.id]
            for k, v in op_layers(op, children, untraced).items():
                cyc[k] = cyc.get(k, 0.0) + v
        cycles.append(cyc)
        now = time.perf_counter()
        if now - t0 >= seconds or now - t_process >= DEADLINE_S:
            return cycles


def per_layer(names, cycles: list[dict], setup: dict) -> dict:
    out = {}
    for name in names:
        if name in setup:
            out[name] = setup[name]
        else:
            out[name] = statistics.median(c.get(name, 0.0) for c in cycles)
    calib_rows = statistics.median(c.get("calib_rows", 0.0) for c in cycles)
    out["transforms.ns_per_event"] = (
        out["transforms.calib_s"] * 1e9 / calib_rows if calib_rows else 0.0
    )
    return out


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_one(a) -> int:
    t_process = time.perf_counter()
    if not os.path.isfile(os.path.join(ROOT, "mpes_spark", "__init__.py")):
        log(f"no engine sources at {ROOT}/mpes_spark; run from the root of a checkout")
        return 2
    # metric names and units come from BENCHMARK.json, the benchmark's contract
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    units_of = {k: {m["name"]: m["unit"] for m in bench[k]} for k in ("end_to_end", "per_layer")}
    pinned = pin_environment()
    inp, manifest = inputs(a.workload, a.seed)
    sys.path.insert(0, ROOT)
    work = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(work)

    from mpes_spark.session import get_spark
    from pyspark.sql import types as T

    import workloads
    from spans import Tracer

    setup: dict[str, float] = {}
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # keep JVM temp files (and no hsperfdata) out of /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={pinned['TMPDIR']} -XX:-UsePerfData",
        },
    )
    setup["session.build_s"] = time.perf_counter() - t0
    setup_s = float("nan")
    try:
        # the session's first job pays the JVM's first-job class loading, and
        # spawns the N Python workers where the workload's ops use them
        t1 = time.perf_counter()
        first = spark.range(0, CORES, numPartitions=CORES)
        if "hdf5_convert" in spec.WORKLOADS[a.workload]:
            first = first.mapInPandas(
                lambda it: it, T.StructType([T.StructField("id", T.LongType())])
            )
        first.collect()
        setup["session.worker_warm_s"] = time.perf_counter() - t1
        ops = workloads.build_ops(spark, a.workload, inp, manifest, a.seed, work, setup)
        setup_s = time.perf_counter() - t0
        outcome = Outcome()
        tracer = None
        if a.trace:
            # warm every op (codegen, JIT, Python-worker spawn) so that each
            # op's untraced and traced walls are both warm
            for op in ops:
                outcome.run(op, op.run)
            tracer = Tracer(spark)
            cycles = measure_traced(ops, a.seconds, outcome, tracer, t_process)
            units = units_of["per_layer"]
            metrics = per_layer(units, cycles, setup)
            summary = {"cycles": len(cycles)}
        else:
            res = measure(
                ops, *spec.CYCLES[a.workload], a.seconds, outcome, t_process
            )
            metrics = {
                "rows_per_s": res["rows_per_s"],
                "setup_s": setup_s,
                "driver_peak_rss_mb": peak_rss_mb(),
            }
            units = units_of["end_to_end"]
            summary = {k: res[k] for k in ("cycles", "rows", "op_walls_s", "warmup_walls_s")}
        env = {
            "workload": a.workload,
            "seed": a.seed,
            "why": manifest["why"],
            "nproc": os.cpu_count(),
            "cores_used": CORES,
            "l2_cache_bytes": cache_bytes(2),
            "l3_cache_bytes": cache_bytes(3),
            "pinned_env": pinned,
            "spark_conf": dict(sorted(spark.sparkContext.getConf().getAll())),
            "inputs": {
                g: {k: v for k, v in m.items() if k not in ("expect", "params", "files")}
                for g, m in manifest["groups"].items()
            },
            "ops": [op.name for op in ops],
            "ops_failed": outcome.failed / outcome.attempted,
            **summary,
        }
        if tracer is not None:
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            path = os.path.join(WORK, "traces", f"{a.workload}-seed{a.seed}.jsonl")
            tracer.dump(path)
            env["trace_file"] = os.path.relpath(path, ROOT)
    finally:
        t_stop = time.perf_counter()
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        log(f"setup {setup_s:.1f} s, measured {t_stop - t0 - setup_s:.1f} s, stop {time.perf_counter() - t_stop:.1f} s, process {time.perf_counter() - t_process:.1f} s")
    print(json.dumps({"perfbench_env": env}))
    log(
        f"{a.workload}: "
        + ", ".join(f"{k}={v:.6g} {units[k]}" for k, v in metrics.items())
        + f", ops_failed={env['ops_failed']:.3g} ({outcome.failed}/{outcome.attempted})"
    )
    print(
        json.dumps(
            {
                "correct": outcome.failed == 0,
                "attempted": outcome.attempted,
                "failed": outcome.failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


def run_all(a) -> int:
    """Run every workload in its own process and print the end-to-end
    metrics, with ops_failed, by name."""
    rc = 0
    for w in spec.WORKLOADS:
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(a.seed),
             "--seconds", str(a.seconds), "--trace", str(a.trace)],
            capture_output=True, text=True, timeout=900,
        )
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"{w}: failed (exit {p.returncode})\n{p.stderr[-2000:]}")
            rc = 1
            continue
        res = json.loads(lines[-1])
        cells = [f"{k}={m['value']:.6g} {m['unit']}" for k, m in res["metrics"].items()]
        cells.append(f"ops_failed={res['failed'] / res['attempted']:.3g} share")
        print(f"{w}: " + ", ".join(cells) + ("" if res["correct"] else "  OUTPUT CHECK FAILED"))
        rc |= 0 if res["correct"] else 1
    return rc


def main() -> int:
    ap = argparse.ArgumentParser(description="event-pipeline benchmark")
    ap.add_argument("--workload", required=True, choices=[*spec.WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    return run_all(a) if a.workload == "all" else run_one(a)


if __name__ == "__main__":
    sys.exit(main())
