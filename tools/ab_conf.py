"""Interleaved config A/B for a query list (r11 session 6).

Times each named query under two conf arms — baseline vs
MPES_SPARK_EXTRA_CONF overrides — with a COLD SparkSession per
(arm, rep) built in a fresh subprocess (static confs like
spark.io.compression.codec only apply to a fresh JVM), arms
interleaved A,B,A,B,... so ambient drift decorrelates. Reports
per-arm floors and medians (the floor is the capability signal on a
shared box; see SCALING.md r11 adjudication).

    python tools/ab_conf.py <reps> "<conf;conf>" <query> [query ...]

Honors $SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS like bench.py.
"""

import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _one_rep(names: list[str], conf: str) -> dict[str, float]:
    """One cold subprocess timing every query once under `conf`."""
    env = dict(os.environ)
    if conf:
        env["MPES_SPARK_EXTRA_CONF"] = conf
    else:
        env.pop("MPES_SPARK_EXTRA_CONF", None)
    code = r"""
import json, os, sys, time
sys.path.insert(0, %r)
from mpes_spark.pinning import sweep
from mpes_spark.session import get_spark
sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
spark = get_spark(app_name="ab_conf", master=f"local[{cpus}]",
                  shuffle_partitions=int(cpus) if cpus.isdigit() else 32)
spark.read.parquet(f"{sf}/events.parquet").limit(1000).groupBy().count().collect()
import __spark_entry__ as ent
q = ent.queries()
out = {}
for name in %r:
    sweep(spark)
    t0 = time.perf_counter()
    q[name](spark, sf).collect()
    out[name] = time.perf_counter() - t0
print("ABRESULT " + json.dumps(out))
""" % (os.path.dirname(HERE), names)
    proc = subprocess.run(
        [sys.executable, "-c", code],
        env=env,
        capture_output=True,
        text=True,
        cwd=os.path.dirname(HERE),
    )
    for line in proc.stdout.splitlines():
        if line.startswith("ABRESULT "):
            return json.loads(line[len("ABRESULT ") :])
    raise RuntimeError(
        f"rep failed (conf={conf!r}):\n{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}"
    )


def main() -> None:
    reps = int(sys.argv[1])
    conf = sys.argv[2]
    names = sys.argv[3:]
    arms: dict[str, dict[str, list[float]]] = {
        "base": {n: [] for n in names},
        "conf": {n: [] for n in names},
    }
    for r in range(reps):
        for arm, c in (("base", ""), ("conf", conf)):
            t = _one_rep(names, c)
            for n, v in t.items():
                arms[arm][n].append(v)
                print(f"rep{r} {arm:5s} {n:36s} {v:8.3f}s", flush=True)
    print("--- summary (floor / median) ---")
    for n in names:
        b, c = arms["base"][n], arms["conf"][n]
        print(
            f"{n:36s} base {min(b):7.3f}/{statistics.median(b):7.3f}"
            f"  conf {min(c):7.3f}/{statistics.median(c):7.3f}"
            f"  floor-ratio {min(c) / min(b):5.2f}"
        )


if __name__ == "__main__":
    main()
