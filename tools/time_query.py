"""Isolated single-query timing (guide §1.4): cold session per rep,
storage cleared, gc settled, collect() on the (small-aggregate) result.

    python tools/time_query.py <reps> <name> [name ...]

Prints per-rep seconds split into build (the registry call, including
any eager jobs it runs) and collect, and the Spark job count; then the
medians per query. Jobs are counted by job group, as
``tests/test_plans.py`` counts them: every job that building and
collecting the query ran. Honors $SPARK_GRAFT_SF_DIR and
$SPARK_GRAFT_CPUS like bench.py.
"""

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mpes_spark.pinning import sweep
from mpes_spark.session import get_spark


def main() -> None:
    reps = int(sys.argv[1])
    names = sys.argv[2:]
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    samples: dict[str, list[tuple[float, float, float]]] = {n: [] for n in names}
    jobs: dict[str, list[int]] = {n: [] for n in names}
    for r in range(reps):
        spark = get_spark(
            app_name="time_query",
            master=f"local[{cpus}]",
            shuffle_partitions=int(cpus) if cpus.isdigit() else 32,
        )
        spark.read.parquet(f"{sf}/events.parquet").limit(1000).groupBy().count().collect()
        import __spark_entry__ as ent

        q = ent.queries()
        for name in names:
            sweep(spark)
            group = f"time:{name}:rep{r}"
            spark.sparkContext.setJobGroup(group, group)
            t0 = time.perf_counter()
            df = q[name](spark, sf)
            t1 = time.perf_counter()
            df.collect()
            t2 = time.perf_counter()
            spark.sparkContext._jsc.clearJobGroup()
            n_jobs = len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
            samples[name].append((t2 - t0, t1 - t0, t2 - t1))
            jobs[name].append(n_jobs)
            print(
                f"rep{r} {name:36s} {t2 - t0:8.3f}s build={t1 - t0:.3f}s "
                f"collect={t2 - t1:.3f}s {n_jobs:4d} jobs",
                flush=True,
            )
        spark.stop()
    print("--- medians ---")
    for n in names:
        total, build, collect = (sorted(v) for v in zip(*samples[n]))
        print(
            f"{n:36s} median={statistics.median(total):8.3f}  "
            f"min={total[0]:.3f} max={total[-1]:.3f}  "
            f"build={statistics.median(build):.3f} collect={statistics.median(collect):.3f}  "
            f"jobs={statistics.median(jobs[n]):g}"
        )


if __name__ == "__main__":
    main()
