"""Isolated single-query timing (guide §1.4): cold session per rep,
storage cleared, gc settled, collect() on the (small-aggregate) result.

    python tools/time_query.py <reps> <name> [name ...]

Prints per-rep seconds and Spark job count, and the median per query.
Jobs are counted by job group, as ``tests/test_plans.py`` counts them:
every job that building and collecting the query ran. Honors
$SPARK_GRAFT_SF_DIR and $SPARK_GRAFT_CPUS like bench.py.
"""

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mpes_spark.session import get_spark


def main() -> None:
    reps = int(sys.argv[1])
    names = sys.argv[2:]
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    samples: dict[str, list[float]] = {n: [] for n in names}
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
            spark.catalog.clearCache()
            for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                rdd.unpersist(False)
            spark.sparkContext._jvm.System.gc()
            group = f"time:{name}:rep{r}"
            spark.sparkContext.setJobGroup(group, group)
            t0 = time.perf_counter()
            q[name](spark, sf).collect()
            dt = time.perf_counter() - t0
            spark.sparkContext._jsc.clearJobGroup()
            n_jobs = len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
            samples[name].append(dt)
            jobs[name].append(n_jobs)
            print(f"rep{r} {name:36s} {dt:8.3f}s {n_jobs:4d} jobs", flush=True)
        spark.stop()
    print("--- medians ---")
    for n in names:
        s = sorted(samples[n])
        print(
            f"{n:36s} median={statistics.median(s):8.3f}  "
            f"min={s[0]:.3f} max={s[-1]:.3f}  "
            f"jobs={statistics.median(jobs[n]):g}"
        )


if __name__ == "__main__":
    main()
