#!/usr/bin/env python
"""Clique-corpus validation of the waved candidate-mass bound (r12,
VERDICT r11 #2).

Builds a pathological near-dup corpus — one large clique of docs
sharing a rare template (every clique pair is a true near-dup, so the
candidate mass concentrates quadratically in the few bands holding
the clique's prefix elements) plus unique background docs — then runs
`prefix_filtered_pairs(waves=W)` twice:

  A. sub-splitting disabled (dedup.WAVE_CAND_CAP = 0) — the r11 behavior:
     each band materializes ALL its candidates in one localCheckpoint.
  B. sub-splitting on with a deliberately low cap, forcing each hot
     band into many slices.

A watcher thread samples the Spark local/scratch directory every
250 ms and records the PEAK bytes during each run. The two runs'
outputs are compared row-for-row (sorted hash) — the bound must be
result-invisible — and the artifact (peak scratch, slice schedule
implied by the cap, wall time, output count/digest) goes to
tools/clique_stress_r12_artifact.json.

    python tools/clique_stress_r12.py [n_clique] [n_background] [waves]
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mpes_spark.session import get_spark  # noqa: E402


def _scratch_dirs(spark):
    local = (
        spark.sparkContext._conf.get("spark.local.dir", None)
        or os.environ.get("SPARK_LOCAL_DIRS")
        or "/tmp"
    ).split(",")[0]
    import glob

    return glob.glob(os.path.join(local, "spark-*")) + glob.glob(
        os.path.join(local, "blockmgr-*")
    )


def _du(paths) -> int:
    total = 0
    for p in paths:
        for root, _dirs, files in os.walk(p, onerror=lambda e: None):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    return total


class PeakWatcher:
    def __init__(self, spark):
        self.spark = spark
        self.peak = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, _du(_scratch_dirs(self.spark)))
            time.sleep(0.25)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=5)
        self.peak = max(self.peak, _du(_scratch_dirs(self.spark)))


def main() -> None:
    n_clique = int(sys.argv[1]) if len(sys.argv) > 1 else 1500
    n_bg = int(sys.argv[2]) if len(sys.argv) > 2 else 20000
    waves = int(sys.argv[3]) if len(sys.argv) > 3 else 4
    spark = get_spark(
        app_name="clique_stress_r12", master="local[32]", shuffle_partitions=32
    )
    from pyspark.sql import functions as F

    from mpes_spark.extras import dedup
    from mpes_spark.extras.dedup import prefix_filtered_pairs

    # clique: a fixed 60-token template with ONE varying token per doc
    # (Jaccard between any two clique docs ~ (58-2)/(58+2) >= 0.9 at
    # 3-gram shingles) — every clique pair is a true near-dup and each
    # shared template shingle has df = n_clique, the quadratic case.
    template = " ".join(f"tmpl{i}" for i in range(60))
    base = spark.range(n_clique).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit(template + " "), F.concat(F.lit("var"), F.col("id"))
        ).alias("text"),
    )
    bg = spark.range(n_clique, n_clique + n_bg).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(F.lit(f"w{j}x"), (F.col("id") * 31 + j) % 999983)
                for j in range(40)
            ],
        ).alias("text"),
    )
    docs_plan = base.unionByName(bg)

    def run(cap: float):
        dedup.WAVE_CAND_CAP = cap
        # fresh checkpoint per run (a blanket unpersist would destroy
        # a shared one's blocks out from under the next run's plan)
        docs = docs_plan.localCheckpoint(eager=True)
        spark.sparkContext._jvm.System.gc()
        time.sleep(1.0)
        floor = _du(_scratch_dirs(spark))
        t0 = time.monotonic()
        with PeakWatcher(spark) as w:
            out = prefix_filtered_pairs(
                docs, threshold=0.85, n=3, waves=waves
            ).collect()
        dt = time.monotonic() - t0
        rows = sorted((r.id_a, r.id_b, r.jaccard) for r in out)
        digest = hashlib.sha256(repr(rows).encode()).hexdigest()[:16]
        return {
            "cap": cap,
            "peak_scratch_mb": round((w.peak - floor) / 1e6, 1),
            "wall_sec": round(dt, 1),
            "n_pairs": len(rows),
            "digest": digest,
        }

    expected = n_clique * (n_clique - 1) // 2
    a = run(0.0)          # sub-splitting disabled (r11 behavior)
    b = run(100000.0)     # forced low cap: hot bands split hard
    art = {
        "n_clique": n_clique,
        "n_background": n_bg,
        "waves": waves,
        "expected_clique_pairs": expected,
        "unsplit": a,
        "subsplit": b,
        "outputs_identical": a["digest"] == b["digest"]
        and a["n_pairs"] == b["n_pairs"],
    }
    path = os.path.join(os.path.dirname(__file__), "clique_stress_r12_artifact.json")
    with open(path, "w") as f:
        json.dump(art, f, indent=2)
    print(json.dumps(art, indent=2))


if __name__ == "__main__":
    main()
