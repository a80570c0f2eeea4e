#!/usr/bin/env python
"""sf0.1 -> sf1 scaling stress (VERDICT r7 #6): measure, don't argue.

Generates a synthetic 10x replica of /root/testdata/sf0.1 (TPC-H-style
key-shifted copies — every scaling table's keys are offset per copy so
entity counts scale with data volume; text/embedding payloads get a
copy-specific perturbation so near-dup and ANN structure replicates
rather than degenerating into 10-way exact duplicates), then times the
superlinear-risk query families at both scales and prints the
per-query time ratio against the 10x data ratio.

Usage:
    python tools/sf_scale_stress.py gen   [out_dir]   # ~170 MB
    python tools/sf_scale_stress.py run   [out_dir]   # ratio table

Interpretation rule (recorded in SCALING.md): at 10x data on a fixed
32-thread box, a shuffle-bound O(n log n) operator may cost up to
~12-13x; anything beyond ~15x is flagged SUPERLINEAR and needs a plan
audit. Sub-10x means the sf0.1 run was overhead-dominated (fixed
per-query session/compile costs) — common for sub-second queries.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SRC = "/root/testdata/sf0.1"
DEFAULT_OUT = "/tmp/sf1_synth"
COPIES = 10

# key columns to shift per copy, by table (TPC-H scaling convention:
# region/nation stay fixed; every other entity scales with volume)
SHIFT = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
STATIC = ["region", "nation"]

# the superlinear-risk families (candidate generation, prefix joins,
# graph iterations, connected components, ANN banding) plus two
# known-linear references to anchor the ratio scale
QUERIES = [
    "exact_dedup_count",      # linear reference (hash groupBy)
    "hist_2d",                # linear reference (scan + bounded agg)
    "neardup_prefix_filter",
    "neardup_dual_measure",
    "neardup_cross_ingest",
    "minhash_lsh_pairs",
    "simhash_neardup",
    "dedup_clusters",
    "entity_clusters",
    "pagerank_weighted",
    "copurchase_triangles",
    "kcore_copurchase",
    "label_communities",
    "embed_neardup_banded",
    "semantic_dedup",
    "topk_cosine",
]

# r8/r9 families (VERDICT r9 #7): the split/privacy/codec/layout/
# substring-dedup debuts measured with the same discipline
QUERIES_R9 = [
    "cluster_safe_splits",
    "k_anonymity_report",
    "l_diversity_report",
    "t_closeness_report",
    "dp_noisy_counts",
    "image_decode_stats",
    "png_decode_stats",
    "audio_decode_stats",
    "video_decode_stats",
    "morton_tile_counts",
    "morton3_tile_counts",
    "dup_span_stats",
    "dup_span_mask",
    "kcore3_copurchase",
    "hdf5_ingest_oracle",   # fixed-volume control (sf-invariant by design)
]

# r9 session-3 families: the codec trio, the crawl-extraction stage,
# and the two model-ish queries (KN held-out scoring, LR training)
QUERIES_S3 = [
    "hist_2d",              # linear reference
    "tiff_decode_stats",
    "flac_decode_stats",
    "jpeg_decode_stats",
    "html_extract_text",
    "kneser_ney_lm",
    "lr_train_quality",
]


def _session(tag: str):
    from mpes_spark.session import get_spark

    return get_spark(
        app_name=f"sf_scale_stress_{tag}", master="local[32]", shuffle_partitions=32
    )


def gen(out_dir: str) -> None:
    from pyspark.sql import functions as F

    spark = _session("gen")
    os.makedirs(out_dir, exist_ok=True)
    for tb in STATIC:
        spark.read.parquet(f"{SRC}/{tb}.parquet").write.mode("overwrite").parquet(
            f"{out_dir}/{tb}.parquet"
        )
        print(f"copied {tb}")
    for tb, keys in SHIFT.items():
        df = spark.read.parquet(f"{SRC}/{tb}.parquet")
        offs = {k: df.agg(F.max(k)).collect()[0][0] + 1 for k in keys}
        parts = []
        for i in range(COPIES):
            c = df
            for k in keys:
                c = c.withColumn(k, F.col(k) + F.lit(i * offs[k]))
            if tb == "documents" and i > 0 and "text" in df.columns:
                # copy-specific suffix: one extra token only shifts a
                # few shingles, so cross-copy pairs REMAIN near-dups —
                # every doc gains ~9 high-similarity variants (a 10-way
                # duplicate clique, the template-spam shape). That makes
                # the TRUE pair set grow ~quadratically per dup group;
                # measured output ratios are recorded alongside time
                # ratios so output-sensitive joins are judged on
                # time-per-output-pair, not raw wall clock.
                c = c.withColumn(
                    "text", F.concat(F.col("text"), F.lit(f" replicavariant{i}"))
                )
            if tb == "embeddings" and i > 0 and "embedding" in df.columns:
                # deterministic per-copy, per-dim jitter (~1e-3): keeps
                # cosine structure but prevents 10-way identical vectors
                # from inflating every LSH bucket quadratically
                c = c.withColumn(
                    "embedding",
                    F.transform(
                        "embedding",
                        lambda v, j: v
                        + (
                            F.pmod(
                                F.xxhash64(F.col("vec_id") * (j + 1) + F.lit(i)),
                                F.lit(2001),
                            ).cast("float")
                            - F.lit(1000.0)
                        )
                        * F.lit(1e-6),
                    ),
                )
            parts.append(c)
        out = parts[0]
        for c in parts[1:]:
            out = out.unionByName(c)
        out.repartition(32).write.mode("overwrite").parquet(f"{out_dir}/{tb}.parquet")
        print(f"wrote {tb} x{COPIES}")
    spark.stop()


def run(out_dir: str, reps: int = 3, names: list[str] | None = None) -> None:
    from __spark_entry__ import queries

    q = queries()
    qlist = names or QUERIES
    results: dict[str, dict[str, float]] = {}
    for tag, sf_dir in (("sf0.1", SRC), ("sf1", out_dir)):
        spark = _session(tag)
        spark.read.parquet(f"{sf_dir}/events.parquet").limit(1000).groupBy(
        ).count().collect()
        for name in qlist:
            samples = []
            for _ in range(reps):
                spark.sparkContext._jvm.System.gc()
                t0 = time.perf_counter()
                q[name](spark, sf_dir).collect()
                samples.append(time.perf_counter() - t0)
            results.setdefault(name, {})[tag] = round(statistics.median(samples), 3)
            print(f"{tag} {name}: {results[name][tag]}s {samples}", flush=True)
        spark.stop()
    print(f"\n{'query':28s} {'sf0.1':>8s} {'sf1':>8s} {'ratio':>7s}  verdict")
    doc = {}
    for name in qlist:
        a, b = results[name]["sf0.1"], results[name]["sf1"]
        r = b / a
        verdict = "SUPERLINEAR" if r > 15 else ("ok" if r >= 1 else "overhead")
        doc[name] = {"sf0.1": a, "sf1": b, "ratio": round(r, 2), "verdict": verdict}
        print(f"{name:28s} {a:8.2f} {b:8.2f} {r:7.2f}  {verdict}")
    with open("/tmp/sf_scale_stress.json", "w") as fh:
        json.dump(doc, fh, indent=1)
    print("\nwrote /tmp/sf_scale_stress.json")


# ---------------------------------------------------------------------------
# r10: the SECOND scale decade (VERDICT r9 #7) — sf1 -> sf10 under a
# decade-BANDED clique discipline: every copy i gets a decade token
# d{i//10} inserted after each 8th word, so near-dup cliques stay
# 10-WAY at both scales (cross-decade copies share < ~40% of their
# shingles) and the sf10/sf1 ratio measures a pure 10x VOLUME decade
# at fixed clique size — volume scaling isolated from clique-size
# scaling, unlike the r7 generator where every copy joins one clique.
# ---------------------------------------------------------------------------

QUERIES_DECADE = [
    "exact_dedup_count",   # linear anchor (hash groupBy)
    "hist_2d",             # linear anchor (scan + bounded agg)
    "pagerank_weighted",
    "label_communities",
    "neardup_prefix_filter",
    "neardup_dual_measure",
    "dedup_clusters",
    "kcore3_copurchase",
]


def gen_banded(out_dir: str, copies: int) -> None:
    """Key-shifted replica with decade-banded text cliques (see module
    note above). ``copies=10`` -> sf1-banded, ``copies=100`` ->
    sf10-banded; both must come from THIS generator so the decade
    ratio compares identical clique structure."""
    from pyspark.sql import functions as F

    spark = _session(f"gen_banded{copies}")
    os.makedirs(out_dir, exist_ok=True)
    for tb in STATIC:
        spark.read.parquet(f"{SRC}/{tb}.parquet").write.mode("overwrite").parquet(
            f"{out_dir}/{tb}.parquet"
        )
    for tb, keys in SHIFT.items():
        df = spark.read.parquet(f"{SRC}/{tb}.parquet")
        offs = {k: df.agg(F.max(k)).collect()[0][0] + 1 for k in keys}
        parts = []
        for i in range(copies):
            c = df
            for k in keys:
                c = c.withColumn(k, F.col(k) + F.lit(i * offs[k]))
            if tb == "documents" and "text" in df.columns:
                dec = i // 10
                # decade token after every 8th word breaks ~5/8 of the
                # 5-gram shingles across decades; within a decade the
                # only difference stays the 1-token suffix
                c = c.withColumn(
                    "text",
                    F.regexp_replace(
                        "text", r"((?:\S+ ){7}\S+) ", f"$1 d{dec}z "
                    ),
                ).withColumn(
                    "text",
                    F.concat(F.col("text"), F.lit(f" replicavariant{i}")),
                )
            if tb == "embeddings" and "embedding" in df.columns:
                # r11 (VERDICT r10 #7): decade-BANDED vector cliques,
                # the embedding analog of the text decade tokens. Per
                # decade d = i//10 a deterministic per-dimension SIGN
                # pattern flips the vector: norms and within-decade
                # cosine structure are preserved exactly (so near-dup
                # cliques stay 10-way), while cross-decade cosine of
                # the same base vector becomes a near-zero random sum —
                # LSH/IVF buckets do not merge across decades, and the
                # sf10/sf1 ratio measures a pure 10x VOLUME decade at
                # fixed clique size. Within-copy 1e-6 jitter on top
                # keeps copies from being bit-identical.
                dec = i // 10
                c = c.withColumn(
                    "embedding",
                    F.transform(
                        "embedding",
                        lambda v, j: (
                            v
                            + (
                                F.pmod(
                                    F.xxhash64(
                                        F.col("vec_id") * (j + 1) + F.lit(i)
                                    ),
                                    F.lit(2001),
                                ).cast("float")
                                - F.lit(1000.0)
                            )
                            * F.lit(1e-6)
                        )
                        * F.when(
                            F.pmod(
                                F.xxhash64(j * F.lit(7919) + F.lit(dec * 104729)),
                                F.lit(2),
                            )
                            == 0,
                            F.lit(1.0),
                        ).otherwise(F.lit(-1.0)).cast("float"),
                    ),
                )
            parts.append(c)
        out = parts[0]
        for c in parts[1:]:
            out = out.unionByName(c)
        out.repartition(32).write.mode("overwrite").parquet(
            f"{out_dir}/{tb}.parquet"
        )
        print(f"wrote {tb} x{copies}", flush=True)
    spark.stop()


def _gc_stats(spark) -> tuple[int, int]:
    """(total GC count, total GC millis) across the JVM's collectors."""
    beans = (
        spark.sparkContext._jvm.java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans()
    )
    n = t = 0
    for i in range(beans.size()):
        b = beans.get(i)
        n += b.getCollectionCount()
        t += b.getCollectionTime()
    return n, t


# r11 (VERDICT r10 #7): the ANN/embedding family's second decade —
# banded vector cliques (decade sign patterns, see gen_banded) so the
# 100 TB similarity-search claim rests on two measured decades like
# the graph/dedup families. topk_cosine is output-fixed (global top-k);
# the rest are output-sensitive (judged on t/out).
QUERIES_DECADE_ANN = [
    "exact_dedup_count",   # linear anchor
    "hist_2d",             # linear anchor
    "topk_cosine",
    "ann_lsh_cosine",
    "ivf_ann_fullprobe",
    "ivfpq_ann_cosine",
    "embed_neardup_banded",
    "semantic_dedup",
    "contrastive_mining_ann",
]


def run_decade(sf1_dir: str, sf10_dir: str, reps: int = 2, reps10: int = 1, skip10: tuple = (), qlist: list | None = None, out_json: str = "/tmp/sf_decade_stress.json") -> None:
    """Time QUERIES_DECADE at banded sf1 and sf10; record per-query
    time ratio, OUTPUT-row ratio (output-sensitive joins are judged on
    time-per-output-unit), and GC count/millis deltas. reps=2 by
    design: the probe measures decade RATIOS against a 15x
    superlinear bar, not bands — sf10 pagerank alone is ~10 min/rep,
    so the extra rep buys band precision the verdict does not use."""
    from __spark_entry__ import queries

    q = queries()
    qlist = qlist or QUERIES_DECADE
    results: dict[str, dict] = {}
    for tag, sf_dir in (("sf1", sf1_dir), ("sf10", sf10_dir)):
        spark = _session(tag)
        spark.read.parquet(f"{sf_dir}/events.parquet").limit(1000).groupBy(
        ).count().collect()
        n_reps = reps if tag == "sf1" else reps10
        for name in qlist:
            if tag == "sf10" and name in skip10:
                print(f"sf10 {name}: SKIPPED (wall-clock budget; see "
                      "SCALING.md r10 decade notes)", flush=True)
                continue
            samples = []
            n_out = None
            gc0 = _gc_stats(spark)
            for _ in range(n_reps):
                spark.sparkContext._jvm.System.gc()
                t0 = time.perf_counter()
                rows = q[name](spark, sf_dir).collect()
                samples.append(time.perf_counter() - t0)
                n_out = len(rows)
            gc1 = _gc_stats(spark)
            rec = results.setdefault(name, {})
            rec[tag] = round(statistics.median(samples), 3)
            rec[f"{tag}_rows"] = n_out
            rec[f"{tag}_gc_ms"] = gc1[1] - gc0[1]
            rec[f"{tag}_gc_n"] = gc1[0] - gc0[0]
            print(
                f"{tag} {name}: {rec[tag]}s rows={n_out} "
                f"gc={rec[f'{tag}_gc_n']}/{rec[f'{tag}_gc_ms']}ms {samples}",
                flush=True,
            )
        spark.stop()
    hdr = (
        f"\n{'query':24s} {'sf1':>8s} {'sf10':>8s} {'t-ratio':>8s} "
        f"{'out-ratio':>9s} {'t/out':>8s}  verdict"
    )
    print(hdr)
    doc = {}
    for name in qlist:
        r = results[name]
        if "sf10" not in r:
            doc[name] = {**r, "verdict": "SKIPPED_SF10"}
            print(f"{name:24s} {r['sf1']:8.2f} {'--':>8s}")
            continue
        tr = r["sf10"] / r["sf1"]
        orat = (
            r["sf10_rows"] / r["sf1_rows"] if r["sf1_rows"] else float("nan")
        )
        per_out = tr / orat if orat and orat == orat else float("nan")
        verdict = "SUPERLINEAR" if tr > 15 else ("ok" if tr >= 1 else "overhead")
        doc[name] = {**r, "t_ratio": round(tr, 2), "out_ratio": round(orat, 2),
                     "t_per_out": round(per_out, 2), "verdict": verdict}
        print(
            f"{name:24s} {r['sf1']:8.2f} {r['sf10']:8.2f} {tr:8.2f} "
            f"{orat:9.2f} {per_out:8.2f}  {verdict}"
        )
    with open(out_json, "w") as fh:
        json.dump(doc, fh, indent=1)
    print(f"\nwrote {out_json}")


def run_ann_scaled(sf1_dir: str, sf10_dir: str) -> None:
    """r11: the banded-LSH decade at PRODUCTION sizing. The registry
    query pins band width w=6 (64 buckets/band) — right at gate scale,
    but expected candidate volume is bands * n^2 / 2^w, so a fixed w
    is QUADRATIC under volume growth: at banded sf10 (200k vectors)
    w=6 implies ~2.5e9 candidates and the query did not finish inside
    10 minutes (measured, SCALING.md r11). The operator's own sizing
    rule (`w >= log2(n / target_bucket_rows)`, similarity.py
    docstring) prescribes w per scale; this probe applies it —
    sf1(20k): w=6, sf10(200k): w=10 at ~300 rows/bucket — and records
    the decade ratio for the banded pair join and the SemDeDup
    reduction on top. Recall target is held by the band count (4)."""
    import math

    import numpy as np

    from mpes_spark.extras import similarity as SIM
    from pyspark.sql import functions as F

    TARGET = 300
    doc: dict = {}
    for tag, sf_dir in (("sf1", sf1_dir), ("sf10", sf10_dir)):
        spark = _session(f"ann_{tag}")
        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        n = e.count()
        w = max(4, math.ceil(math.log2(n / TARGET)))
        planes = SIM.hyperplanes(dim=64, nplanes=4 * w, seed=11)
        rec = {"n_vecs": n, "w": w, "bands": 4}
        # default (AQE-decided) verify join, then the broadcast-vector
        # variant — the sf10 finding: verify is candidate-shuffle-bound
        for key, bcast in (("pairs_sec", False), ("pairs_bcast_sec", True)):
            t0 = time.perf_counter()
            pairs = SIM.embedding_neardup_banded(
                e, planes, bands=4, threshold=0.4, broadcast_vectors=bcast
            )
            n_pairs = pairs.count()
            rec[key] = round(time.perf_counter() - t0, 2)
        rec["n_pairs"] = n_pairs
        t0 = time.perf_counter()
        pairs = SIM.embedding_neardup_banded(
            e, planes, bands=4, threshold=0.4, broadcast_vectors=True
        )
        drops = pairs.select(F.col("id_b").alias("drop_id")).distinct()
        # registry-shaped reduction: the agg REFERENCES the join's right
        # side (n_dropped). A count() over the bare left join gets the
        # whole pair pipeline ELIMINATED by Catalyst (left join with a
        # unique right key + no right-side references -> join removed),
        # which is exactly what silently happened to this probe's first
        # draft — 5.7 s "semdedup" that never computed a pair.
        surv = (
            e.join(drops, e.vec_id == F.col("drop_id"), "left")
            .groupBy("label")
            .agg(
                F.count(F.lit(1)).alias("n_vecs"),
                F.sum(
                    F.when(F.col("drop_id").isNotNull(), 1).otherwise(0)
                ).alias("n_dropped"),
            )
            .collect()
        )
        rec["semdedup_sec"] = round(time.perf_counter() - t0, 2)
        rec["n_labels"] = len(surv)
        rec["n_dropped"] = int(sum(r["n_dropped"] for r in surv))
        doc[tag] = rec
        print(f"{tag}: {rec}", flush=True)
        spark.stop()
    doc["t_ratio_pairs"] = round(doc["sf10"]["pairs_sec"] / doc["sf1"]["pairs_sec"], 2)
    doc["t_ratio_pairs_bcast"] = round(
        doc["sf10"]["pairs_bcast_sec"] / doc["sf1"]["pairs_bcast_sec"], 2
    )
    doc["t_ratio_semdedup"] = round(
        doc["sf10"]["semdedup_sec"] / doc["sf1"]["semdedup_sec"], 2
    )
    doc["out_ratio_pairs"] = round(
        doc["sf10"]["n_pairs"] / max(doc["sf1"]["n_pairs"], 1), 2
    )
    with open("/tmp/sf_ann_scaled.json", "w") as fh:
        json.dump(doc, fh, indent=1)
    print(json.dumps({k: v for k, v in doc.items() if not isinstance(v, dict)}))
    print("\nwrote /tmp/sf_ann_scaled.json")


def run_waved(sf10_dir: str, sf1_dir: str | None, waves: int = 8, ops: tuple = ("prefix", "dual", "blocked")) -> None:
    """r11 (VERDICT r10 #3): waved execution of the positioned-shingle
    family at banded sf10 — the configuration whose UN-waved plan hit
    the 78 GB scratch wall in r10 (SCALING.md "the scratch ceiling").
    Runs prefix_filtered_pairs / prefix_dual_pairs / the dedup_clusters
    pair stage with ``waves`` hash bands, recording wall time, output
    rows, and peak scratch usage (sampled from the local dirs). If
    ``sf1_dir`` is given, first proves result parity at sf1: waved
    row-multiset == un-waved row-multiset."""
    import glob as _glob
    import threading

    from pyspark.sql import functions as F

    from mpes_spark.extras.dedup import (
        blocked_jaccard_pairs,
        prefix_dual_pairs,
        prefix_filtered_pairs,
    )
    from mpes_spark.pinning import sweep

    def _docs(spark, d):
        return spark.read.parquet(f"{d}/documents.parquet")

    def _scratch_bytes() -> int:
        # Spark local dirs default under /tmp: blockmgr + spark-* dirs
        tot = 0
        for pat in ("/tmp/blockmgr-*", "/tmp/spark-*"):
            for root in _glob.glob(pat):
                for dirpath, _dirs, files in os.walk(root):
                    for f in files:
                        try:
                            tot += os.path.getsize(os.path.join(dirpath, f))
                        except OSError:
                            pass
        return tot

    doc: dict = {"waves": waves}
    spark = _session("waved")
    if sf1_dir:
        for label, fn in (
            ("prefix", lambda d, w: prefix_filtered_pairs(
                d, threshold=0.7, n=3, waves=w)),
            ("dual", lambda d, w: prefix_dual_pairs(
                d, jaccard_threshold=0.7, containment_threshold=0.9, n=3,
                waves=w)),
            ("blocked", lambda d, w: blocked_jaccard_pairs(
                d, n=3, block_tokens=2, threshold=0.2, waves=w)),
        ):
            d = _docs(spark, sf1_dir)
            flat = sorted(map(tuple, fn(d, 1).collect()))
            wav = sorted(map(tuple, fn(d, waves).collect()))
            ok = flat == wav
            doc[f"sf1_parity_{label}"] = {"rows": len(flat), "equal": ok}
            print(f"sf1 parity {label}: rows={len(flat)} equal={ok}", flush=True)
            assert ok, f"waved parity broken for {label}"

    peak = {"v": 0}
    stop = threading.Event()

    def _sampler():
        while not stop.is_set():
            peak["v"] = max(peak["v"], _scratch_bytes())
            stop.wait(5.0)

    for label, fn in (
        ("prefix", lambda d, w: prefix_filtered_pairs(
            d, threshold=0.7, n=3, waves=w)),
        ("dual", lambda d, w: prefix_dual_pairs(
            d, jaccard_threshold=0.7, containment_threshold=0.9, n=3,
            waves=w)),
        ("blocked", lambda d, w: blocked_jaccard_pairs(
            d, n=3, block_tokens=2, threshold=0.2, waves=w)),
    ):
        if label not in ops:
            continue
        peak["v"] = 0
        stop.clear()
        th = threading.Thread(target=_sampler, daemon=True)
        th.start()
        t0 = time.perf_counter()
        n = fn(_docs(spark, sf10_dir), waves).count()
        dt = time.perf_counter() - t0
        stop.set()
        th.join()
        doc[f"sf10_{label}"] = {
            "sec": round(dt, 1),
            "rows": n,
            "peak_scratch_gb": round(peak["v"] / 1e9, 2),
        }
        print(
            f"sf10 {label} waves={waves}: {dt:.1f}s rows={n} "
            f"peak_scratch={peak['v']/1e9:.2f}GB",
            flush=True,
        )
        sweep(spark)
    spark.stop()
    with open("/tmp/sf_waved.json", "w") as fh:
        json.dump(doc, fh, indent=1)
    print("\nwrote /tmp/sf_waved.json")


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "run"
    out = sys.argv[2] if len(sys.argv) > 2 else DEFAULT_OUT
    if mode == "gen":
        gen(out)
    elif mode == "run":
        run(out)
    elif mode == "run_r9":
        run(out, names=QUERIES_R9)
    elif mode == "run_s3":
        run(out, names=QUERIES_S3)
    elif mode == "gen_banded":
        gen_banded(out, int(sys.argv[3]) if len(sys.argv) > 3 else 100)
    elif mode == "run_decade":
        run_decade(out, sys.argv[3],
                   skip10=tuple(sys.argv[4].split(",")) if len(sys.argv) > 4 else ())
    elif mode == "run_decade_ann":
        run_decade(out, sys.argv[3],
                   skip10=tuple(sys.argv[4].split(",")) if len(sys.argv) > 4 else (),
                   qlist=QUERIES_DECADE_ANN,
                   out_json="/tmp/sf_decade_ann.json")
    elif mode == "run_ann_scaled":
        run_ann_scaled(out, sys.argv[3])
    elif mode == "run_waved":
        run_waved(out,
                  (sys.argv[3] or None) if len(sys.argv) > 3 and sys.argv[3] != "-" else None,
                  waves=int(sys.argv[4]) if len(sys.argv) > 4 else 8,
                  ops=tuple(sys.argv[5].split(",")) if len(sys.argv) > 5 else ("prefix", "dual", "blocked"))
    else:
        raise SystemExit(f"unknown mode {mode}")
