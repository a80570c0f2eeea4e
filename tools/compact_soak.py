"""Per-batch wall time of a streaming sink at several compaction
cadences (``pinning.COMPACT_EVERY``).

    python tools/compact_soak.py neardup|dup_span [--batches 32]
        [--batch-docs 20] [--corpus-docs 2000] [--every 2,4,8,16,64]
        [--warmup 4] [--master local[2]]

Drives the sink's ``handle`` directly with synthetic documents (40
words drawn from 200 shared sentences, so near-duplicates and repeated
spans occur in every batch; neardup also gets a static corpus). For
each cadence, after one untimed warm-up sink, it builds a fresh sink,
times every batch and prints one JSON line: the mean, median and max
per-batch seconds over all batches and over the last half, and the
largest part list the sink held after a batch.
"""

import argparse
import json
import os
import random
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _docs(spark, first: int, count: int, rng: random.Random, sentences):
    rows = []
    for doc_id in range(first, first + count):
        text = " ".join(rng.choice(sentences) for _ in range(5))
        rows.append((doc_id, text))
    return spark.createDataFrame(rows, "doc_id long, text string")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sink", choices=("neardup", "dup_span"))
    ap.add_argument("--batches", type=int, default=32)
    ap.add_argument("--batch-docs", type=int, default=20)
    ap.add_argument("--corpus-docs", type=int, default=2000)
    ap.add_argument("--every", default="2,4,8,16,64")
    ap.add_argument("--warmup", type=int, default=4)
    ap.add_argument("--master", default="local[2]")
    args = ap.parse_args()

    from mpes_spark import pinning
    from mpes_spark.session import get_spark
    from mpes_spark.streaming.live import neardup_ingest_sink
    from mpes_spark.streaming.stateful import dup_span_ingest_sink

    spark = get_spark(app_name="compact_soak", master=args.master, shuffle_partitions=2)
    spark.sparkContext.setLogLevel("ERROR")
    rng = random.Random(3)
    vocab = [f"w{i}" for i in range(2000)]
    sentences = [" ".join(rng.sample(vocab, 8)) + "." for _ in range(200)]
    corpus = _docs(spark, 10**9, args.corpus_docs, rng, sentences)
    batches = [
        _docs(spark, b * args.batch_docs, args.batch_docs, rng, sentences)
        for b in range(args.batches)
    ]

    def build():
        if args.sink == "neardup":
            return neardup_ingest_sink(corpus, threshold=0.5)[0]
        return dup_span_ingest_sink()[0]

    warm = build()
    for i, batch in enumerate(batches[: args.warmup]):
        warm(batch, i)
    for every in (int(x) for x in args.every.split(",")):
        pinning.COMPACT_EVERY = every
        t0 = time.perf_counter()
        handle = build()
        setup = time.perf_counter() - t0
        walls, depth = [], 0
        for i, batch in enumerate(batches):
            t0 = time.perf_counter()
            handle(batch, i)
            walls.append(time.perf_counter() - t0)
            depth = max(
                [depth]
                + [len(p) for p in handle.state.values() if isinstance(p, pinning.Parts)]
            )
        late = walls[len(walls) // 2:]
        print(json.dumps({
            "sink": args.sink,
            "compact_every": every,
            "batches": args.batches,
            "batch_docs": args.batch_docs,
            "setup_s": round(setup, 2),
            "mean_s": round(statistics.mean(walls), 3),
            "median_s": round(statistics.median(walls), 3),
            "max_s": round(max(walls), 3),
            "late_mean_s": round(statistics.mean(late), 3),
            "late_median_s": round(statistics.median(late), 3),
            "max_parts": depth,
        }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
