"""Stateful streaming operators and ``foreachBatch`` maintenance sinks.

``cumulative_histogram`` is a custom stateful operator
(``applyInPandasWithState``): unlike the windowed aggregations in
:mod:`mpes_spark.streaming.live` (state evicted by watermark), a live
acquisition display wants the *running* histogram since scan start.
Per group key the state holds the occupied-bin count vector, bounded
by the grid (never by events) and checkpointed by the streaming
engine.

The sinks maintain a batch result incrementally, one micro-batch at a
time, without rescanning history: time rollup, data-quality monitor,
table checksum and bucket digests (driver-side state), and curation
funnel, n-gram novelty, contamination tally, IVF index, substring and
sentence-span dedup (DataFrame state). DataFrame state is held as
:class:`mpes_spark.pinning.Parts` and follows the streaming rule in
:mod:`mpes_spark.pinning`: the sink owns it, a relation a sink returns
is valid until the next batch is handled, and the parts list is
compacted every ``COMPACT_EVERY`` batches. The handle of each of
these sinks exposes its state dict as ``handle.state``.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from mpes_spark.binning.spec import BinAxis
from mpes_spark.pinning import Parts, pin, release

_OUT_SCHEMA = "group string, bin bigint, cnt bigint"
_STATE_SCHEMA = "bins array<bigint>, counts array<bigint>"


def cumulative_histogram(
    stream: DataFrame,
    axis: BinAxis,
    group_col: str,
) -> DataFrame:
    """Running sparse 1-D histogram per group over a stream. Emits the
    full updated (group, bin, cnt) set for a group whenever that group
    receives events. Input must already carry the value column
    ``axis.col``; out-of-range rows are dropped per the half-open bin
    rule (same semantics as the batch engine)."""
    lo, step, nbins = float(axis.lo), axis.step, axis.nbins

    def update(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            bins, counts = state.get
            acc = dict(zip(bins, counts))
        else:
            acc = {}
        for pdf in pdfs:
            vals = pdf[axis.col].to_numpy(dtype="float64")
            idx = ((vals - lo) / step).astype("int64")
            ok = (vals >= lo) & (idx >= 0) & (idx < nbins)
            for b in idx[ok]:
                acc[int(b)] = acc.get(int(b), 0) + 1
        state.update((list(acc.keys()), list(acc.values())))
        yield pd.DataFrame(
            {
                "group": [str(key[0])] * len(acc),
                "bin": list(acc.keys()),
                "cnt": list(acc.values()),
            }
        )

    return (
        stream.groupBy(group_col)
        .applyInPandasWithState(
            update,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def rollup_maintenance_sink(
    *, measure: str, bucket_ns: int, ts_col: str = "ts"
):
    """``foreachBatch`` incremental-view maintenance of a time rollup:
    each micro-batch is rolled up ALONE (delta-sized shuffle) and
    merged into the accumulated rollup via
    :func:`mpes_spark.transforms.rollup.merge_rollups` — history is
    never rescanned, exactly the batch `rollup_incremental` contract
    applied continuously. Returns ``(handle, current)``: pass
    ``handle`` to ``writeStream.foreachBatch``; ``current()`` yields
    the merged rollup DataFrame (None before the first batch).

    The merged state replaces the previous one as a pinned part every
    batch, so its size is bucket-grid-bounded and its lineage is one
    merge deep regardless of how many batches have streamed. In a
    real deployment the same handle body writes to a bucketed table
    (MERGE on bucket) instead of a checkpoint."""
    from mpes_spark.transforms.rollup import merge_rollups, time_rollup

    state = {"rollup": Parts()}

    def handle(batch: DataFrame, _batch_id: int) -> None:
        delta = time_rollup(batch, measure=measure, bucket_ns=bucket_ns, ts_col=ts_col)
        cur = state["rollup"].union()
        state["rollup"].replace(delta if cur is None else merge_rollups(cur, delta))

    def current() -> DataFrame | None:
        return state["rollup"].union()

    handle.state = state  # type: ignore[attr-defined]
    return handle, current


def dq_monitor_sink(checks, on_violation=None):
    """``foreachBatch`` data-quality monitor: evaluate
    :func:`mpes_spark.dq.check_constraints` on EVERY micro-batch (one
    aggregation pass per batch — delta-sized, never history) and keep
    the per-batch report history in a driver-side list of rows
    (batch_id, check_name, metric, passed). ``on_violation(batch_id,
    rows)`` fires when any check fails in a batch — the alerting hook
    an ingest pipeline wires to its pager. Returns
    ``(handle, history)``."""
    from mpes_spark.dq import check_constraints

    history: list = []

    def handle(batch, batch_id: int) -> None:
        rows = check_constraints(batch, checks).collect()
        history.extend(
            (batch_id, r["check_name"], r["metric"], r["passed"]) for r in rows
        )
        bad = [r for r in rows if r["passed"] == 0]
        if bad and on_violation is not None:
            on_violation(batch_id, bad)

    return handle, history


def checksum_maintenance_sink(*, cols, money_cols=(), name: str = "stream"):
    """``foreachBatch`` incremental table digest: per micro-batch,
    compute the batch's order-insensitive (bit_xor row-hash, count)
    checksum (:func:`mpes_spark.dq.table_checksum`) and fold it into
    a running digest with XOR / addition — both merges are exact and
    associative, so the accumulated digest equals the batch digest of
    everything ingested so far, at O(1) driver state and a 1-row
    collect per batch. The streaming half of replication validation:
    run the batch checksum on the sink table at any point and compare.

    Returns ``(handle, current)``: ``current()`` yields
    (name, n_rows, checksum) or None before the first batch."""
    from mpes_spark.dq import table_checksum

    state = {"n": 0, "x": 0, "seen": False}

    def handle(batch, _batch_id: int) -> None:
        row = table_checksum(batch, name, cols, money_cols).collect()[0]
        state["n"] += row.n_rows
        if row.checksum is not None:
            state["x"] ^= row.checksum
        state["seen"] = True

    def current():
        if not state["seen"]:
            return None
        return (name, state["n"], state["x"])

    return handle, current


def bucket_digest_maintenance_sink(
    *, key: str, cols, money_cols=(), nbuckets: int = 64
):
    """``foreachBatch`` incremental MERKLE-BUCKET digests: the
    bucketed refinement of :func:`checksum_maintenance_sink`. Per
    micro-batch, compute the batch's per-bucket (n_rows, bit_xor
    checksum) digests (:func:`mpes_spark.dq.partition_digests`) and
    fold each bucket into driver state with addition / XOR — both
    exact and associative, so the maintained relation equals the
    batch digests of everything ingested so far. State and per-batch
    collect are nbuckets-sized (not data-sized); comparing
    ``current(spark)`` against a replica's batch digests via
    :func:`mpes_spark.dq.digest_diff` localizes divergence WHILE the
    stream runs — the online anti-entropy loop.

    Returns ``(handle, current)``: ``current(spark)`` yields a
    (bucket, n_rows, checksum) DataFrame or None before the first
    batch. A bucket whose every hashed row is NULL (any NULL column
    NULLs the row concat in the digest) has checksum NULL from
    ``partition_digests``; the maintained state tracks a has-any-hash
    flag per bucket so ``current`` emits NULL for that bucket too —
    coercing it to 0 would make ``digest_diff`` flag a false
    divergence between identical tables."""
    from mpes_spark.dq import partition_digests

    # bucket -> [n_rows, xor_of_non_null_checksums, has_any_non_null]
    state: dict[int, list] = {}
    seen = {"any": False}

    def handle(batch, _batch_id: int) -> None:
        rows = partition_digests(
            batch, key, cols, money_cols, nbuckets=nbuckets
        ).collect()  # nbuckets-bounded
        for r in rows:
            n, x, has = state.get(r.bucket, (0, 0, False))
            if r.checksum is not None:
                x ^= r.checksum
                has = True
            state[r.bucket] = [n + r.n_rows, x, has]
        seen["any"] = True

    def current(spark):
        if not seen["any"]:
            return None
        rows = [
            (b, n, x if has else None)
            for b, (n, x, has) in sorted(state.items())
        ]
        return spark.createDataFrame(
            rows, "bucket long, n_rows bigint, checksum bigint"
        )

    return handle, current


def funnel_maintenance_sink(*, text: str = "text", id_col: str = "doc_id"):
    """``foreachBatch`` maintenance of the curation funnel
    (:func:`mpes_spark.extras.curation.curation_funnel` online):
    every micro-batch is audited ALONE — metrics projection, verdict
    CASE cascade — against a fingerprint registry of everything seen
    so far, and the per-(source, verdict) counts merge into the
    accumulated funnel. The ingest dashboard's "which stage is eating
    my crawl, live" without ever rescanning history.

    Semantics match the batch audit whenever arrival order is
    monotone in doc id (the parity-test convention shared with the
    other ingest sinks): a batch doc is ``exact_dup`` iff its
    fingerprint was seen in an earlier batch OR a lower-id doc of the
    same batch owns it; quality verdicts are per-doc and
    order-independent.

    Scale shape: per-batch work is the batch's own metric projection
    + one fingerprint semi-join against the seen parts (lazy union of
    already-materialized per-batch increments — never a rewrite of
    history). The funnel itself is (sources x 6)-row bounded, merged
    and pinned each batch. Returns ``(handle, current)``;
    ``current()`` is the accumulated funnel DataFrame."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mpes_spark.extras import text as TX
    from mpes_spark.extras.curation import AUDIT_STAGES

    state = {"fp": Parts(DataFrame.distinct), "funnel": Parts()}

    def handle(batch: DataFrame, _batch_id: int) -> None:
        m = {n: fn(text) for n, fn in TX.GOPHER_METRICS_EXPR.items()}
        w = Window.partitionBy("_fp")
        b = batch.select(
            F.col(id_col),
            F.col("source"),
            *[c.alias(n) for n, c in m.items()],
            TX.fingerprint_expr(text).alias("_fp"),
        ).withColumn(
            "_batch_canon", F.col(id_col) == F.min(id_col).over(w)
        )
        seen = state["fp"].union()
        if seen is not None:
            b = b.join(
                seen.withColumn("_seen", F.lit(True)), "_fp", "left"
            ).withColumn("_seen", F.coalesce(F.col("_seen"), F.lit(False)))
        else:
            b = b.withColumn("_seen", F.lit(False))
        fl = TX.gopher_flags_expr(
            F.col("m_ntok"), F.col("m_mwl"), F.col("m_stop"), F.col("m_dup2")
        )
        verdict = F.when(
            F.col("_seen") | ~F.col("_batch_canon"), F.lit("exact_dup")
        )
        for stage in AUDIT_STAGES[1:]:
            verdict = verdict.when(~fl[stage], F.lit(stage))
        verdict = verdict.otherwise(F.lit("kept"))
        delta = (
            b.groupBy("source", verdict.alias("verdict"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        )
        cur = state["funnel"].union()
        state["funnel"].replace(
            delta
            if cur is None
            else cur.unionByName(delta)
            .groupBy("source", "verdict")
            .agg(F.sum("n_docs").cast("bigint").alias("n_docs"))
        )
        # delta-sized registry increment: fingerprints NEW this batch
        state["fp"].add(
            b.filter(F.col("_batch_canon") & ~F.col("_seen"))
            .select("_fp")
            .distinct()
        )

    def current() -> DataFrame | None:
        return state["funnel"].union()

    handle.state = state  # type: ignore[attr-defined]
    return handle, current


def novelty_maintenance_sink(*, text: str = "text", n: int = 3, id_col: str = "doc_id"):
    """``foreachBatch`` incremental maintenance of per-doc n-gram
    novelty (:func:`mpes_spark.extras.dedup.ngram_novelty` online).
    Novelty is a GLOBAL property — an old doc's novelty DEGRADES when
    a new near-copy arrives and re-uses its shingles — so naive
    streaming would recompute the corpus every batch. This sink
    maintains sufficient state instead: per-shingle
    (sh, df_cnt, owner=min id) and per-doc (doc_id, n_shingles),
    both as lazy unions of delta-sized per-batch increments (one
    shingle agg + one doc agg per batch, each materialized once);
    ``current()`` derives the full novelty table from state with one
    shingle-keyed merge + one owner-keyed count — state-sized, never
    corpus-rescanning.

    Because the merge is sum/min (associative + commutative), the
    maintained state — and therefore every novelty value — is
    INDEPENDENT of batch arrival order, which the parity test
    asserts by streaming the same corpus in two different orders.
    Compaction pre-merges the shingle parts (groupBy sh: sum df_cnt,
    min owner), bounding the union depth.

    Returns ``(handle, current)``."""
    from pyspark.sql import functions as F

    from mpes_spark.extras.dedup import shingle_table

    def _merge_sh(rel: DataFrame) -> DataFrame:
        return rel.groupBy("sh").agg(
            F.sum("df_cnt").alias("df_cnt"), F.min("owner").alias("owner")
        )

    state = {"sh": Parts(_merge_sh), "sizes": Parts()}

    def handle(batch: DataFrame, _batch_id: int) -> None:
        sh = shingle_table(batch, text, n, id_col)
        state["sh"].add(
            sh.groupBy("sh").agg(
                F.count(F.lit(1)).alias("df_cnt"),
                F.min(id_col).alias("owner"),
            )
        )
        state["sizes"].add(
            sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
        )

    def current() -> DataFrame | None:
        sh = state["sh"].union()
        if sh is None:
            return None
        merged = _merge_sh(sh)
        uniq = (
            merged.filter(F.col("df_cnt") == 1)
            .groupBy(F.col("owner").alias(id_col))
            .agg(F.count(F.lit(1)).alias("n_unique"))
        )
        sizes = state["sizes"].union()
        return sizes.join(uniq, id_col, "left").select(
            id_col,
            F.col("n_shingles").cast("bigint").alias("n_shingles"),
            F.coalesce(F.col("n_unique"), F.lit(0))
            .cast("bigint")
            .alias("n_unique"),
            F.round(
                F.coalesce(F.col("n_unique"), F.lit(0)) / F.col("n_shingles"),
                6,
            ).alias("novelty"),
        )

    handle.state = state  # type: ignore[attr-defined]
    return handle, current


def contamination_monitor_sink(
    benchmark: DataFrame,
    *,
    n: int = 8,
    partial_max: float = 0.2,
    text: str = "text",
    id_col: str = "doc_id",
    group: str = "source",
):
    """``foreachBatch`` eval-set contamination monitor: every
    micro-batch is graded against a STATIC benchmark split
    (:func:`mpes_spark.extras.curation.contamination_severity` per
    batch) and per-(group, severity) counts merge into a bounded
    tally — the ingest-time guard that pages before a benchmark-
    contaminated crawl tranche reaches training, graded so a page
    for 'heavy' can coexist with a log line for 'partial'.

    Scale shape: the benchmark shingle set is computed ONCE and
    persisted (it is the broadcast side of every batch's equi-keyed
    shingle join); per-batch work is the batch's own shingles + one
    join + two doc-keyed counts — delta-sized, never history. The
    tally is (groups x 3)-row bounded. Returns ``(handle, current)``;
    ``current()`` is the accumulated (group, severity, n_docs)
    DataFrame."""
    from pyspark.sql import functions as F

    from mpes_spark.extras.dedup import shingle_table

    bench_sh = (
        shingle_table(benchmark, text, n, id_col).select("sh").distinct()
        .persist()
    )
    state = {"tally": Parts()}

    def handle(batch: DataFrame, _batch_id: int) -> None:
        # reuse the batch-side operator against the pre-computed
        # benchmark shingles: a 1-row dummy benchmark would re-shingle
        # per batch, so inline the same join against the persisted set
        sh_tr = shingle_table(batch, text, n, id_col)
        sizes = sh_tr.groupBy(id_col).agg(
            F.count(F.lit(1)).alias("n_shingles")
        )
        hits = (
            sh_tr.join(bench_sh, "sh")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_hits"))
        )
        base = (
            batch.select(id_col, group)
            .join(sizes, id_col, "left")
            .join(hits, id_col, "left")
            .select(
                group,
                F.coalesce(F.col("n_shingles"), F.lit(0)).alias("nsh"),
                F.coalesce(F.col("n_hits"), F.lit(0)).alias("nh"),
            )
        )
        frac = F.when(F.col("nsh") == 0, F.lit(0.0)).otherwise(
            F.col("nh") / F.col("nsh")
        )
        sev = (
            F.when(F.col("nh") == 0, F.lit("clean"))
            .when(frac < partial_max, F.lit("partial"))
            .otherwise(F.lit("heavy"))
        )
        delta = base.groupBy(group, sev.alias("severity")).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs")
        )
        cur = state["tally"].union()
        state["tally"].replace(
            delta
            if cur is None
            else cur.unionByName(delta)
            .groupBy(group, "severity")
            .agg(F.sum("n_docs").cast("bigint").alias("n_docs"))
        )

    def current() -> DataFrame | None:
        return state["tally"].union()

    handle.state = state  # type: ignore[attr-defined]
    return handle, current


def ann_maintenance_sink(
    *,
    k: int = 8,
    drift_threshold: float = 0.25,
    sample_rows: int = 10_000,
    err_sample_rows: int = 2_000,
    iters: int = 10,
    seed: int = 7,
    vec: str = "embedding",
    id_col: str = "vec_id",
):
    """Streaming IVF index maintenance (r8): each micro-batch is
    IVF-assigned and folded into the accumulated inverted-list corpus;
    the coarse quantizer's health is checked per batch with the
    bounded-sample drift rule (``quantizer_refresh``) and, when a
    distribution shift trips the threshold, the quantizer retrains on
    the incoming batch and the ACCUMULATED corpus is re-assigned under
    the new generation — so `current()` always returns a consistent
    (id, vec, list_id) relation where every row's list is its nearest
    centroid of the live generation.

    State: centroids are k x dim driver floats; the corpus relation is
    held as pinned parts — each batch's assigned rows are one part. On
    retrain the accumulated corpus and the batch are assigned in one
    Arrow-batched pass that replaces every part — the honest cost of
    an IVF rebuild, paid only when drift actually fires.

    Returns (handle, current, state) — state exposes the quantizer
    dict (generation, baseline_err, last err, retrain count) for
    telemetry assertions."""
    from pyspark.sql import functions as F

    from mpes_spark.extras.similarity import ivf_assign, quantizer_refresh

    state: dict = {"quant": None, "corpus": Parts(), "retrains": 0}

    def handle(batch: DataFrame, _batch_id: int) -> None:
        rows = batch.select(id_col, vec)
        prior = state["quant"]
        state["quant"] = quantizer_refresh(
            rows,
            prior,
            drift_threshold=drift_threshold,
            k=k,
            sample_rows=sample_rows,
            err_sample_rows=err_sample_rows,
            iters=iters,
            seed=seed,
            vec=vec,
        )
        cent = state["quant"]["centroids"]
        corpus = state["corpus"]
        if state["quant"]["retrained"]:
            state["retrains"] += 1
        if state["quant"]["retrained"] and len(corpus):
            # new generation: re-list the accumulated corpus once
            corpus.replace(
                ivf_assign(
                    corpus.union().drop("list_id").unionByName(rows), cent, vec=vec
                )
            )
        else:
            corpus.add(ivf_assign(rows, cent, vec=vec))

    def current() -> DataFrame | None:
        return state["corpus"].union()

    handle.state = state  # type: ignore[attr-defined]
    return handle, current, state


def dup_span_ingest_sink(
    *, text: str = "text", n: int = 5, min_docs: int = 2, id_col: str = "doc_id"
):
    """``foreachBatch`` substring-level dedup on ingest — the
    streaming rendering of :func:`mpes_spark.extras.dedup.dup_spans`
    (Lee et al. 2022): incoming documents are flagged with the maximal
    spans whose word ``n``-grams have been seen in >= ``min_docs``
    distinct documents ANYWHERE so far (standing corpus + this batch).

    Semantics (same recall contract as ``neardup_ingest_sink``): the
    LATER copies of a duplicated passage are flagged at ingest with
    exactly the spans the batch operator would assign them; the FIRST
    copy is not retro-flagged (a batch `dup_span_stats` recompute over
    the landed corpus remains the full-recall sweep). Maintained state
    is per-gram distinct-doc counts — (sh, df_docs) delta parts merged
    by sum (docs arrive whole, so per-batch distinct (sh, doc)
    increments sum to exact global distinct-doc counts) — bounded by
    distinct grams, never positions; compaction re-merges the gram
    parts like the novelty sink. Per batch: one delta-sized
    positioned-gram relation, one equi-join against the cumulative
    dup-gram set, one island-merge window.

    Returns ``(handle, flagged)`` — ``flagged()`` is the accumulated
    (doc_id, span_start, span_end) audit over all ingested batches."""
    from pyspark.sql import functions as F

    from mpes_spark.extras.dedup import merge_spans, positioned_shingles

    def _merge(rel: DataFrame) -> DataFrame:
        return rel.groupBy("sh").agg(F.sum("df_docs").alias("df_docs"))

    state: dict = {"grams": Parts(_merge), "flags": Parts(), "batches": 0}

    def handle(batch: DataFrame, _batch_id: int) -> None:
        pos = pin(positioned_shingles(batch, text, n, id_col))
        state["grams"].add(
            pos.select("sh", id_col)
            .distinct()
            .groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df_docs"))
        )
        state["batches"] += 1
        dup = (
            _merge(state["grams"].union())
            .filter(F.col("df_docs") >= min_docs)
            .select("sh")
        )
        hits = pos.join(dup, "sh").select(
            F.col(id_col),
            F.col("pos").alias("s"),
            (F.col("pos") + F.lit(n - 1)).alias("e"),
        )
        state["flags"].add(merge_spans(hits, id_col))
        release(pos)

    def flagged() -> DataFrame | None:
        return state["flags"].union()

    def state_stats() -> dict:
        """Measured state-bound telemetry (the foreachBatch analog of
        a state store's numRowsTotal): ``gram_parts`` and
        ``flag_parts`` (union depths; == 1 right after a compaction),
        ``state_rows`` (total rows across gram parts) and
        ``distinct_grams`` (the structural bound: state must stay
        keyed by gram, never by position — state_rows ==
        distinct_grams after compaction, and is bounded by
        batches x distinct_grams before)."""
        grams = state["grams"].union()
        return {
            "gram_parts": len(state["grams"]),
            "flag_parts": len(state["flags"]),
            "state_rows": grams.count() if grams is not None else 0,
            "distinct_grams": (
                grams.select("sh").distinct().count() if grams is not None else 0
            ),
            "batches": state["batches"],
        }

    handle.state = state  # type: ignore[attr-defined]
    handle.state_stats = state_stats  # type: ignore[attr-defined]
    return handle, flagged


def sentence_span_ingest_sink(
    *, n_sent: int = 3, text: str = "text", id_col: str = "doc_id"
):
    """``foreachBatch`` C4 sentence-span dedup on ingest (r10, VERDICT
    r9 #10 stretch) — the streaming rendering of
    :func:`mpes_spark.extras.dedup.sentence_span_dedup` (Raffel et al.
    2020 §2.2), on the :func:`dup_span_ingest_sink` contract: incoming
    documents are flagged at the ``n_sent``-sentence spans whose text
    has been seen ANYWHERE so far — in the standing corpus, or earlier
    (keep-first = min (doc, idx) ownership) within this batch. The
    first copy is not retro-flagged; a batch ``sentence_span_dedup``
    recompute over the landed corpus remains the full-recall sweep.

    Maintained state is the distinct span HASH set (xxhash64 — 8
    bytes per distinct span, never span text and never positions),
    kept as delta parts merged by distinct on compaction. Per batch:
    one sentence window (linear in sentences), one distinct-hash
    delta, one equi-join against the standing set. The flag audit is
    compacted on the same cadence, with NO distinct — ``flagged()`` is
    an audit log, and a re-delivered (doc, idx) stays visible once per
    delivery.

    Returns ``(handle, flagged)`` — ``flagged()`` is the accumulated
    (doc_id, span_idx) removal audit over all ingested batches;
    ``handle.state_stats()`` is the numeric state-bound telemetry."""
    from pyspark.sql import functions as F

    from mpes_spark.extras.dedup import sentence_spans

    state: dict = {
        "spans": Parts(DataFrame.distinct),
        "flags": Parts(),
        "batches": 0,
    }

    def handle(batch: DataFrame, _batch_id: int) -> None:
        spans = pin(
            sentence_spans(batch, n_sent, text, id_col).select(
                id_col, "span_idx", F.xxhash64("span").alias("sh")
            )
        )
        freq = spans.groupBy("sh").agg(
            F.count(F.lit(1)).alias("df"),
            F.min(F.struct(F.col(id_col), F.col("span_idx"))).alias("owner"),
        )
        batch_dups = (
            spans.join(freq, "sh")
            .filter(
                (F.col("df") > 1)
                & ~(
                    (F.col("owner")[id_col] == F.col(id_col))
                    & (F.col("owner")["span_idx"] == F.col("span_idx"))
                )
            )
            .select(id_col, "span_idx")
        )
        standing = state["spans"].union()
        if standing is not None:
            seen = spans.join(standing.distinct(), "sh").select(id_col, "span_idx")
            flags = batch_dups.unionByName(seen).distinct()
        else:
            flags = batch_dups
        state["flags"].add(flags)
        state["spans"].add(spans.select("sh").distinct())
        state["batches"] += 1
        release(spans)

    def flagged() -> DataFrame | None:
        return state["flags"].union()

    def state_stats() -> dict:
        """Numeric state-bound telemetry (the dup_span sink's
        contract): union depths, total state rows, and the structural
        bound — state stays keyed by distinct span hash, so rows ==
        distinct_spans after compaction and <= batches x
        distinct_spans before."""
        spans = state["spans"].union()
        return {
            "span_parts": len(state["spans"]),
            "flag_parts": len(state["flags"]),
            "state_rows": spans.count() if spans is not None else 0,
            "distinct_spans": (
                spans.select("sh").distinct().count() if spans is not None else 0
            ),
            "batches": state["batches"],
        }

    handle.state = state  # type: ignore[attr-defined]
    handle.state_stats = state_stats  # type: ignore[attr-defined]
    return handle, flagged
