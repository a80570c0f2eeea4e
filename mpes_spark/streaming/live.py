"""Structured Streaming live binning (SURVEY §2.8 — new surface; the
reference is batch-only but its data IS an event stream with
reconstructed event time).

Operators:
- ``live_binning``: event-time tumbling-window N-D histogram. It *is*
  :func:`mpes_spark.binning.engine.bin_sparse` with the window as one
  more group key, so stream and batch share one bin rule (value-domain
  pre-filter, CASE keys, post-aggregation guard); watermarking bounds
  state and admits late events up to the horizon.
- ``live_count_rate``: windowed event counts (``getCountRate`` live).
- ``densify_sink``: a ``foreachBatch`` callback scattering each
  micro-batch's sparse histogram into a dense
  :class:`~mpes_spark.grid.binned.BinnedArray` on the driver, through
  the same scatter as :func:`mpes_spark.binning.engine.densify`.

Scale notes: state per trigger is bounded by (windows in watermark
horizon) x (occupied grid cells), never by event rate; the shuffle key
is (window, bin...) so partial aggregation happens map-side within
each micro-batch exactly as in the batch engine.
"""

from __future__ import annotations

import dataclasses
import itertools
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mpes_spark.binning.engine import bin_sparse, scatter_counts
from mpes_spark.binning.spec import BinAxis
from mpes_spark.grid.binned import BinnedArray
from mpes_spark.io.readers import normalize_event_time
from mpes_spark.pinning import Parts, pin
from mpes_spark.sqltext import qcol


def with_event_time(
    df: DataFrame, ts: str = "ts", out: str = "event_time"
) -> DataFrame:
    """Add the event time as a TIMESTAMP column ``out``, which
    ``F.window`` and watermarks consume: ``ts`` is brought to
    epoch-nanos by :func:`~mpes_spark.io.readers.normalize_event_time`
    (the engine's parquet readers already surface TIMESTAMP(NANOS) as
    epoch-nanos longs, see session.py) and cut to microseconds. A
    TIMESTAMP ``ts`` column is returned as that epoch-nanos BIGINT."""
    # integer div, not double: epoch-nanos exceed 2^53
    micros = F.expr(f"{qcol(ts)} div 1000")
    return normalize_event_time(df, ts).withColumn(out, F.timestamp_micros(micros))


def live_binning(
    stream: DataFrame,
    axes: Sequence[BinAxis],
    ts: str = "ts",
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Windowed N-D histogram over an event stream: one sparse
    (win_start, bin..., cnt) row per occupied cell per window —
    :func:`~mpes_spark.binning.engine.bin_sparse` keyed by the
    tumbling window ``w`` as well as the bins."""
    ev = with_event_time(stream, ts).withWatermark("event_time", watermark)
    keyed = ev.withColumn("w", F.window("event_time", window))
    return bin_sparse(keyed, axes, extra_keys=["w"]).select(
        F.col("w.start").alias("win_start"), *[ax.out for ax in axes], "cnt"
    )


def live_count_rate(
    stream: DataFrame,
    ts: str = "ts",
    window: str = "1 second",
    watermark: str = "10 seconds",
) -> DataFrame:
    """Events/window trace — streaming ``getCountRate``
    (/root/reference/mpes/fprocessing.py:1086-1108)."""
    ev = with_event_time(stream, ts).withWatermark("event_time", watermark)
    return (
        ev.groupBy(F.window("event_time", window).alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("win_start"), "cnt")
    )


def scan_sessions(
    stream: DataFrame,
    ts: str = "ts",
    gap: str = "5 minutes",
    watermark: str = "10 minutes",
    group_col: str | None = None,
) -> DataFrame:
    """Scan segmentation via session windows (SURVEY §2.8): events
    separated by more than ``gap`` of event-time silence belong to
    different scans. Emits (session_start, session_end, n_events
    [, group]) per closed session — the acquisition-run detector the
    reference reconstructs manually from timestamps. Works on batch
    DataFrames too (session_window is a grouping expression).

    Streaming constraint (Spark): session windows need a non-empty
    grouping key — pass ``group_col`` (e.g. a detector/run id) for
    streaming input; batch input may omit it."""
    ev = with_event_time(stream, ts)
    if stream.isStreaming:
        ev = ev.withWatermark("event_time", watermark)
    keys = [F.session_window("event_time", gap).alias("w")]
    if group_col:
        keys.append(F.col(group_col))
    out = ev.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_events"))
    sel = [
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "n_events",
    ]
    if group_col:
        sel.insert(2, F.col(group_col))
    return out.select(*sel)


def dedup_stream(
    stream: DataFrame,
    key: str | None = None,
    text: str = "text",
    ts: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Streaming exact dedup (dedup-on-ingest): keep the first arrival
    of each content fingerprint, drop every later copy — the streaming
    twin of ``extras/dedup.exact_dedup`` for a live crawl feed.

    State semantics: with no watermark the dedup is global and state
    grows with distinct-key cardinality (16-byte digests — ~16 GB per
    10⁹ distinct docs across the cluster, checkpointed; acceptable for
    bounded backfills). For an unbounded feed pass ``ts`` +
    ``watermark`` to use ``dropDuplicatesWithinWatermark`` — state is
    then bounded by the watermark horizon, trading global dedup for
    dedup-within-horizon (the standard ingest compromise; a periodic
    batch ``exact_dedup`` compaction restores the global invariant).

    ``key`` overrides the dedup key column; by default the md5
    fingerprint of normalized ``text`` is computed in-stream."""
    from mpes_spark.extras.text import fingerprint_expr

    if key is None:
        stream = stream.withColumn("fingerprint", fingerprint_expr(text))
        key = "fingerprint"
    if watermark is not None:
        if ts is None:
            raise ValueError("watermark requires a ts column")
        ev = with_event_time(stream, ts).withWatermark("event_time", watermark)
        return ev.dropDuplicatesWithinWatermark([key])
    return stream.dropDuplicates([key])


def ingest_dedup_stream(
    stream: DataFrame,
    corpus: DataFrame,
    text: str = "text",
) -> DataFrame:
    """Incremental-crawl ingest dedup: drop streamed docs whose
    content fingerprint already exists in the STATIC corpus (the data
    lake being appended to), then dedup within the stream itself —
    the two-level check every incremental crawl append needs
    (:func:`dedup_stream` alone only sees the stream's own keys).

    The corpus side is an anti-join against a fingerprint projection
    (16 bytes/row); Spark re-plans the stream-static join each
    micro-batch, so a corpus snapshot refreshed between batches (the
    just-appended files) is picked up without restarting the query.
    At 10⁹ corpus docs the fingerprint relation is the thing to keep
    compacted/bucketed; the stream side is micro-batch-sized."""
    from mpes_spark.extras.text import fingerprint_expr

    seen = corpus.select(fingerprint_expr(text).alias("fingerprint")).distinct()
    return (
        stream.withColumn("fingerprint", fingerprint_expr(text))
        .join(seen, "fingerprint", "left_anti")
        .dropDuplicates(["fingerprint"])
    )


def interval_attribution_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    horizon: str = "30 minutes",
    watermark: str = "1 hour",
    suffix: str = "_r",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join: pair each left event with every right
    event of the same key whose event time falls within
    ``[left_time, left_time + horizon]`` — the click-to-purchase
    attribution shape, and the streaming twin of
    :func:`mpes_spark.transforms.joins.range_join_binned` with
    event-derived intervals.

    Both sides are watermarked and the join condition carries the
    explicit time range, which is what lets Structured Streaming bound
    the join state: buffered rows older than (watermark + horizon) are
    evicted instead of accumulating forever — a stream-stream join
    without the time bound is an unbounded-state plan Spark rejects in
    append mode. State per key is O(events within the horizon), not
    O(stream length).

    With ``how="leftOuter"`` unmatched left events are ALSO emitted
    (NULL right columns) — but only once the watermark passes their
    match window's expiry, i.e. a click's "no purchase followed" row
    appears (horizon + watermark) after the click, when no matching
    right event can still arrive. That deferral is the semantic price
    of bounded state; the batch twin emits unmatched rows
    immediately because it sees the complete input.

    Works identically on batch DataFrames (the same plan minus state
    management), which is how the parity test pins its semantics.
    """
    lt, rt = "event_time", "event_time" + suffix
    # same guard as transforms.joins._ensure_disjoint: a left column
    # already named like a suffixed right column (or either derived
    # event-time name) would silently duplicate in the join output
    r_out = [on + suffix, rt] + [
        c + suffix for c in right.columns if c not in (on, right_ts)
    ]
    clash = (set(left.columns) | {lt}) & set(r_out)
    if len(set(r_out)) != len(r_out):
        dup = sorted({c for c in r_out if r_out.count(c) > 1})
        raise ValueError(
            f"suffixed right columns collide among themselves: {dup}; "
            "rename before joining"
        )
    if clash:
        raise ValueError(
            f"right-side columns {sorted(clash)} collide with left "
            f"columns (or derived event-time names); rename before joining"
        )
    if lt in left.columns and lt != left_ts:
        raise ValueError(
            f"left column {lt!r} would be overwritten by the derived "
            "event-time column; rename it before joining"
        )
    l_ = with_event_time(left, left_ts, out=lt).withWatermark(lt, watermark)
    r_ = with_event_time(right, right_ts, out=rt).withWatermark(rt, watermark)
    r_ = r_.select(
        F.col(on).alias(on + suffix),
        F.col(rt),
        *[
            F.col(c).alias(c + suffix)
            for c in right.columns
            if c not in (on, right_ts)
        ],
    )
    cond = (
        (F.col(on) == F.col(on + suffix))
        & (F.col(rt) >= F.col(lt))
        & (F.col(rt) <= F.col(lt) + F.expr(f"INTERVAL {horizon}"))
    )
    if how not in ("inner", "leftOuter"):
        raise ValueError(f"unsupported join type {how!r}")
    return l_.join(r_, cond, how)


def enrich_stream(
    stream: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    how: str = "left",
) -> DataFrame:
    """Stream-static join: enrich a live event stream with a slowly
    changing dimension table (calibration constants, channel maps,
    user/domain metadata). The static side is broadcast — Spark
    re-plans the join each micro-batch, so a refreshed dim table (a
    re-read Delta/parquet snapshot) is picked up without restarting
    the query. No state, no watermark interaction: each micro-batch
    joins independently."""
    return stream.join(F.broadcast(dim), on, how)


def densify_sink(
    axes: Sequence[BinAxis],
    on_update: Callable[[object, BinnedArray], None],
) -> Callable[[DataFrame, int], None]:
    """Build a ``foreachBatch`` callback that densifies micro-batch
    updates and hands (win_start, BinnedArray) pairs to ``on_update``
    — the live-display hook. Use with update output mode.

    Update mode emits only the *changed* (window, bin) rows per
    micro-batch, so the callback keeps a per-window dense accumulator
    (driver-side, bounded by windows x grid) and merges each batch
    into it — the array handed to ``on_update`` is always the full
    current grid for that window, never a partial one."""
    grids: dict = {}

    def handle(batch: DataFrame, _batch_id: int) -> None:
        pdf = batch.toPandas()
        if pdf.empty:
            return
        for win, grp in pdf.groupby("win_start"):
            arr = scatter_counts(grp, axes, into=grids.get(win), window=str(win))
            grids[win] = arr.data
            on_update(win, dataclasses.replace(arr, data=arr.data.copy()))

    return handle


def read_event_stream(
    spark,
    path: str,
    schema: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """File-source event stream (the live-acquisition analog: the DAQ
    drops one parquet per scan chunk; each trigger folds new files into
    the windowed aggregation)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def neardup_ingest_sink(
    corpus: DataFrame,
    *,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
    compact_path: str | None = None,
):
    """NEAR-duplicate ingest dedup — the LSH upgrade of
    :func:`ingest_dedup_stream` (which catches only exact content).
    A streamed doc is dropped iff it is a verified near-dup of
    anything previously SEEN: the static corpus, any doc from an
    earlier micro-batch, or a lower-id doc in the SAME batch. Each
    micro-batch is MinHash-bucketed, joined against the persisted
    seen-bucket table AND self-joined within the batch; bucket
    collisions are verified with exact Jaccard (cross-relation form,
    so id spaces never conflate), and every batch doc's shingles /
    buckets — kept or dropped — are folded into the seen relations
    afterwards. "Seen, not kept" is deliberate: it collapses a
    transitive near-dup chain to its earliest element (the
    connected-component canonical convention of
    :func:`mpes_spark.extras.dedup.dedup_canonical`), and it makes
    the kept set independent of micro-batch partitioning whenever
    arrival order is monotone in doc id — what the parity test pins.

    Returns ``(handle, novel, flagged)`` for
    ``writeStream.foreachBatch``: ``novel()`` is the accumulated
    DataFrame of kept docs, ``flagged()`` the (stream_id, matched_id,
    jaccard) audit relation — ``matched_id`` is a corpus doc id or an
    earlier stream doc id, whichever the collision verified against.

    Why foreachBatch rather than a streaming plan: the signature
    aggregation + bucket join + verify aggregation is two streaming
    aggregations deep — beyond what append-mode streaming plans allow
    — while per micro-batch it is ordinary bounded work. Scale shape:
    the corpus shingle/bucket relations are computed and kept ONCE, for
    the sink's life (at 10^9 docs these are the things to keep bucketed
    on disk); each batch's increment is pinned once and ADDED to the
    seen :class:`~mpes_spark.pinning.Parts` — the seen relation a join
    consumes is the corpus relation unioned lazily with
    already-materialized stream parts, so per-batch work is the batch
    digests plus one scan of the seen relations, never a rewrite of the
    whole history (the rewrite-per-batch fold was O(N) blocks written
    per batch, O(N^2) cumulative). Every ``COMPACT_EVERY`` batches the
    stream parts — never the corpus — are compacted and the per-batch
    blocks they supersede are released. In memory the compaction is
    one fresh local checkpoint of each union. With ``compact_path``
    the corpus relations are written there once as parquet and each
    compaction rewrites the stream parts there as the next generation
    (``gen=<g>/<name>``, buckets repartitioned on the (band, bucket)
    join key, so the previous generation stays readable during the
    rewrite) — checkpoint blocks are executor-local and
    non-replicated, a parquet table is replayable from storage.
    ``novel``/``flagged`` accumulate the same way and are compacted in
    the same batch."""
    from mpes_spark.extras.dedup import (
        lsh_buckets,
        minhash_signatures,
        shingle_table,
        verify_jaccard,
    )

    bk_key = ("band", "bucket")

    def _keep(rel: DataFrame, name: str, *key: str) -> DataFrame:
        # a pinned relation: the parquet table compact_path/name when
        # a path is given, else an eager local checkpoint
        if compact_path is None:
            return pin(rel)
        path = f"{compact_path}/{name}"
        (rel.repartition(*key) if key else rel).write.mode("overwrite").parquet(path)
        return rel.sparkSession.read.parquet(path)

    def _merge(name: str, *key: str):
        # each relation counts its own generations
        gens = itertools.count(1)
        return lambda rel: _keep(rel, f"gen={next(gens)}/{name}", *key)

    corpus_sh = _keep(shingle_table(corpus, text, n, id_col), "corpus/seen_sh")
    state: dict = {
        "corpus_sh": corpus_sh,
        "corpus_bk": _keep(
            lsh_buckets(
                minhash_signatures(corpus_sh, k, id_col), k, bands, id_col
            ).withColumnRenamed(id_col, "matched_id"),
            "corpus/seen_bk",
            *bk_key,
        ),
        "novel": Parts(_merge("novel")),
        "flagged": Parts(_merge("flagged")),
        "seen_sh": Parts(_merge("seen_sh")),
        "seen_bk": Parts(_merge("seen_bk", *bk_key)),
    }

    def _seen(name: str) -> DataFrame:
        stream = state[f"seen_{name}"].union()
        corpus_rel = state[f"corpus_{name}"]
        return corpus_rel if stream is None else corpus_rel.unionByName(stream)

    def handle(batch: DataFrame, _batch_id: int) -> None:
        seen_sh, seen_buckets = _seen("sh"), _seen("bk")
        sh = pin(shingle_table(batch, text, n, id_col))
        # pinned under the seen relation's column names, so the same
        # checkpoint becomes this batch's seen part
        bk = pin(
            lsh_buckets(
                minhash_signatures(sh, k, id_col), k, bands, id_col
            ).withColumnRenamed(id_col, "matched_id")
        )
        bks = bk.withColumnRenamed("matched_id", id_col)
        # candidates vs everything seen before this batch
        cand_seen = (
            bks.join(seen_buckets, ["band", "bucket"])
            .select(F.col(id_col).alias("id_a"), F.col("matched_id").alias("id_b"))
            .distinct()
        )
        # candidates within the batch: doc vs lower-id batch doc
        a, b = bks.alias("a"), bks.alias("b")
        cand_within = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col(f"a.{id_col}") > F.col(f"b.{id_col}")),
            )
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
            )
            .distinct()
        )
        verified = verify_jaccard(
            cand_seen, (sh, seen_sh), threshold, id_col
        ).unionByName(verify_jaccard(cand_within, sh, threshold, id_col))
        # the verify joins run once: flagged is pinned, and novel is
        # the batch minus the ids that pinned part flags
        flagged = pin(
            verified.select(
                F.col("id_a").alias("stream_id"),
                F.col("id_b").alias("matched_id"),
                "jaccard",
            )
        )
        dup_ids = flagged.select(F.col("stream_id").alias(id_col)).distinct()
        novel = batch.join(dup_ids, id_col, "left_anti")
        # novel reads the flagged part, and flagged the seen parts and
        # this batch's sh/bk: add novel first and flagged next, so no
        # compaction releases a part before what reads it is pinned;
        # then fold ALL batch docs (kept or dropped) into the seen
        # relations
        state["novel"].add(novel)
        state["flagged"].add(flagged)
        state["seen_sh"].add(sh)
        state["seen_bk"].add(bk)

    def novel() -> DataFrame | None:
        return state["novel"].union()

    def flagged() -> DataFrame | None:
        return state["flagged"].union()

    handle.state = state
    return handle, novel, flagged
