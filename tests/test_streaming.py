"""Structured Streaming live-binning tests: file-source stream driven
with availableNow triggers into a memory sink, verified against the
batch engine on the same data (stream-batch parity)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from mpes_spark.binning.engine import bin_sparse
from mpes_spark.binning.spec import BinAxis
from mpes_spark.streaming.live import (
    densify_sink,
    live_binning,
    live_count_rate,
    read_event_stream,
    with_event_time,
)
from mpes_spark.registry import t
from tests.conftest import SF_SMALL

_SCHEMA = (
    "event_id bigint, ts bigint, user_id bigint, event_type string, "
    "value double, props string"
)
_AX = BinAxis("value", nbins=40, lo=0.0, hi=400.0)


@pytest.fixture()
def stream_dir(spark, tmp_path):
    """Stage the events table as a 3-file stream source."""
    out = str(tmp_path / "stream_src")
    t(spark, SF_SMALL, "events").repartition(3).write.parquet(out)
    return out


def _run(q_df, name):
    q = (
        q_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()  # availableNow terminates when drained
    return q


def test_live_binning_matches_batch(spark, stream_dir, tmp_path):
    """The windowed stream histogram equals batch ``bin_sparse`` keyed
    by the same window, row for row, on a source with NaN coordinates:
    both drop NaN events under the one value-domain bin rule."""
    src = str(tmp_path / "nan_src")
    spark.read.parquet(stream_dir).withColumn(
        "value",
        F.expr("CASE WHEN event_id % 40 = 0 THEN CAST('NaN' AS DOUBLE) ELSE value END"),
    ).repartition(3).write.parquet(src)
    assert spark.read.parquet(src).filter("isnan(value)").count() > 0
    stream = read_event_stream(spark, src, _SCHEMA)
    assert stream.isStreaming
    _run(live_binning(stream, [_AX], window="10 minutes"), "livebin")
    got = spark.sql("SELECT * FROM livebin").collect()
    ev = with_event_time(spark.read.parquet(src)).withColumn(
        "w", F.window("event_time", "10 minutes")
    )
    batch = bin_sparse(ev, [_AX], extra_keys=["w"]).select(
        F.col("w.start").alias("win_start"), _AX.out, "cnt"
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, batch.collect()))


def test_live_count_rate_totals(spark, stream_dir):
    stream = read_event_stream(spark, stream_dir, _SCHEMA)
    _run(live_count_rate(stream, window="1 hour"), "liverate")
    got = spark.sql("SELECT sum(cnt) AS total FROM liverate").collect()[0].total
    assert got == spark.read.parquet(stream_dir).count()


def test_densify_sink_callback(spark, stream_dir):
    captured = {}

    def on_update(win, arr):
        captured[win] = arr

    # watermark wider than the cross-file event-time disorder so no
    # file is dropped as late (files arrive unordered in event time)
    stream = read_event_stream(spark, stream_dir, _SCHEMA)
    q = (
        live_binning(stream, [_AX], window="1 day", watermark="60 days")
        .writeStream.foreachBatch(densify_sink([_AX], on_update))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()  # availableNow terminates when drained
    assert captured, "densify sink never fired"
    arr = next(iter(captured.values()))
    assert arr.data.shape == (_AX.nbins,)
    assert len(arr.coords[_AX.out]) == _AX.nbins
    # update-mode accumulation: the LAST grid per window holds the
    # complete histogram (multiple micro-batches merged), equal to the
    # batch engine's totals over the same source
    want = {
        r[_AX.out]: r.cnt
        for r in bin_sparse(spark.read.parquet(stream_dir), [_AX]).collect()
    }
    total = float(sum(a.data.sum() for a in captured.values()))
    assert total == sum(want.values())


def test_scan_sessions_batch_and_stream(spark, stream_dir, tmp_path):
    from mpes_spark.streaming.live import scan_sessions

    # batch: synthetic two-burst timeline -> exactly two sessions
    base = 1_700_000_000_000_000_000
    rows = [(i, base + i * 1_000_000_000) for i in range(10)] + [
        (100 + i, base + 3_600_000_000_000 + i * 1_000_000_000) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "event_id bigint, ts bigint")
    got = scan_sessions(df, gap="1 minute").orderBy("session_start").collect()
    assert [r.n_events for r in got] == [10, 5]
    assert got[0].session_end < got[1].session_start

    # streaming: sessions close under watermark on the staged stream
    # (streaming session windows require a grouping key; the watermark
    # must exceed the cross-file event-time disorder or late files are
    # dropped — files arrive unordered in event time here)
    stream = read_event_stream(spark, stream_dir, _SCHEMA)
    q = (
        scan_sessions(stream, gap="10 minutes", watermark="60 days", group_col="event_type")
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()  # availableNow terminates when drained
    tot = spark.sql("SELECT sum(n_events) s FROM sessions").collect()[0].s
    assert tot == spark.read.parquet(stream_dir).count()


def test_with_event_time_long_and_timestamp(spark):
    ev = t(spark, SF_SMALL, "events")
    a = with_event_time(ev).select("event_time").limit(5).collect()
    assert all(r.event_time is not None for r in a)
    ev2 = ev.withColumn("ts", F.timestamp_micros((F.col("ts") / 1000).cast("bigint")))
    b = with_event_time(ev2).select("event_time").limit(5).collect()
    assert all(r.event_time is not None for r in b)


def test_dedup_stream_keeps_one_per_fingerprint(spark, tmp_path):
    """Dedup-on-ingest: a 2-file stream where file 2 re-delivers file
    1's docs under new ids must emit exactly one row per distinct
    fingerprint, matching the batch exact-dedup count."""
    from mpes_spark.extras.dedup import exact_dedup
    from mpes_spark.streaming.live import dedup_stream

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").limit(40)
    src = str(tmp_path / "docs_stream")
    docs.coalesce(1).write.parquet(src)
    recrawl = docs.withColumn("doc_id", F.col("doc_id") + 50_000)
    recrawl.coalesce(1).write.mode("append").parquet(src)

    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        dedup_stream(stream)
        .writeStream.format("memory")
        .queryName("dedup_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()  # availableNow terminates when drained
    got = spark.sql("SELECT * FROM dedup_sink").toPandas()
    want = exact_dedup(docs.unionByName(recrawl)).count()
    assert len(got) == want == docs.count()
    assert got.fingerprint.is_unique


def test_enrich_stream_static_join(spark, stream_dir):
    """Stream-static broadcast join: every streamed event picks up its
    dimension row; totals match the batch join on the same data."""
    from mpes_spark.streaming.live import enrich_stream

    dim = spark.createDataFrame(
        [(t, 1.0 + i) for i, t in enumerate(["a", "b", "c", "d", "e"])],
        "event_type string, gain double",
    )
    stream = read_event_stream(spark, stream_dir, _SCHEMA)
    q = (
        enrich_stream(stream, dim, "event_type")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.sum("gain"), 3).alias("g"))
        .writeStream.format("memory")
        .queryName("enrich_sink")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()  # availableNow terminates when drained
    got = {
        r.event_type: (r.cnt, r.g)
        for r in spark.sql("SELECT * FROM enrich_sink").collect()
    }
    want = {
        r.event_type: (r.cnt, r.g)
        for r in t(spark, SF_SMALL, "events")
        .join(dim, "event_type", "left")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.sum("gain"), 3).alias("g"))
        .collect()
    }
    assert got == want


def test_corpus_pipeline_stages_on_stream(spark, tmp_path):
    """The CorpusPipeline's stateless stages (quality filter, PII
    redaction, language filter, stats) are pure column projections —
    they must run UNCHANGED on a Structured Streaming source and
    produce exactly the batch result once the stream drains."""
    from mpes_spark.extras.pipeline import CorpusPipeline

    docs = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .limit(60)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.col("text"), F.lit(" contact: a@b.co")),
            ).otherwise(F.col("text")),
        )
    )
    src = str(tmp_path / "docs_stream_cp")
    docs.repartition(3).write.parquet(src)

    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def stages(df):
        return CorpusPipeline(df).quality_filter().redact_pii().with_stats().df

    q = (
        stages(stream)
        .writeStream.format("memory")
        .queryName("cp_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()  # availableNow terminates when drained
    got = spark.sql("SELECT * FROM cp_sink").toPandas().sort_values("doc_id")
    want = stages(docs).toPandas().sort_values("doc_id")
    assert list(got.columns) == list(want.columns)
    assert got.reset_index(drop=True).equals(want.reset_index(drop=True))
    assert not got.text.str.contains("@").any()


def test_ingest_dedup_stream_vs_static_corpus(spark, tmp_path):
    """Incremental-crawl append: streamed docs already present in the
    static corpus (same text, new ids) must be dropped by the
    stream-static anti-join; genuinely new docs survive exactly once
    even when re-delivered across micro-batches."""
    from mpes_spark.streaming.live import ingest_dedup_stream

    all_docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").limit(60)
    corpus = all_docs.filter(F.col("doc_id") < 30)
    fresh = all_docs.filter(F.col("doc_id") >= 30)

    src = str(tmp_path / "crawl")
    # batch 1: re-crawl of corpus docs (new ids) + half the fresh docs
    (
        corpus.withColumn("doc_id", F.col("doc_id") + 10_000)
        .unionByName(fresh.filter(F.col("doc_id") < 45))
        .coalesce(1)
        .write.parquet(src)
    )
    # batch 2: re-delivers batch 1's fresh docs + the rest
    fresh.withColumn(
        "doc_id", F.col("doc_id") + 20_000
    ).coalesce(1).write.mode("append").parquet(src)

    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        ingest_dedup_stream(stream, corpus)
        .writeStream.format("memory")
        .queryName("ingest_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()  # availableNow terminates when drained
    got = spark.sql("SELECT * FROM ingest_sink").toPandas()
    # exactly the 30 fresh fingerprints, none from the corpus re-crawl
    assert len(got) == fresh.count()
    assert got.fingerprint.is_unique
    assert (got.doc_id % 10_000 >= 30).all()


def test_interval_attribution_join_stream_matches_batch(spark, stream_dir):
    """Stream-stream watermarked time-range join == the identical join
    on the same data in batch (append mode; inner join emits exactly
    the matched pairs).

    The stream is staged time-ordered (repartitionByRange — the DAQ
    chunking pattern) and read in ONE micro-batch: this test pins the
    JOIN semantics. With per-file triggers the two independent file
    sources list same-mtime files in an unstable order, so whether a
    horizon-boundary pair counts as "late" (and is correctly
    watermark-dropped) is a scheduling race, not a semantic."""
    from mpes_spark.streaming.live import interval_attribution_join

    stream_dir = stream_dir + "_ranged"
    t(spark, SF_SMALL, "events").repartitionByRange(3, "ts").write.parquet(
        stream_dir
    )

    def sides(df):
        clicks = df.filter(F.col("event_type") == "click").select(
            "event_id", "user_id", "ts"
        )
        buys = df.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts", "value"
        )
        return clicks, buys

    s_clicks, s_buys = sides(
        read_event_stream(spark, stream_dir, _SCHEMA, max_files_per_trigger=8)
    )
    joined = interval_attribution_join(
        s_clicks, s_buys, horizon="30 minutes", watermark="1 hour"
    )
    assert joined.isStreaming
    q = (
        joined.writeStream.format("memory")
        .queryName("attrib")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()  # availableNow terminates when drained
    assert q.exception() is None
    got = {
        (r["event_id"], r["event_id_r"])
        for r in spark.sql("SELECT event_id, event_id_r FROM attrib").collect()
    }
    b_clicks, b_buys = sides(spark.read.parquet(stream_dir))
    batch = {
        (r["event_id"], r["event_id_r"])
        for r in interval_attribution_join(
            b_clicks, b_buys, horizon="30 minutes", watermark="1 hour"
        )
        .select("event_id", "event_id_r")
        .collect()
    }
    assert got == batch and len(batch) > 0


def test_dedup_stream_watermark_bounds_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark path: a duplicate arriving within
    the horizon is dropped; the same content re-arriving after the
    watermark has passed its state's expiry is emitted again
    (dedup-within-horizon, bounded state). The watermark advances at
    micro-batch boundaries, so an intermediate batch moves it past the
    first occurrence's expiry before the re-arrival batch. Files are
    staged with distinct mtimes so the source processes them in
    arrival order."""
    import time as _time

    from mpes_spark.streaming.live import dedup_stream

    base = 1_700_000_000_000_000_000
    day = 86_400_000_000_000
    src = str(tmp_path / "wm_dedup")
    batches = [
        [
            (1, "same text", base),
            (2, "same text", base + 60_000_000_000),  # +1 min: dup, dropped
            (3, "other text", base),
        ],
        # two filler batches: the watermark computed at a batch's END
        # becomes effective the NEXT batch, and expired state is
        # cleaned at batch end — so eviction of batch-1 state needs
        # two intervening batches before the re-arrival
        [(9, "filler text", base + 2 * day)],
        [(10, "filler two", base + 3 * day)],
        # re-arrival long after eviction: emitted again
        [(4, "same text", base + 10 * day)],
    ]
    for i, rows in enumerate(batches):
        if i:
            _time.sleep(1.1)  # distinct mtime -> deterministic order
        spark.createDataFrame(
            rows, "doc_id bigint, text string, ts bigint"
        ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("doc_id bigint, text string, ts bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        dedup_stream(stream, ts="ts", watermark="1 hour")
        .writeStream.format("memory")
        .queryName("wm_dedup_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert q.exception() is None
    got = sorted(
        r["doc_id"]
        for r in spark.sql("SELECT doc_id FROM wm_dedup_sink").collect()
    )
    assert got == [1, 3, 4, 9, 10]
    # MEASURED state telemetry (VERDICT r7 stretch #9): watermark
    # eviction must actually REMOVE rows from the state store — the
    # final batch's numRowsTotal stays below the total distinct
    # fingerprints ever seen, and some batch reports removed rows.
    state_rows = [
        op["numRowsTotal"]
        for p in q.recentProgress
        for op in (p.get("stateOperators") or [])
    ]
    removed = sum(
        op.get("numRowsRemoved") or 0
        for p in q.recentProgress
        for op in (p.get("stateOperators") or [])
    )
    assert state_rows, "no stateOperators telemetry in progress events"
    assert removed > 0, "watermark never evicted state"
    assert state_rows[-1] < 5, state_rows  # 5 distinct fingerprints seen


def test_interval_attribution_join_rejects_collisions(spark):
    """Suffixed right columns and the derived event-time names must be
    disjoint from the left schema (ADVICE r3) — same contract as
    transforms.joins._ensure_disjoint, checked before the join plan is
    built so batch and streaming callers fail identically."""
    from mpes_spark.streaming.live import interval_attribution_join

    right = spark.createDataFrame(
        [(1, 1500, 7.0)], "user_id long, ts long, amount double"
    )
    left_clash = spark.createDataFrame(
        [(1, 1000, 5.0)], "user_id long, ts long, amount_r double"
    )
    with pytest.raises(ValueError, match="collide"):
        interval_attribution_join(left_clash, right)
    left_et = spark.createDataFrame(
        [(1, 1000, 5.0)], "user_id long, ts long, event_time double"
    )
    with pytest.raises(ValueError, match="event_time"):
        interval_attribution_join(left_et, right)


def test_rollup_maintenance_sink_matches_batch(spark, stream_dir):
    """Continuous IVM: streaming batch-by-batch merge must reproduce
    the single-pass batch rollup exactly (cnt/min/max) and to
    finalize-rounding for the float sum."""
    from mpes_spark.streaming.stateful import rollup_maintenance_sink
    from mpes_spark.transforms.rollup import finalize_rollup, time_rollup

    handle, current = rollup_maintenance_sink(
        measure="value", bucket_ns=3_600_000_000_000
    )
    stream = read_event_stream(spark, stream_dir, _SCHEMA)
    q = (
        stream.writeStream.foreachBatch(handle)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = (
        finalize_rollup(current())
        .orderBy("bucket")
        .toPandas()
    )
    want = (
        finalize_rollup(
            time_rollup(
                spark.read.parquet(stream_dir),
                measure="value",
                bucket_ns=3_600_000_000_000,
            )
        )
        .orderBy("bucket")
        .toPandas()
    )
    assert got.equals(want)


def test_dq_monitor_sink_flags_bad_batches(spark, stream_dir):
    """Per-batch constraint evaluation: a range check that the data
    violates must fire the alert hook in every batch; a satisfied
    completeness check must pass throughout."""
    from mpes_spark.dq import InRange, NotNull
    from mpes_spark.streaming.stateful import dq_monitor_sink

    alerts = []
    handle, history = dq_monitor_sink(
        [NotNull("event_id"), InRange("value", 0.0, 1.0)],
        on_violation=lambda bid, rows: alerts.append((bid, len(rows))),
    )
    stream = read_event_stream(spark, stream_dir, _SCHEMA)
    q = stream.writeStream.foreachBatch(handle).trigger(availableNow=True).start()
    q.awaitTermination()
    assert history, "no batches monitored"
    by_check = {}
    for _bid, name, _m, passed in history:
        by_check.setdefault(name, []).append(passed)
    assert all(p == 1 for p in by_check["notnull_event_id"])
    assert all(p == 0 for p in by_check["range_value"])  # values exceed 1.0
    assert len(alerts) == len(by_check["range_value"])


def test_attribution_to_rollup_composition(spark, stream_dir):
    """VERDICT r4 #8: the CDC-to-live-rollup composition real pipelines
    run — a stream-stream interval attribution join feeding a
    foreachBatch incremental rollup — must reproduce the batch twin
    (join then single-pass rollup) exactly for cnt/min/max and to
    finalize-rounding for the float sum."""
    from mpes_spark.streaming.live import interval_attribution_join
    from mpes_spark.streaming.stateful import rollup_maintenance_sink
    from mpes_spark.transforms.rollup import finalize_rollup, time_rollup

    src = stream_dir + "_attrib_rollup"
    t(spark, SF_SMALL, "events").repartitionByRange(3, "ts").write.parquet(src)

    def sides(df):
        clicks = df.filter(F.col("event_type") == "click").select(
            "event_id", "user_id", "ts"
        )
        buys = df.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts", "value"
        )
        return clicks, buys

    hour = 3_600_000_000_000
    s_clicks, s_buys = sides(
        read_event_stream(spark, src, _SCHEMA, max_files_per_trigger=8)
    )
    joined = interval_attribution_join(
        s_clicks, s_buys, horizon="30 minutes", watermark="1 hour"
    )
    # attributed purchase value rolled up by the CLICK's hour bucket
    handle, current = rollup_maintenance_sink(
        measure="value_r", bucket_ns=hour, ts_col="ts"
    )
    q = joined.writeStream.foreachBatch(handle).trigger(availableNow=True).start()
    q.awaitTermination()
    assert q.exception() is None
    assert current() is not None
    got = finalize_rollup(current()).orderBy("bucket").toPandas()

    b_clicks, b_buys = sides(spark.read.parquet(src))
    b_joined = interval_attribution_join(
        b_clicks, b_buys, horizon="30 minutes", watermark="1 hour"
    )
    want = (
        finalize_rollup(
            time_rollup(b_joined, measure="value_r", bucket_ns=hour, ts_col="ts")
        )
        .orderBy("bucket")
        .toPandas()
    )
    assert len(got) > 0
    assert got.equals(want)


def test_neardup_ingest_sink_vs_corpus(spark, tmp_path, monkeypatch):
    """LSH near-dup ingest dedup: streamed docs that are near-copies
    of corpus docs OR of previously-seen stream docs (earlier batch
    or lower id in the same batch) are dropped with an audit row;
    novel docs pass. With id-monotone arrival, the kept set and audit
    are independent of micro-batch partitioning."""
    import time as _time

    from mpes_spark import pinning
    from mpes_spark.streaming.live import neardup_ingest_sink

    base = " ".join(f"tok{i}" for i in range(30))
    mutated = base.replace("tok7", "changed")  # near-dup of base
    fresh = " ".join(f"fresh{i}" for i in range(30))
    corpus = spark.createDataFrame(
        [(1, base), (2, "completely different words " + " ".join(f"z{i}" for i in range(27)))],
        "doc_id long, text string",
    )
    stream_rows = [
        [(100, base), (101, mutated)],  # both near-dup corpus doc 1
        [(102, fresh)],  # novel
        [(103, mutated + " extra tail tokens here"), (104, "tiny")],
        # near-dup of NOVEL STREAM doc 102, not of any corpus doc —
        # the stream-vs-stream case the sink must also catch
        [(105, fresh.replace("fresh9", "altered"))],
    ]
    src = str(tmp_path / "neardup_src")
    for i, rows in enumerate(stream_rows):
        if i:
            _time.sleep(1.1)
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(src)

    def run(max_files, **kw):
        handle, novel, flagged = neardup_ingest_sink(
            corpus, n=3, k=32, bands=8, threshold=0.5, **kw
        )
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", max_files)
            .parquet(src)
        )
        q = stream.writeStream.foreachBatch(handle).trigger(availableNow=True).start()
        q.awaitTermination()
        assert q.exception() is None
        kept = sorted(r["doc_id"] for r in novel().select("doc_id").collect())
        audit = {
            (r["stream_id"], r["matched_id"]) for r in flagged().collect()
        }
        return kept, audit, handle.state

    monkeypatch.setattr(pinning, "COMPACT_EVERY", len(stream_rows) + 1)
    kept_many, audit_many, _ = run(max_files=1)  # one file per micro-batch
    kept_one, audit_one, _ = run(max_files=8)  # all files in one batch
    # 100/101/103 are near-dups of corpus doc 1 (101/103 also of the
    # earlier-seen 100/101); 102 novel; 104 too short to shingle
    # (< n tokens) -> no candidates -> kept; 105 near-dups stream doc
    # 102 only.
    assert kept_many == [102, 104]
    assert {s for s, _ in audit_many} == {100, 101, 103, 105}
    # each dropped doc is flagged against its earliest seen match
    assert (100, 1) in audit_many
    assert (101, 100) in audit_many  # same-batch lower-id match
    assert (105, 102) in audit_many  # cross-batch stream-stream match
    # 105 matches nothing in the static corpus — only stream doc 102
    assert {m for s, m in audit_many if s == 105} == {102}
    # batch-partitioning independence (id-monotone arrival)
    assert kept_one == kept_many and audit_one == audit_many
    # compaction invariance: rewriting the seen relations to a
    # bucketed parquet table mid-stream (every 2 batches over 4
    # micro-batches => 2 compactions, the second AFTER stream-stream
    # matches exist) must not change what is kept or flagged — and the
    # doc-105-vs-102 match crosses a compaction boundary
    cpath = str(tmp_path / "neardup_compact")
    monkeypatch.setattr(pinning, "COMPACT_EVERY", 2)
    kept_c, audit_c, st = run(max_files=1, compact_path=cpath)
    assert kept_c == kept_many and audit_c == audit_many
    import os

    # the corpus is written once; each relation has two generations,
    # the second of which is now its only part
    assert sorted(os.listdir(os.path.join(cpath, "corpus"))) == ["seen_bk", "seen_sh"]
    assert not os.path.exists(os.path.join(cpath, "gen=3"))
    for name in ("novel", "flagged", "seen_sh", "seen_bk"):
        assert os.path.isdir(os.path.join(cpath, "gen=2", name))
        assert len(st[name]) == 1
    # a compaction copies only stream increments, never the corpus
    gen_ids = spark.read.parquet(os.path.join(cpath, "gen=2", "seen_sh"))
    assert {r["doc_id"] for r in gen_ids.select("doc_id").distinct().collect()} == {
        100, 101, 102, 103, 105
    }
    # in-memory compaction (no path) is equally invariant
    kept_m, audit_m, st_m = run(max_files=1)
    assert kept_m == kept_many and audit_m == audit_many
    assert all(len(st_m[name]) == 1 for name in ("novel", "flagged", "seen_sh", "seen_bk"))


def test_neardup_ingest_sink_verifies_once_per_batch(spark):
    """A neardup micro-batch plans its two verify joins once: the
    flagged part is pinned and novel is the batch anti-joined with its
    ids. A 10-doc batch against a 20-doc corpus ran 38 jobs per
    ``handle`` call when novel and flagged each ran the verify joins,
    and 23 with this plan (``local[8]``)."""
    from mpes_spark.streaming.live import neardup_ingest_sink

    schema = "doc_id long, text string"

    def doc(tag, i):
        return " ".join(f"{tag}{i}w{j}" for j in range(30))

    corpus = spark.createDataFrame([(i, doc("c", i)) for i in range(20)], schema)
    handle, novel, flagged = neardup_ingest_sink(
        corpus, n=3, k=32, bands=8, threshold=0.5
    )
    sc = spark.sparkContext
    for b in range(2):
        first = 100 + 10 * b
        rows = [(first + i, doc("s", first + i)) for i in range(8)]
        # a near-dup of a corpus doc, and one of a lower-id batch doc
        rows.append((first + 8, doc("c", b).replace(f"c{b}w7 ", "x ")))
        rows.append((first + 9, doc("s", first).replace(f"s{first}w3 ", "y ")))
        group = f"neardup-handle-{b}"
        sc.setJobGroup(group, group)
        try:
            handle(spark.createDataFrame(rows, schema), b)
        finally:
            sc._jsc.clearJobGroup()
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        assert jobs < 38, jobs
    assert sorted(r.doc_id for r in novel().collect()) == [
        *range(100, 108), *range(110, 118)
    ]
    assert {(r.stream_id, r.matched_id) for r in flagged().collect()} == {
        (108, 0), (109, 100), (118, 1), (119, 110)
    }


def test_interval_attribution_left_outer_stream_matches_batch(spark, tmp_path):
    """leftOuter stream-stream time-range join: matched pairs emit
    in-batch; unmatched clicks emit with NULL right columns once the
    watermark passes their match-window expiry. Two far-future
    sentinel files advance the watermark in two steps (state expired
    under a watermark only flushes in a LATER batch that still has
    data), after which the stream output must equal the batch
    left-outer twin on the real events. Timestamps are modern-epoch:
    Spark initializes the watermark at epoch 0, so 1970-era rows
    would start out 'late'."""
    import time as _time

    from mpes_spark.streaming.live import interval_attribution_join

    src = str(tmp_path / "outer_attrib")
    ev = t(spark, SF_SMALL, "events")
    day_ns = 86_400_000_000_000
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    sent1 = [(-1, max_ts + 30 * day_ns, -1, "click", 0.0, "{}")]
    sent2 = [(-2, max_ts + 60 * day_ns, -2, "click", 0.0, "{}")]
    ev.repartitionByRange(1, "ts").write.parquet(src)
    for rows in (sent1, sent2):
        _time.sleep(1.2)
        spark.createDataFrame(
            rows, "event_id long, ts long, user_id long, "
            "event_type string, value double, props string"
        ).coalesce(1).write.mode("append").parquet(src)

    def sides(df):
        clicks = df.filter(F.col("event_type") == "click").select(
            "event_id", "user_id", "ts"
        )
        buys = df.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts", "value"
        )
        return clicks, buys

    s_clicks, s_buys = sides(
        read_event_stream(spark, src, _SCHEMA, max_files_per_trigger=1)
    )
    joined = interval_attribution_join(
        s_clicks, s_buys, horizon="30 minutes", watermark="1 hour",
        how="leftOuter",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("outer_attrib")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert q.exception() is None
    got = {
        (r["event_id"], r["event_id_r"])
        for r in spark.sql(
            "SELECT event_id, event_id_r FROM outer_attrib"
        ).collect()
        if r["event_id"] >= 0
    }
    b_clicks, b_buys = sides(ev)
    want = {
        (r["event_id"], r["event_id_r"])
        for r in interval_attribution_join(
            b_clicks, b_buys, horizon="30 minutes", watermark="1 hour",
            how="leftOuter",
        )
        .select("event_id", "event_id_r")
        .collect()
    }
    unmatched = {p for p in want if p[1] is None}
    assert unmatched, "batch twin has no unmatched clicks - test is vacuous"
    assert got == want


def test_checksum_maintenance_sink_matches_batch_digest(spark, stream_dir):
    """Incremental XOR/count digest folded per micro-batch equals the
    one-shot batch checksum of everything ingested."""
    from mpes_spark.dq import table_checksum
    from mpes_spark.streaming.stateful import checksum_maintenance_sink

    cols = ["event_id", "user_id", "event_type"]
    handle, current = checksum_maintenance_sink(cols=cols, name="ev")
    stream = read_event_stream(spark, stream_dir, _SCHEMA, max_files_per_trigger=1)
    q = stream.writeStream.foreachBatch(handle).trigger(availableNow=True).start()
    q.awaitTermination()
    assert q.exception() is None
    name, n, x = current()
    want = table_checksum(
        spark.read.parquet(stream_dir), "ev", cols, []
    ).collect()[0]
    assert (n, x) == (want.n_rows, want.checksum)


def test_cdc_feed_apply_converges_under_streaming(spark, tmp_path):
    """CDC loop end-to-end under streaming: a drifting source emits
    full snapshot versions; each micro-batch derives the record-level
    diff feed against the maintained replica and applies it. After
    every batch the replica must equal that batch's snapshot (exact
    convergence), and each feed must be delta-sized — the
    attribution->rollup composition pattern applied to
    table_diff_feed/apply_diff_feed."""
    import time as _time

    from mpes_spark.transforms.cdc import apply_diff_feed, table_diff_feed

    versions = [
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        # v1: update 2, delete 3, insert 4 -> 3 feed rows
        [(1, "a", 10.0), (2, "B", 21.0), (4, "d", 40.0)],
        # v2: delete 1, insert 5 -> 2 feed rows
        [(2, "B", 21.0), (4, "d", 40.0), (5, "e", 50.0)],
    ]
    schema = "k long, name string, amount double"
    src = str(tmp_path / "cdc_src")
    for i, rows in enumerate(versions):
        if i:
            _time.sleep(1.1)
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    state = {
        "replica": spark.createDataFrame([], schema).localCheckpoint(eager=True),
        "feed_sizes": [],
        "converged": [],
    }

    def handle(batch, _bid):
        feed = table_diff_feed(
            state["replica"], batch, key="k", compare=["name", "amount"]
        ).localCheckpoint(eager=True)
        state["feed_sizes"].append(feed.count())
        state["replica"] = apply_diff_feed(
            state["replica"], feed, key="k", compare=["name", "amount"]
        ).localCheckpoint(eager=True)
        got = sorted(map(tuple, state["replica"].collect()))
        want = sorted(map(tuple, batch.collect()))
        state["converged"].append(got == want)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream.writeStream.foreachBatch(handle).trigger(availableNow=True).start()
    q.awaitTermination()
    assert q.exception() is None
    assert len(state["feed_sizes"]) == 3
    # delta-sized feeds: full first load, then 3- and 2-row deltas
    assert state["feed_sizes"] == [3, 3, 2]
    # replica == snapshot after EVERY batch, including the last
    assert state["converged"] == [True, True, True]


def test_bucket_digest_sink_matches_batch_and_localizes_drift(spark, tmp_path):
    """Streaming Merkle digests: after ingesting all files, the
    maintained per-bucket digests equal the one-shot batch digests of
    the full table (digest_diff empty), and against a corrupted
    replica the SAME maintained state localizes exactly the buckets
    holding the corrupted keys."""
    from mpes_spark.dq import digest_diff, partition_digests
    from mpes_spark.streaming.stateful import bucket_digest_maintenance_sink

    schema = "k long, name string, amount double"
    src = str(tmp_path / "digest_src")
    allrows = []
    for i in range(3):
        rows = [(i * 100 + j, f"u{j % 5}", float(j) + 0.5) for j in range(40)]
        allrows += rows
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    cols = (["k", "name", "amount"], ["amount"])
    handle, current = bucket_digest_maintenance_sink(
        key="k", cols=cols[0], money_cols=cols[1], nbuckets=16
    )
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(handle)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert q.exception() is None

    maintained = current(spark)
    full = spark.createDataFrame(allrows, schema)
    batch_digests = partition_digests(full, "k", *cols, nbuckets=16)
    assert digest_diff(maintained, batch_digests).collect() == []

    # corrupt two keys in a replica -> diff localizes <= 2 buckets,
    # and every flagged bucket really contains a corrupted key
    corrupted = [
        (k, n, a if k not in (7, 205) else a + 1.0) for k, n, a in allrows
    ]
    rep_digests = partition_digests(
        spark.createDataFrame(corrupted, schema), "k", *cols, nbuckets=16
    )
    d = digest_diff(maintained, rep_digests).collect()
    assert 1 <= len(d) <= 2
    bad_buckets = {
        r["bucket"]
        for r in partition_digests(
            full.filter(F.col("k").isin(7, 205)), "k", *cols, nbuckets=16
        ).collect()
    }
    assert {r["bucket"] for r in d} == bad_buckets


def test_bucket_digest_sink_null_hash_bucket_no_false_divergence(
    spark, tmp_path
):
    """A bucket whose EVERY row hashes NULL (a NULL column NULLs the
    row concat) gets checksum NULL from batch partition_digests; the
    maintained state must emit NULL for it too — coercing to 0 would
    make digest_diff flag a false divergence between identical
    tables."""
    from mpes_spark.dq import digest_diff, partition_digests
    from mpes_spark.streaming.stateful import bucket_digest_maintenance_sink

    schema = "k long, name string, amount double"
    src = str(tmp_path / "null_digest_src")
    # every row's name is NULL -> every row hash is NULL -> every
    # occupied bucket's checksum is NULL
    allrows = [(j, None, float(j)) for j in range(20)]
    for half in (allrows[:10], allrows[10:]):
        spark.createDataFrame(half, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    handle, current = bucket_digest_maintenance_sink(
        key="k", cols=["k", "name", "amount"], money_cols=["amount"],
        nbuckets=8,
    )
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(handle)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert q.exception() is None

    maintained = current(spark)
    assert all(r["checksum"] is None for r in maintained.collect())
    batch = partition_digests(
        spark.createDataFrame(allrows, schema),
        "k", ["k", "name", "amount"], ["amount"], nbuckets=8,
    )
    assert digest_diff(maintained, batch).collect() == []


def test_funnel_maintenance_sink_matches_batch(spark, tmp_path, monkeypatch):
    """Online curation funnel == batch curation_funnel on the union
    when arrival is id-ordered: file 2 re-delivers file 1's docs
    under higher ids (pure exact_dup rows) plus fresh docs; per-batch
    work never rescans history and the funnel is merged incrementally
    across a compaction boundary."""
    from mpes_spark import pinning
    from mpes_spark.extras.curation import curation_funnel
    from mpes_spark.streaming.stateful import funnel_maintenance_sink

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").limit(60)
    redeliver = docs.limit(20).withColumn(
        "doc_id", F.col("doc_id") + 50_000
    )
    fresh = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .filter(F.col("doc_id").between(200, 239))
        .withColumn("doc_id", F.col("doc_id") + 60_000)
    )
    src = str(tmp_path / "funnel_stream")
    docs.coalesce(1).write.parquet(src)
    redeliver.unionByName(fresh).coalesce(1).write.mode("append").parquet(src)

    schema = (
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    monkeypatch.setattr(pinning, "COMPACT_EVERY", 1)
    handle, current = funnel_maintenance_sink()
    q = stream.writeStream.foreachBatch(handle).trigger(availableNow=True).start()
    q.awaitTermination()

    got = {
        (r["source"], r["verdict"]): r["n_docs"] for r in current().collect()
    }
    want_df = curation_funnel(
        docs.unionByName(redeliver).unionByName(fresh)
    )
    want = {
        (r["source"], r["verdict"]): r["n_docs"] for r in want_df.collect()
    }
    assert got == want
    # the re-delivered docs must all be exact_dup somewhere
    assert sum(v for (s, verd), v in got.items() if verd == "exact_dup") >= 20


def test_novelty_maintenance_sink_order_independent(spark, tmp_path, monkeypatch):
    """Incremental novelty state == batch ngram_novelty on the whole
    corpus, and — because the state merge is sum/min — the result is
    identical when the same corpus streams in the opposite order
    (an old doc's novelty correctly DEGRADES when a later batch
    re-uses its shingles, whichever side arrives first)."""
    from mpes_spark import pinning
    from mpes_spark.extras.dedup import ngram_novelty
    from mpes_spark.streaming.stateful import novelty_maintenance_sink

    monkeypatch.setattr(pinning, "COMPACT_EVERY", 2)
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").limit(50)
    near = docs.limit(15).withColumn("doc_id", F.col("doc_id") + 50_000)
    schema = (
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint"
    )
    want = {
        r["doc_id"]: (r["n_shingles"], r["n_unique"], r["novelty"])
        for r in ngram_novelty(docs.unionByName(near), n=3).collect()
    }
    assert want, "fixture must produce novelty rows"

    results = []
    for order, parts in (("fwd", (docs, near)), ("rev", (near, docs))):
        src = str(tmp_path / f"nov_stream_{order}")
        parts[0].coalesce(1).write.parquet(src)
        parts[1].coalesce(1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        handle, current = novelty_maintenance_sink(n=3)
        q = (
            stream.writeStream.foreachBatch(handle)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        results.append(
            {
                r["doc_id"]: (r["n_shingles"], r["n_unique"], r["novelty"])
                for r in current().collect()
            }
        )
    assert results[0] == want
    assert results[1] == want
    # every re-delivered doc's shingles are shared -> both copies have
    # zero unique shingles
    dup_ids = {r["doc_id"] for r in near.select("doc_id").collect()}
    for d in dup_ids:
        assert results[0][d][1] == 0


def test_contamination_monitor_sink_matches_batch(spark, tmp_path):
    """Streaming contamination tally == batch contamination_severity
    aggregated over the whole stream, with the benchmark shingle set
    computed once; severities must distinguish a verbatim benchmark
    copy (heavy) from a doc quoting one benchmark 8-gram (partial)."""
    from mpes_spark.extras.curation import contamination_severity
    from mpes_spark.streaming.stateful import contamination_monitor_sink

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    train = docs.filter(F.col("doc_id") % 50 != 0).limit(80)
    src = str(tmp_path / "contam_stream")
    train.limit(40).coalesce(1).write.parquet(src)
    # second file: includes a verbatim copy of a benchmark doc
    copy = bench.limit(1).withColumn("doc_id", F.lit(90_001).cast("long"))
    train.subtract(train.limit(40)).unionByName(copy).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    schema = (
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    handle, current = contamination_monitor_sink(bench, n=8)
    q = stream.writeStream.foreachBatch(handle).trigger(availableNow=True).start()
    q.awaitTermination()
    got = {
        (r["source"], r["severity"]): r["n_docs"] for r in current().collect()
    }
    streamed = spark.read.parquet(src)
    want = {
        (r["source"], r["severity"]): r["n_docs"]
        for r in contamination_severity(streamed, bench, n=8)
        .groupBy("source", "severity")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .collect()
    }
    assert got == want
    assert sum(v for (s, sev), v in got.items() if sev == "heavy") >= 1


def test_maintenance_sinks_bound_state_parts(spark, tmp_path, monkeypatch):
    """The r7 maintenance sinks must keep their state-parts lists
    BOUNDED under compaction — the growth hazard class ADVICE r6
    flagged on neardup_ingest_sink, asserted here preemptively: after
    N batches with COMPACT_EVERY=K, the funnel fp-parts and novelty
    shingle-parts lists hold at most K entries, and results equal a
    no-compaction run exactly."""
    from mpes_spark import pinning
    from mpes_spark.extras.dedup import ngram_novelty
    from mpes_spark.streaming.stateful import (
        funnel_maintenance_sink,
        novelty_maintenance_sink,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").limit(60)
    src = str(tmp_path / "bound_stream")
    # 6 files -> 6 micro-batches
    for i in range(6):
        docs.filter(F.col("doc_id") % 6 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    schema = (
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint"
    )

    def run(sink_factory):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        handle, current = sink_factory()
        q = (
            stream.writeStream.foreachBatch(handle)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return handle, current

    # funnel: compacted vs uncompacted parity + bounded parts
    monkeypatch.setattr(pinning, "COMPACT_EVERY", 7)  # never, over 6 batches
    h_u, cur_u = run(funnel_maintenance_sink)
    got_u = {(r["source"], r["verdict"]): r["n_docs"] for r in cur_u().collect()}
    assert len(h_u.state["fp"]) > 2  # uncompacted, the list grows
    monkeypatch.setattr(pinning, "COMPACT_EVERY", 2)
    h_c, cur_c = run(funnel_maintenance_sink)
    got_c = {(r["source"], r["verdict"]): r["n_docs"] for r in cur_c().collect()}
    assert got_c == got_u
    assert len(h_c.state["fp"]) <= 2, len(h_c.state["fp"])

    # novelty: same, vs the batch operator
    h_n, cur_n = run(lambda: novelty_maintenance_sink(n=3))
    got_n = {
        r["doc_id"]: (r["n_shingles"], r["n_unique"], r["novelty"])
        for r in cur_n().collect()
    }
    want = {
        r["doc_id"]: (r["n_shingles"], r["n_unique"], r["novelty"])
        for r in ngram_novelty(spark.read.parquet(src), n=3).collect()
    }
    assert got_n == want
    assert len(h_n.state["sh"]) <= 2, len(h_n.state["sh"])
    assert len(h_n.state["sizes"]) <= 2, len(h_n.state["sizes"])


def test_ann_maintenance_sink_refresh_and_consistency(spark, tmp_path):
    """Streaming IVF maintenance (r8): early batches share a
    distribution (no retrain after the initial train); a later batch
    from a shifted distribution trips the drift rule, the quantizer
    retrains, and the ACCUMULATED corpus is re-assigned — asserted by
    checking every accumulated row's list_id equals a fresh batch
    assignment under the final centroids."""
    import numpy as np

    from mpes_spark.extras.similarity import ivf_assign
    from mpes_spark.streaming.stateful import ann_maintenance_sink

    rng = np.random.default_rng(5)
    dim = 8

    def rows(center, n, start):
        return [
            (start + i, (center + rng.normal(0, 0.05, dim)).tolist())
            for i in range(n)
        ]

    src = str(tmp_path / "ann_stream")
    batches = [
        rows(np.zeros(dim), 200, 0),
        rows(np.zeros(dim), 200, 1000),
        rows(np.full(dim, 5.0), 200, 2000),  # shifted -> retrain
    ]
    import time as _time

    for i, b in enumerate(batches):
        if i:
            _time.sleep(1.1)  # distinct mtimes -> deterministic order
        spark.createDataFrame(
            b, "vec_id long, embedding array<double>"
        ).coalesce(1).write.mode("append").parquet(src)

    handle, current, state = ann_maintenance_sink(
        k=4, sample_rows=400, err_sample_rows=200, iters=5
    )
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(handle)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert q.exception() is None

    assert state["retrains"] == 2  # initial train + one drift refresh
    assert state["quant"]["generation"] == 1
    got = current().toPandas().sort_values("vec_id", ignore_index=True)
    assert len(got) == 600
    # consistency: every accumulated row's list matches a fresh
    # assignment under the final-generation centroids
    want = (
        ivf_assign(current().drop("list_id"), state["quant"]["centroids"])
        .toPandas()
        .sort_values("vec_id", ignore_index=True)
    )
    assert got["list_id"].tolist() == want["list_id"].tolist()


def test_dup_span_ingest_sink_flags_later_copies(spark, tmp_path, monkeypatch):
    """Streaming substring dedup (r8): a passage planted in batch 1
    and re-ingested in batches 2/3 must flag the LATER copies with
    exactly the spans the batch operator assigns them (cross-batch
    and within-batch duplication both fire); the first copy is not
    retro-flagged — the documented ingest contract. Compaction must
    not change the audit."""
    import time as _time

    from mpes_spark import pinning
    from mpes_spark.extras.dedup import dup_spans
    from mpes_spark.streaming.stateful import dup_span_ingest_sink

    passage = "the quick brown fox jumps over the lazy dog tonight"
    uniq = {
        1: "alpha bravo charlie delta echo foxtrot golf hotel india juliet",
        2: "kilo lima mike november oscar papa quebec romeo sierra tango",
        3: "uniform victor whiskey xray yankee zulu one two three four",
        4: "red orange yellow green blue indigo violet umbra penumbra shade",
    }
    batches = [
        [(1, uniq[1] + " " + passage)],          # first copy: unflagged
        [(2, passage + " " + uniq[2]), (3, uniq[3])],
        [(4, uniq[4] + " " + passage)],          # third copy
    ]
    src = str(tmp_path / "dup_span_stream")
    for i, rows in enumerate(batches):
        if i:
            _time.sleep(1.1)
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(src)

    def run(compact_every):
        monkeypatch.setattr(pinning, "COMPACT_EVERY", compact_every)
        handle, flagged = dup_span_ingest_sink(n=5)
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(handle)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert q.exception() is None
        # MEASURED state-bound telemetry (r9 stretch #10): maintained
        # state is keyed by GRAM, never by position — numeric asserts,
        # not prose. With COMPACT_EVERY=1 the parts collapse to one
        # relation of exactly the distinct grams; uncompacted, depth
        # equals the batch count and rows stay <= batches x grams.
        stats = handle.state_stats()
        assert stats["batches"] == len(batches)
        assert stats["distinct_grams"] > 0
        if compact_every == 1:
            assert stats["gram_parts"] == 1
            assert stats["state_rows"] == stats["distinct_grams"]
        else:
            assert stats["gram_parts"] == len(batches)
            assert stats["state_rows"] <= len(batches) * stats["distinct_grams"]
        # structural position-independence: every doc text here is ~11
        # tokens x 4 docs; gram-keyed state must stay well under the
        # total POSITION count a naive design would hold
        n_positions = sum(
            len(t.split()) for b in batches for _, t in b
        )
        assert stats["distinct_grams"] <= n_positions
        return {
            r.doc_id: (r.span_start, r.span_end) for r in flagged().collect()
        }

    got = run(len(batches) + 1)  # never compacts
    # later copies flagged with exactly the batch operator's spans
    all_docs = spark.createDataFrame(
        [r for b in batches for r in b], "doc_id long, text string"
    )
    want_full = {
        r.doc_id: (r.span_start, r.span_end)
        for r in dup_spans(all_docs, n=5, min_docs=2).collect()
    }
    assert got == {k: v for k, v in want_full.items() if k != 1}
    assert 1 in want_full  # batch recompute WOULD flag the first copy
    # compaction changes nothing
    assert run(1) == got


def test_sentence_span_ingest_sink_cross_batch_parity(spark, tmp_path, monkeypatch):
    """Streaming C4 sentence-span dedup (r10): a 3-sentence passage
    planted in batch 1 and re-ingested later must flag the LATER
    copies at exactly the spans the batch operator would remove
    (cross-batch parity with sentence_span_dedup's keep-first
    accounting); the first copy is not retro-flagged. State stays
    keyed by distinct span hash and compaction does not change the
    audit."""
    import time as _time

    from mpes_spark import pinning
    from mpes_spark.extras.dedup import sentence_span_dedup
    from mpes_spark.streaming.stateful import sentence_span_ingest_sink

    passage = "Dr. Smith arrived early. The data looked clean. We shipped it."
    batches = [
        [(1, "Setup ran fine. " + passage + " Closing note one.")],
        [(2, passage + " A fresh tail sentence. Another one here."),
         (3, "Unrelated alpha text. Unrelated bravo text. Unrelated charlie text. Unrelated delta text.")],
        [(4, "Lead-in sentence here. " + passage)],
    ]
    src = str(tmp_path / "ssd_stream")
    for i, rows in enumerate(batches):
        if i:
            _time.sleep(1.1)
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(src)

    def run(compact_every):
        monkeypatch.setattr(pinning, "COMPACT_EVERY", compact_every)
        handle, flagged = sentence_span_ingest_sink()
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(handle)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert q.exception() is None
        stats = handle.state_stats()
        assert stats["batches"] == len(batches)
        assert stats["distinct_spans"] > 0
        if compact_every == 1:
            assert stats["span_parts"] == 1
            assert stats["state_rows"] == stats["distinct_spans"]
        else:
            assert stats["span_parts"] == len(batches)
            assert (
                stats["state_rows"]
                <= len(batches) * stats["distinct_spans"]
            )
        return {(r.doc_id, r.span_idx) for r in flagged().collect()}

    got = run(len(batches) + 1)  # never compacts
    assert run(1) == got  # compaction changes nothing

    # batch-operator parity: per-doc flagged counts == n_remove of
    # sentence_span_dedup over the landed corpus (doc ids ascend with
    # batch order, so keep-first ownership agrees across renderings)
    corpus = spark.createDataFrame(
        [r for b in batches for r in b], "doc_id long, text string"
    )
    want = {
        r.doc_id: r.n_remove
        for r in sentence_span_dedup(corpus).collect()
        if r.n_remove > 0
    }
    from collections import Counter

    got_per_doc = Counter(d for d, _ in got)
    assert dict(got_per_doc) == want
    assert 1 not in got_per_doc  # first copy never retro-flagged


def _flag_compaction_soak(spark, monkeypatch, sink, parts_key, distinct_key):
    """Drive ``sink`` through a 10-batch soak twice — with
    COMPACT_EVERY=3 and with no compaction — and check that BOTH part
    lists of the compacted run stay depth-bounded (without compaction
    the flag_parts list grows one entry per batch, unbounded) and that
    the compacted audit is row-identical to the uncompacted one."""
    from mpes_spark import pinning

    def batch_df(i):
        # every 7th batch replants batch 0's passage -> cross-batch flags
        base = (
            "Repeat passage alpha. Repeat passage bravo. Repeat passage charlie."
            if i % 7 == 0
            else f"Unique lead {i} here. Unique mid {i} there. Unique tail {i} done."
        )
        return spark.createDataFrame(
            [(i * 10, base + f" Batch {i} filler sentence. Another filler {i}.")],
            "doc_id long, text string",
        )

    n, every = 10, 3

    def soak(compact_every):
        monkeypatch.setattr(pinning, "COMPACT_EVERY", compact_every)
        handle, flagged = sink()
        for i in range(n):
            handle(batch_df(i), i)
        return handle.state_stats(), sorted(tuple(r) for r in flagged().collect())

    sc, got_c = soak(every)
    su, got_u = soak(n + 1)  # never compacts
    assert su["flag_parts"] > every  # the unbounded failure mode, visible
    assert sc[parts_key] <= every and sc["flag_parts"] <= every
    assert sc["batches"] == su["batches"] == n
    assert sc[distinct_key] == su[distinct_key]
    assert got_c == got_u and got_c  # compaction is audit-invisible


def test_sentence_span_sink_flag_compaction_soak(spark, monkeypatch):
    """r11 (VERDICT r10 #9): the sentence sink's flag audit gets the
    same generation compaction as its span state."""
    from mpes_spark.streaming.stateful import sentence_span_ingest_sink

    _flag_compaction_soak(
        spark, monkeypatch, sentence_span_ingest_sink, "span_parts", "distinct_spans"
    )


def test_dup_span_sink_flag_compaction_soak(spark, monkeypatch):
    """The substring sink's flag audit is compacted like its gram
    state, on the same soak."""
    from mpes_spark.streaming.stateful import dup_span_ingest_sink

    _flag_compaction_soak(
        spark, monkeypatch, dup_span_ingest_sink, "gram_parts", "distinct_grams"
    )
