"""The pinning contract (mpes_spark/pinning.py): ``release`` frees
what it is given, no graph, dedup or MMR operator leaves a pinned relation
behind that its returned plan does not read, and no streaming sink
leaves one behind that its state or its returned relations do not
read."""

import random

from pyspark.sql import functions as F


def _pinned_rdds(spark) -> set[int]:
    """Ids of every persisted RDD, with each CacheManager entry's
    column-buffer RDD built so a never-read cache entry shows too."""
    ids = {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keys()}
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    entries = field.get(cm)
    for i in range(entries.size()):
        builder = entries.apply(i).cachedRepresentation().cacheBuilder()
        ids.add(builder.cachedColumnBuffers().id())
    return ids


def _leaf_rdds(df, cached: bool = False) -> set[int]:
    """RDDs the plan of ``df`` reads as leaves: the checkpointed
    ``LogicalRDD``s of its analyzed plan and, with ``cached``, the
    buffers of the ``InMemoryRelation``s its cache-substituted plan
    reads."""
    qe = df._jdf.queryExecution()
    ids = set()
    plans = [qe.analyzed()] + ([qe.withCachedData()] if cached else [])
    for plan in plans:
        leaves = plan.collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            kind = leaf.getClass().getSimpleName()
            if kind == "LogicalRDD":
                ids.add(leaf.rdd().id())
            elif kind == "InMemoryRelation":
                ids.add(leaf.cacheBuilder().cachedColumnBuffers().id())
    return ids


def test_release_frees_persist_and_checkpoint(spark, tmp_path):
    from mpes_spark.pinning import pin, release

    base = _pinned_rdds(spark)
    cached = spark.range(50).select((F.col("id") * 2).alias("x")).persist()
    cached.count()
    assert cached.storageLevel.useMemory or cached.storageLevel.useDisk
    release(cached)
    assert not cached.storageLevel.useMemory and not cached.storageLevel.useDisk
    assert _pinned_rdds(spark) == base

    ckpt = spark.range(50).select((F.col("id") + 1).alias("y")).localCheckpoint(
        eager=True
    )
    assert _pinned_rdds(spark) - base
    release(ckpt)
    assert _pinned_rdds(spark) == base

    # twice, unpinned, derived from a pin, or none at all: no-ops
    keep = spark.range(5).localCheckpoint(eager=True)
    release(ckpt, cached, spark.range(3), keep.select("id"))
    release()
    assert len(_pinned_rdds(spark) - base) == 1
    assert sorted(r.id for r in keep.collect()) == list(range(5))
    release(keep)
    assert _pinned_rdds(spark) == base

    # pin: a live checkpoint and a plain file scan come back as they
    # are; a relation derived from either is checkpointed
    live = pin(spark.range(5).select((F.col("id") * 3).alias("z")))
    pinned = _pinned_rdds(spark)
    assert len(pinned - base) == 1
    assert pin(live) is live and _pinned_rdds(spark) == pinned
    spark.range(4).write.parquet(str(tmp_path / "p"))
    scan = spark.read.parquet(str(tmp_path / "p"))
    assert pin(scan) is scan and _pinned_rdds(spark) == pinned
    derived = pin(live.select((F.col("z") + 1).alias("w")))
    assert _leaf_rdds(derived) == _pinned_rdds(spark) - pinned
    assert sorted(r.w for r in derived.collect()) == [1, 4, 7, 10, 13]
    release(live, derived)
    assert _pinned_rdds(spark) == base


def _graph(spark):
    rng = random.Random(7)
    edges = set()
    while len(edges) < 250:
        a, b = rng.randrange(60), rng.randrange(60)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    return spark.createDataFrame(sorted(edges), "src long, dst long")


def _docs(spark):
    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(400)]
    templates = [rng.sample(vocab, 14) for _ in range(12)]
    rows = []
    for doc_id in range(60):
        words = list(templates[doc_id % 12])
        for _ in range(rng.randrange(3)):
            words[rng.randrange(len(words))] = rng.choice(vocab)
        rows.append((doc_id, " ".join(words), len(words)))
    return spark.createDataFrame(rows, "doc_id long, text string, n_chars long")


def test_operators_leave_only_what_their_plan_reads(spark):
    """After each call and one collect(), every newly pinned RDD or
    cache entry must be a leaf of the returned analyzed plan — a
    checkpoint the caller owns and releases. Exempt: the two operators
    whose returned lazy plan reads a persisted relation by design
    (their plan-shape tests pin the cache scans), which may leave
    exactly that cache. PageRank runs twice: on the directed graph,
    whose sinks are dangling nodes (one pin per iteration), and on its
    symmetric closure, which has none (one lazy plan)."""
    from mpes_spark.analysis import graph as G
    from mpes_spark.extras import dedup as DD
    from mpes_spark.extras import similarity as SIM

    edges, docs = _graph(spark), _docs(spark)
    rng = random.Random(3)
    mmr_cands = spark.createDataFrame(
        [
            (q, d, rng.random(), [rng.random() for _ in range(4)])
            for q in range(3)
            for d in range(6)
        ],
        "query_id long, neighbor_id long, cosine double, cv array<double>",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (7, 9), (9, 11)], "id_a long, id_b long"
    )
    batch = docs.filter(F.col("doc_id") < 12)
    symmetric = edges.unionByName(edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    ))
    cases = {
        "pagerank": lambda: G.pagerank(edges),
        "pagerank[symmetric]": lambda: G.pagerank(symmetric),
        "label_propagation": lambda: G.label_propagation(edges),
        "triangle_count": lambda: G.triangle_count(edges),
        "clustering_coefficient": lambda: G.clustering_coefficient(edges),
        "kcore": lambda: G.kcore(edges),
        "minhash_neardup_pairs": lambda: DD.minhash_neardup_pairs(docs),
        "winnow_dup_stats": lambda: DD.winnow_dup_stats(docs),
        "prefix_filtered_join": lambda: DD.prefix_filtered_join(
            batch, docs, threshold=0.6
        ),
        "connected_components": lambda: DD.connected_components(pairs),
        "connected_components[distributed]": lambda: DD.connected_components(
            pairs, driver_edge_limit=0
        ),
        "canonical_by_quality": lambda: DD.canonical_by_quality(docs, pairs),
        "canonical_by_quality[distributed]": lambda: DD.canonical_by_quality(
            docs, pairs, driver_edge_limit=0
        ),
        "mmr_rerank_unrolled": lambda: SIM.mmr_rerank_unrolled(mmr_cands, k=3),
    }
    for waves in (1, 3):
        cases[f"blocked_jaccard_pairs[waves={waves}]"] = (
            lambda w=waves: DD.blocked_jaccard_pairs(docs, threshold=0.4, waves=w)
        )
        cases[f"prefix_filtered_pairs[waves={waves}]"] = (
            lambda w=waves: DD.prefix_filtered_pairs(docs, threshold=0.6, waves=w)
        )
        cases[f"prefix_dual_pairs[waves={waves}]"] = (
            lambda w=waves: DD.prefix_dual_pairs(docs, waves=w)
        )

    leaks = {}
    for name, build in cases.items():
        before = _pinned_rdds(spark)
        out = build()
        assert out.collect(), name
        lazy_cache = name in ("minhash_neardup_pairs", "winnow_dup_stats")
        left = _pinned_rdds(spark) - before - _leaf_rdds(out, lazy_cache)
        if left:
            leaks[name] = len(left)
    assert leaks == {}


def _sink_batches(spark, n_batches: int = 6):
    """Per-batch inputs for the streaming sinks: documents of repeated
    sentences (text, source), timestamped events, and embeddings whose
    distribution shifts in the fourth batch."""
    import numpy as np

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(300)]
    sentences = [" ".join(rng.sample(vocab, 6)) + "." for _ in range(30)]
    docs, events, vecs = [], [], []
    nrng = np.random.default_rng(5)
    for b in range(n_batches):
        rows = []
        for doc_id in range(b * 10, b * 10 + 10):
            text = " ".join(rng.choice(sentences) for _ in range(5))
            rows.append((doc_id, text, f"s{doc_id % 3}", len(text)))
        docs.append(
            spark.createDataFrame(
                rows, "doc_id long, text string, source string, n_chars long"
            )
        )
        events.append(
            spark.createDataFrame(
                [(b * 50 + i, (b * 50 + i) * 60_000_000_000, float(i % 17))
                 for i in range(50)],
                "event_id long, ts long, value double",
            )
        )
        center = 5.0 if b >= 3 else 0.0
        vecs.append(
            spark.createDataFrame(
                [(b * 40 + i, (center + nrng.normal(0, 0.05, 4)).tolist())
                 for i in range(40)],
                "vec_id long, embedding array<double>",
            )
        )
    return docs, events, vecs


def test_streaming_sinks_hold_only_their_state(spark, tmp_path, monkeypatch):
    """After six batches with COMPACT_EVERY=2, every RDD or cache entry
    a sink pinned after it was built must be a leaf of a relation the
    sink holds (the ``Parts`` in ``handle.state``) or returns; every
    part list stays within COMPACT_EVERY entries, and every returned
    relation is still readable."""
    import gc

    from mpes_spark import pinning
    from mpes_spark.streaming import stateful as S
    from mpes_spark.streaming.live import neardup_ingest_sink

    monkeypatch.setattr(pinning, "COMPACT_EVERY", 2)
    docs, events, vecs = _sink_batches(spark)
    bench = docs[0].filter(F.col("doc_id") % 4 == 0)
    corpus = docs[0].filter(F.col("doc_id") % 2 == 0)
    cases = {
        "rollup": (
            lambda: S.rollup_maintenance_sink(
                measure="value", bucket_ns=3_600_000_000_000
            ),
            events,
        ),
        "funnel": (S.funnel_maintenance_sink, docs),
        "novelty": (S.novelty_maintenance_sink, docs),
        "contamination": (lambda: S.contamination_monitor_sink(bench), docs),
        "ann": (
            lambda: S.ann_maintenance_sink(
                k=3, sample_rows=100, err_sample_rows=50, iters=3
            ),
            vecs,
        ),
        "dup_span": (S.dup_span_ingest_sink, docs),
        "sentence_span": (S.sentence_span_ingest_sink, docs),
        "neardup": (lambda: neardup_ingest_sink(corpus, threshold=0.5), docs),
        "neardup[compact_path]": (
            lambda: neardup_ingest_sink(
                corpus, threshold=0.5, compact_path=str(tmp_path / "neardup")
            ),
            docs,
        ),
    }
    leaks, unbounded = {}, {}
    for name, (build, batches) in cases.items():
        handle, *readers = build()
        before = _pinned_rdds(spark)
        for i, batch in enumerate(batches):
            handle(batch, i)
        parts = [p for p in handle.state.values() if isinstance(p, pinning.Parts)]
        held = [p.union() for p in parts if len(p)]
        returned = [r() for r in readers if callable(r)]
        for df in returned:
            assert df is not None and df.collect() is not None, name
        gc.collect()
        keep = set().union(*(_leaf_rdds(df) for df in held + returned))
        left = _pinned_rdds(spark) - before - keep
        if left:
            leaks[name] = len(left)
        if any(len(p) > pinning.COMPACT_EVERY for p in parts):
            unbounded[name] = [len(p) for p in parts]
    assert leaks == {}
    assert unbounded == {}
