"""Unit tests for the LLM-pipeline operator library (extras/) — the
behaviors the oracle queries can't see: keep-first semantics, LSH
recall on known near-dups, multimodal batch plumbing, stub gating."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mpes_spark.extras import dedup as DD
from mpes_spark.extras import multimodal as MM
from mpes_spark.extras import similarity as SIM
from tests.conftest import SF_SMALL


def _docs(spark):
    return spark.read.parquet(f"{SF_SMALL}/documents.parquet")


def test_exact_dedup_keeps_first(spark):
    d = _docs(spark)
    dup = d.withColumn("doc_id", F.col("doc_id") + 10_000)
    u = d.unionByName(dup)
    out = DD.exact_dedup(u)
    assert out.count() == d.select(
        F.countDistinct(F.md5(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ")))
    ).collect()[0][0]
    # keep-first: every surviving id is from the original (min) range
    assert out.filter(F.col("doc_id") >= 10_000).count() == 0


def test_minhash_finds_planted_neardup(spark):
    """A doc with one word changed must surface as an LSH candidate
    and pass Jaccard verification."""
    d = _docs(spark).limit(50)
    planted = (
        d.filter(F.col("doc_id") == 0)
        .withColumn("doc_id", F.lit(999_999))
        .withColumn("text", F.regexp_replace("text", r"^\S+", "REPLACED"))
    )
    u = d.unionByName(planted)
    pairs = DD.minhash_neardup_pairs(u, n=3, k=32, bands=8, threshold=0.3)
    hits = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 999_999) in hits


def test_minhash_pathological_corpus_no_forced_broadcast(spark):
    """Template-spam corpus (every doc near-identical -> candidate
    relation ~quadratic in corpus size): the pipeline must not force a
    broadcast of the huge pair relation (VERDICT r2 #2) and must still
    complete and find the expected pair volume."""
    base = (
        "the quick brown fox jumps over the lazy dog while the "
        "slow green turtle watches from the muddy river bank nearby"
    )
    docs = spark.createDataFrame(
        [(i, f"{base} tail{i % 3}") for i in range(120)],
        "doc_id long, text string",
    )
    pairs = DD.minhash_neardup_pairs(docs, n=3, k=32, bands=8, threshold=0.5)
    # no static broadcast hint anywhere in the plan
    assert "ResolvedHint" not in pairs._jdf.queryExecution().analyzed().toString()
    n = pairs.count()
    # 3 template groups of 40 identical docs -> >= 3 * C(40,2) pairs
    assert n >= 3 * (40 * 39) // 2


def test_simhash_identical_docs_distance_zero(spark):
    d = _docs(spark).limit(20)
    dup = d.filter(F.col("doc_id") == 1).withColumn("doc_id", F.lit(888_888))
    out = DD.simhash_neardup_pairs(
        d.unionByName(dup), nbits=48, bands=4, max_hamming=0
    )
    assert {(r.id_a, r.id_b, r.hamming) for r in out.collect()} >= {(1, 888_888, 0)}


def test_topk_cosine_self_excluded_and_ranked(spark):
    e = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    out = SIM.topk_cosine(e, e.filter(F.col("vec_id") < 3), k=5).collect()
    by_q = {}
    for r in out:
        assert r.neighbor_id != r.query_id
        by_q.setdefault(r.query_id, []).append((r.rank, r.cosine))
    for q, rows in by_q.items():
        rows.sort()
        assert [r for r, _ in rows] == list(range(1, len(rows) + 1))
        cosines = [c for _, c in rows]
        assert cosines == sorted(cosines, reverse=True)


def test_ann_results_subset_of_corpus_bucket(spark):
    e = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    planes = SIM.hyperplanes(64, 8, seed=7)
    out = SIM.ann_lsh_cosine(e, e.filter(F.col("vec_id") < 3), planes, k=3)
    rows = out.collect()
    assert all(r.neighbor_id != r.query_id for r in rows)
    assert all(r.rank <= 3 for r in rows)


def test_ivf_recall_vs_brute_force(spark):
    """IVF with nprobe=all-lists must equal brute force exactly;
    nprobe=2 must keep decent top-1 recall."""
    e = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 5)
    cent = SIM.train_ivf_centroids(e, k=4, sample_rows=500, iters=6, seed=7)
    exact = {
        (r.query_id, r.rank): r.neighbor_id
        for r in SIM.topk_cosine(e, q, k=1).collect()
    }
    full = {
        (r.query_id, r.rank): r.neighbor_id
        for r in SIM.ivf_topk_cosine(e, q, cent, k=1, nprobe=4).collect()
    }
    assert full == exact  # probing every list == brute force
    probed = {
        (r.query_id, r.rank): r.neighbor_id
        for r in SIM.ivf_topk_cosine(e, q, cent, k=1, nprobe=2).collect()
    }
    hits = sum(probed.get(k) == v for k, v in exact.items())
    assert hits >= len(exact) // 2  # recall >= 0.5 at nprobe=2 of 4


def test_ivf_sampling_robust_to_clustered_corpus(spark):
    """VERDICT r2 #8: the quantizer trains on a seeded uniform sample,
    not a ``.limit`` prefix — on a corpus laid out cluster-by-cluster
    (orderBy label) a prefix sees one cluster only and recall
    collapses. Seeded sampling must keep recall intact on the sorted
    layout."""
    e = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").orderBy(
        "label", "vec_id"
    )
    q = e.filter(F.col("vec_id") < 5)
    cent = SIM.train_ivf_centroids(e, k=4, sample_rows=300, iters=6, seed=7)
    exact = {
        (r.query_id, r.rank): r.neighbor_id
        for r in SIM.topk_cosine(e, q, k=1).collect()
    }
    probed = {
        (r.query_id, r.rank): r.neighbor_id
        for r in SIM.ivf_topk_cosine(e, q, cent, k=1, nprobe=2).collect()
    }
    hits = sum(probed.get(k) == v for k, v in exact.items())
    assert hits >= len(exact) // 2
    # and the inverted lists are actually spread, not one mega-list
    counts = (
        SIM.ivf_assign(e, cent).groupBy("list_id").count().collect()
    )
    total = sum(r["count"] for r in counts)
    assert len(counts) >= 2
    assert max(r["count"] for r in counts) < total


def test_banded_neardup_recall_vs_exact(spark):
    """Banded hyperplane LSH (VERDICT r2 #3): verified candidates must
    be a subset of the exact all-pairs ground truth (no false
    positives), and narrowing bands (more bands x fewer planes each)
    must raise recall on the same plane budget."""
    e = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").filter(
        F.col("vec_id") < 300
    )
    c = e.select("vec_id", SIM.as_double_array("embedding").alias("v"))
    a, b = c.alias("a"), c.alias("b")
    raw = SIM.dot_expr(F.col("a.v"), F.col("b.v")) / (
        SIM.norm_expr(F.col("a.v")) * SIM.norm_expr(F.col("b.v"))
    )
    exact = {
        (r.id_a, r.id_b)
        for r in a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .filter(raw >= 0.4)
        .select(
            F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b")
        )
        .collect()
    }
    assert exact  # the synthetic corpus must contain near-dups at 0.4
    planes = SIM.hyperplanes(64, 16, seed=11)
    wide = {
        (r.id_a, r.id_b)
        for r in SIM.embedding_neardup_banded(
            e, planes, bands=4, threshold=0.4
        ).collect()
    }
    narrow = {
        (r.id_a, r.id_b)
        for r in SIM.embedding_neardup_banded(
            e, planes, bands=8, threshold=0.4
        ).collect()
    }
    assert wide <= exact and narrow <= exact  # exact-verified: no FPs
    # 8 bands x 2 planes has strictly higher collision prob than
    # 4 bands x 4 planes: 1-(1-p^2)^8 > 1-(1-p^4)^4 for p in (0,1)
    assert len(narrow) >= len(wide)
    assert len(narrow) / len(exact) >= 0.6


def test_stratified_sample_quota_and_determinism(spark):
    from mpes_spark.extras import curation as CU

    d = _docs(spark)
    out = CU.stratified_sample(d, quota=3).toPandas()
    per = out.groupby("source").size()
    assert (per <= 3).all()
    # groups with >= 3 docs fill their quota exactly
    sizes = d.groupBy("source").count().toPandas().set_index("source")["count"]
    for src, n in sizes.items():
        assert per.get(src, 0) == min(3, n)
    again = CU.stratified_sample(d, quota=3).toPandas()
    assert sorted(map(tuple, out.values.tolist())) == sorted(
        map(tuple, again.values.tolist())
    )


def test_contamination_finds_planted_overlap(spark):
    from mpes_spark.extras import curation as CU

    d = _docs(spark).limit(40)
    bench = d.filter(F.col("doc_id") == 0)
    # train doc 777 contains benchmark doc 0's text verbatim
    leaked = bench.select(
        F.lit(777).cast("long").alias("doc_id"),
        F.concat(F.lit("prefix words here "), F.col("text")).alias("text"),
    )
    train = d.filter(F.col("doc_id") > 0).select("doc_id", "text").unionByName(leaked)
    hits = {r.doc_id for r in CU.contaminated_docs(train, bench, n=8).collect()}
    assert 777 in hits


def test_chunking_reassembles(spark):
    from mpes_spark.extras import curation as CU

    d = _docs(spark).limit(30)
    out = CU.chunk_documents(d, chunk_tokens=16).toPandas()
    want = {
        r.doc_id: len(r.text.split(" ")) for r in d.select("doc_id", "text").collect()
    }
    got = out.groupby("doc_id")["n_tokens"].sum().to_dict()
    assert got == want  # chunks partition the token stream exactly
    # chunk indices are contiguous from 0 and only the last is ragged
    for doc, grp in out.groupby("doc_id"):
        idx = sorted(grp.chunk_idx)
        assert idx == list(range(len(idx)))
        full = grp.sort_values("chunk_idx")["n_tokens"].tolist()
        assert all(n == 16 for n in full[:-1])


def test_multimodal_feature_plumbing(spark):
    assets = MM.assets_from_documents(_docs(spark).limit(10))
    feats = MM.extract_features(assets, dim=8).collect()
    assert len(feats) == 10
    for r in feats:
        assert r.n_bytes > 0
        assert len(r.feat) == 8
        assert r.checksum >= 0
    # deterministic across runs
    again = MM.extract_features(
        MM.assets_from_documents(_docs(spark).limit(10)), dim=8
    ).collect()
    assert {r.asset_id: r.checksum for r in feats} == {
        r.asset_id: r.checksum for r in again
    }


def test_multimodal_resize_plumbing(spark):
    assets = MM.assets_from_documents(_docs(spark).limit(6))
    out = MM.resize_images(assets, width=32, height=16).collect()
    assert len(out) == 6
    for r in out:
        assert len(r.payload) == 32 * 16 * 3
        assert r.meta.width == 32 and r.meta.height == 16
        assert r.meta.sample_rate == 16000  # untouched metadata carried
    # deterministic across runs
    again = MM.resize_images(
        MM.assets_from_documents(_docs(spark).limit(6)), width=32, height=16
    ).collect()
    assert {r.asset_id: bytes(r.payload) for r in out} == {
        r.asset_id: bytes(r.payload) for r in again
    }


def test_multimodal_frame_sampling(spark):
    assets = MM.assets_from_documents(_docs(spark).limit(5))
    frames = MM.sample_frames(assets, every_n=10)
    pdf = frames.toPandas()
    meta = {r.asset_id: r.meta.n_frames for r in assets.collect()}
    for aid, grp in pdf.groupby("asset_id"):
        n = meta[aid]
        assert list(grp.frame_idx) == list(range(0, n, 10))


def test_decode_image_native_formats():
    """Every image format decodes NATIVELY through decode_image —
    PNM, BMP (r8), PNG (r9), TIFF/LZW and baseline JPEG (r9 late);
    malformed payloads fail with decoder errors, not silent garbage."""
    import numpy as np

    from mpes_spark.io.images import write_png, write_pnm, write_tiff
    from mpes_spark.io.jpeg import write_jpeg

    png_img = np.arange(24, dtype="uint8").reshape(2, 4, 3)
    np.testing.assert_array_equal(MM.decode_image(write_png(png_img)), png_img)
    img = np.arange(12, dtype="uint8").reshape(3, 4)
    np.testing.assert_array_equal(MM.decode_image(write_pnm(img)), img)
    np.testing.assert_array_equal(
        MM.decode_image(write_tiff(img, compression="lzw", predictor=2)), img
    )
    const = np.full((8, 8), 55, dtype=np.uint8)
    np.testing.assert_array_equal(MM.decode_image(write_jpeg(const, 100)), const)
    with pytest.raises(ValueError):
        MM.decode_image(b"\xff\xd8\xff\xe0")  # truncated JPEG
    with pytest.raises(ValueError):
        MM.decode_image(b"II*\x00rest")  # truncated TIFF


def test_codec_stats_empty_text_guard(spark, duck):
    """ADVICE r8: image/audio/png decode stats must not crash on
    empty-text documents — both twins emit a zeros row, verified
    against each other on a fixture that includes the empty doc."""
    import pandas as pd

    rows = [(1, "hello world"), (2, ""), (3, "x")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    duck.register("rows_df", pd.DataFrame(rows, columns=["doc_id", "text"]))
    duck.execute("CREATE OR REPLACE TABLE _ed AS SELECT * FROM rows_df")
    for spark_fn, sql in [
        (
            MM.image_decode_stats(docs, width=16, max_bytes=128),
            MM.image_decode_stats_sql("_ed", width=16, max_bytes=128),
        ),
        (
            MM.png_decode_stats(docs, width=8, max_bytes=120),
            MM.png_decode_stats_sql("_ed", width=8, max_bytes=120),
        ),
        (
            MM.audio_decode_stats(docs, rate=16_000, max_bytes=128),
            MM.audio_decode_stats_sql("_ed", rate=16_000, max_bytes=128),
        ),
    ]:
        got = spark_fn.toPandas().sort_values("doc_id", ignore_index=True)
        want = duck.execute(sql).df().sort_values("doc_id", ignore_index=True)
        got = got[sorted(got.columns)].astype("int64")
        want = want[sorted(want.columns)].astype("int64")
        pd.testing.assert_frame_equal(got, want)
        empty = got[got.doc_id == 2].iloc[0]
        assert empty.drop("doc_id").sum() in (0, 16_000)  # audio keeps rate


def test_video_decode_stats_max_bytes_lockstep(spark):
    """ADVICE r8: non-default max_bytes must fail loudly and
    consistently in BOTH twins (the frame shape is fixed 2x4x4x3)."""
    docs = spark.createDataFrame([(1, "abc")], "doc_id bigint, text string")
    with pytest.raises(ValueError, match="max_bytes == 96"):
        MM.video_decode_stats(docs, max_bytes=48)
    with pytest.raises(ValueError, match="max_bytes == 96"):
        MM.video_decode_stats_sql("documents", max_bytes=48)


# ---------------------------------------------------------------------------
# PII detect / redact
# ---------------------------------------------------------------------------

def test_pii_redaction_semantics(spark):
    from mpes_spark.extras import text as TX

    rows = [
        ("mail bob.smith+x@corp.example.org now", 1, 0, 0),
        ("call 415-555-0134 or 415-555-0199", 0, 2, 0),
        ("ssn 123-45-6789 on file", 0, 0, 1),
        ("plain text with 1234-5678", 0, 0, 0),
        ("a@b.io and 000-11-2222 and 800-555-1000", 1, 1, 1),
    ]
    df = spark.createDataFrame(
        [(t,) for t, *_ in rows], "text string"
    ).withColumns(
        {
            "e": TX.pii_count_expr("email", "text"),
            "p": TX.pii_count_expr("phone", "text"),
            "s": TX.pii_count_expr("ssn", "text"),
            "red": TX.redact_pii_expr("text"),
        }
    )
    got = df.collect()
    for r, (txt, e, p, s) in zip(got, rows):
        assert (r.e, r.p, r.s) == (e, p, s), txt
        # redaction removes every detected span and only those
        if e:
            assert "@" not in r.red
        for tag, n in (("<EMAIL>", e), ("<PHONE>", p), ("<SSN>", s)):
            assert r.red.count(tag) == n, (txt, r.red)


def test_dup_ngram_fraction(spark):
    from mpes_spark.extras import text as TX

    rows = [
        # "a b a b a" -> 2-grams: ab, ba, ab, ba -> 2 distinct of 4 -> 0.5
        ("a b a b a", 0.5),
        ("x y z", 0.0),          # all distinct
        ("w w w w", 2.0 / 3.0),  # ww x3 -> 1 distinct of 3
        ("solo", 0.0),           # fewer tokens than n
    ]
    df = spark.createDataFrame([(t,) for t, _ in rows], "text string")
    got = df.select(TX.dup_ngram_fraction_expr(2, "text").alias("f")).collect()
    for r, (txt, want) in zip(got, rows):
        assert abs(r.f - round(want, 6)) < 1e-9, txt


# ---------------------------------------------------------------------------
# chunk dedup + sequence packing
# ---------------------------------------------------------------------------

def test_chunk_dedup_min_tokens_guard(spark):
    """The synthetic corpus repeats phrases, so full chunks do collide
    across docs; raising min_tokens past chunk size must exempt every
    chunk (ragged tails included) and empty the result."""
    from mpes_spark.extras import curation as CU

    some = CU.chunk_dedup_stats(_docs(spark), chunk_tokens=16).count()
    assert some > 0
    none = CU.chunk_dedup_stats(
        _docs(spark), chunk_tokens=16, min_tokens=17
    ).count()
    assert none == 0


def test_chunk_dedup_full_copy_loses_everything(spark):
    from mpes_spark.extras import curation as CU

    d = _docs(spark).limit(20)
    clone = d.filter(F.col("doc_id") == 3).withColumn("doc_id", F.lit(777))
    out = CU.chunk_dedup_stats(d.unionByName(clone), chunk_tokens=16)
    rows = {r.doc_id: r for r in out.collect()}
    # the clone pair must be present and fully deduplicated; other docs
    # may legitimately appear via naturally repeated phrases
    assert {3, 777} <= set(rows)
    for did in (3, 777):
        r = rows[did]
        assert r.n_dup_chunks == r.n_chunks and r.tokens_kept == 0
    for r in rows.values():
        assert 1 <= r.n_dup_chunks <= r.n_chunks
        assert r.tokens_kept >= 0


def test_pack_sequences_stream_is_contiguous(spark):
    """Two-phase cumsum must tile the token stream exactly: doc i+1
    starts where doc i ends, starting from 0, for any bucket count."""
    from mpes_spark.extras import curation as CU

    d = _docs(spark)
    for buckets in (1, 7):
        out = CU.pack_sequences(d, seq_tokens=64, buckets=buckets).orderBy(
            "doc_id"
        ).collect()
        pos = 0
        for r in out:
            assert r.start_tok == pos
            assert r.seq_first == pos // 64
            assert r.seq_last == (pos + r.n_tokens - 1) // 64
            pos += r.n_tokens


# ---------------------------------------------------------------------------
# CorpusPipeline facade
# ---------------------------------------------------------------------------

def test_corpus_pipeline_end_to_end(spark):
    """The full curation recipe must run as one lazy chain and shrink
    the corpus monotonically at each filtering step, with the final
    shapes matching the underlying operators called directly."""
    from mpes_spark.extras.curation import token_budget_sample
    from mpes_spark.extras.pipeline import CorpusPipeline

    d = _docs(spark)
    clone = d.filter(F.col("doc_id") % 9 == 0).withColumn(
        "doc_id", F.col("doc_id") + 40_000
    )
    corpus = d.unionByName(clone)
    bench = d.filter(F.col("doc_id") % 50 == 0)

    p0 = CorpusPipeline(corpus)
    n0 = p0.df.count()
    p1 = p0.quality_filter()
    n1 = p1.df.count()
    assert 0 < n1 < n0
    p2 = p1.dedup_exact()
    n2 = p2.df.count()
    assert 0 < n2 <= n1
    # no duplicate fingerprints survive
    from mpes_spark.extras.text import fingerprint_expr
    assert (
        p2.df.groupBy(fingerprint_expr("text")).count().filter("count > 1").count()
        == 0
    )
    p3 = p2.decontaminate(bench)
    n3 = p3.df.count()
    assert 0 < n3 <= n2
    # benchmark docs themselves cannot survive decontamination
    assert p3.df.join(bench, "doc_id", "left_semi").count() == 0
    p4 = p3.sample_budget(400)
    ids_direct = {
        r.doc_id for r in token_budget_sample(p3.df, 400).select("doc_id").collect()
    }
    assert {r.doc_id for r in p4.df.select("doc_id").collect()} == ids_direct
    # terminal shapes
    packed = p4.pack(seq_tokens=64, buckets=3).collect()
    assert sum(r.n_tokens for r in packed) == p4.count_tokens()
    chunks = p4.chunk(chunk_tokens=32)
    assert chunks.select("doc_id").distinct().count() == len(
        {r.doc_id for r in packed}
    )


def test_corpus_pipeline_pin_identity(spark):
    """pin() is a pure materialization point: the pinned chain must
    return EXACTLY the rows of the unpinned chain (r11 — the
    corpus_recipe_e2e gate runs the pinned form, so result-identity
    with the lazy form is the optimization's safety contract)."""
    from mpes_spark.extras.pipeline import CorpusPipeline

    d = _docs(spark)
    base = (
        CorpusPipeline(d)
        .quality_filter()
        .dedup_exact()
        .sample_quota(5, "source")
        .df.select("doc_id", "source")
    )
    pinned = (
        CorpusPipeline(d)
        .quality_filter()
        .pin()
        .dedup_exact()
        .pin()
        .sample_quota(5, "source")
        .df.select("doc_id", "source")
    )
    rows_a = sorted((r.doc_id, r.source) for r in base.collect())
    rows_b = sorted((r.doc_id, r.source) for r in pinned.collect())
    assert rows_a == rows_b and rows_a
    spark.catalog.clearCache()


def test_corpus_pipeline_redact_and_lang(spark):
    from mpes_spark.extras.pipeline import CorpusPipeline

    d = _docs(spark).limit(30).withColumn(
        "text", F.concat(F.col("text"), F.lit(" mail me: a@b.co"))
    )
    p = CorpusPipeline(d).redact_pii()
    assert p.df.filter(F.col("text").contains("@")).count() == 0
    assert p.df.filter(F.col("text").contains("<EMAIL>")).count() == 30
    en = CorpusPipeline(d).lang_filter("en").df.count()
    assert 0 < en <= 30


# ---------------------------------------------------------------------------
# connected components / duplicate clusters
# ---------------------------------------------------------------------------

def test_connected_components_transitive_chain(spark):
    """A 12-node path graph must collapse to ONE cluster labelled by
    its min node (pointer jumping has to cross the whole chain), and
    disjoint edges must stay separate clusters."""
    chain = [(i, i + 1) for i in range(100, 111)]
    other = [(500, 501), (501, 502), (900, 910)]
    pairs = spark.createDataFrame(chain + other, ["id_a", "id_b"])
    cc = {
        r.doc_id: r.cluster_id
        for r in DD.connected_components(pairs, driver_edge_limit=0).collect()
    }
    assert {cc[i] for i in range(100, 112)} == {100}
    assert {cc[i] for i in (500, 501, 502)} == {500}
    assert cc[900] == cc[910] == 900
    summ = {
        r.cluster_id: (r.n_docs, r.max_id)
        for r in DD.cluster_summary(DD.connected_components(pairs)).collect()
    }
    assert summ == {100: (12, 111), 500: (3, 502), 900: (2, 910)}


def test_connected_components_merges_bridged_clusters(spark):
    """Two dense groups bridged by a single edge form one component."""
    g1 = [(1, 2), (2, 3), (1, 3)]
    g2 = [(10, 11), (11, 12)]
    bridge = [(3, 10)]
    pairs = spark.createDataFrame(g1 + g2 + bridge, ["id_a", "id_b"])
    cc = DD.connected_components(pairs, driver_edge_limit=0)
    assert cc.select("cluster_id").distinct().collect()[0][0] == 1
    assert cc.count() == 6


def test_corpus_pipeline_dedup_near_transitive(spark):
    """dedup_near keeps exactly one doc per near-dup cluster: a doc,
    a light edit of it, and a light edit of the edit (A~B~C) leave one
    survivor — the min id — even though A~C may be below threshold."""
    from mpes_spark.extras.pipeline import CorpusPipeline

    base = _docs(spark).filter(F.col("doc_id") < 40)
    edit1 = base.withColumn("doc_id", F.col("doc_id") + 1000)
    edit2 = base.withColumn("doc_id", F.col("doc_id") + 2000).withColumn(
        "text", F.concat(F.col("text"), F.lit(" tail token drift"))
    )
    corpus = base.unionByName(edit1).unionByName(edit2)
    out = CorpusPipeline(corpus).dedup_near(threshold=0.3)
    ids = {r.doc_id for r in out.df.select("doc_id").collect()}
    base_ids = {r.doc_id for r in base.select("doc_id").collect()}
    # every edit chains to its base via A~B~C, so only base-range ids
    # survive (possibly fewer, if base docs are themselves near-dups)
    assert ids <= base_ids and len(ids) > 0
    # survivors are mutually non-near-dup: re-running finds no pairs
    assert DD.minhash_neardup_pairs(out.df, threshold=0.3).count() == 0


def test_corpus_pipeline_dedup_near_dual(spark):
    """dedup_near_dual folds containment-only duplicates (a short doc
    embedded verbatim in a long one — Jaccard far below threshold)
    into the same clusters Jaccard edges form: the embedded short doc
    is dropped, its id being larger than the long doc's."""
    from mpes_spark.extras.pipeline import CorpusPipeline

    rows = [
        (1, "quick brown fox jumps over the lazy dog near the river"),
        (2, "quick brown fox jumps over the lazy dog near the creek"),
        (
            3,
            "alpha beta gamma delta epsilon zeta preface filler words "
            "surround the short document completely padding more terms "
            "extra vocab",
        ),
        (4, "alpha beta gamma delta epsilon zeta"),  # embedded in 3
        (5, "standalone content sharing nothing with any other doc"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = CorpusPipeline(docs).dedup_near_dual(
        jaccard_threshold=0.6, containment_threshold=0.9, n=1
    )
    ids = {r.doc_id for r in out.df.select("doc_id").collect()}
    # 2 drops via Jaccard edge to 1; 4 drops via containment edge to 3
    assert ids == {1, 3, 5}
    # the report exposes both verdicts for the surviving corpus: none
    rep = CorpusPipeline(out.df).neardup_report(
        jaccard_threshold=0.6, containment_threshold=0.9, n=1
    )
    assert rep.count() == 0


# ---------------------------------------------------------------------------
# BM25 search + LM perplexity
# ---------------------------------------------------------------------------

def test_bm25_ranks_term_density(spark):
    """A doc saturated with query terms outranks a doc with one hit;
    docs with no query term never appear."""
    from mpes_spark.extras import search as SR

    rows = [
        (1, "scan join window merge scan join scan", "en", "s", 0),
        (2, "scan pencil orange grape apple lemon peach", "en", "s", 0),
        (3, "pencil orange grape apple lemon peach plum", "en", "s", 0),
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    out = SR.bm25_topk(d, terms=("scan", "join", "window", "merge"), k=10).collect()
    ids = [r.doc_id for r in out]
    assert ids[0] == 1 and 3 not in ids
    assert out[0].bm25 > out[1].bm25 > 0


def test_lm_perplexity_orders_fluency(spark):
    """Docs made of one repeated (perfectly predictable) bigram score
    far lower perplexity than docs of all-unique bigrams."""
    from mpes_spark.extras import search as SR

    fluent = [(i, "the cat " * 20 + "the cat", "en", "fluent", 0) for i in range(5)]
    vocab = [chr(97 + a) + chr(97 + b) for a in range(26) for b in range(26)]
    noisy = [
        (100 + i, " ".join(vocab[i * 40 : (i + 1) * 40]), "en", "noisy", 0)
        for i in range(5)
    ]
    d = spark.createDataFrame(fluent + noisy, ["doc_id", "text", "lang", "source", "n_chars"])
    out = {r.source: r for r in SR.lm_perplexity_by_source(d).collect()}
    assert out["fluent"].avg_ppl < out["noisy"].avg_ppl / 3
    assert out["fluent"].n_docs == out["noisy"].n_docs == 5


def test_lm_perplexity_skips_single_token_docs(spark):
    from mpes_spark.extras import search as SR

    rows = [(1, "solo", "en", "s", 0), (2, "two tokens here", "en", "s", 0)]
    d = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    out = SR.lm_perplexity_by_source(d).collect()
    assert len(out) == 1 and out[0].n_docs == 1


# ---------------------------------------------------------------------------
# product quantization
# ---------------------------------------------------------------------------

def test_pq_recall_vs_brute_force(spark):
    """PQ with shortlist re-rank must recover the exact top-1 for
    most queries; the raw ADC stage alone is only a shortlist
    generator on this near-isotropic corpus (by design — see the
    pq_topk_cosine docstring)."""
    e = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 8)
    books = SIM.train_pq_codebooks(e, m=8, ksub=16, sample_rows=2000, iters=8, seed=7)
    exact = {r.query_id: r.neighbor_id for r in SIM.topk_cosine(e, q, k=1).collect()}
    rer = SIM.pq_topk_cosine(e, q, books, k=3, rerank=100).collect()
    top1 = {r.query_id: r.neighbor_id for r in rer if r.rank == 1}
    hits1 = sum(top1.get(qq) == nn for qq, nn in exact.items())
    assert hits1 >= len(exact) * 3 // 4
    # re-ranked scores are EXACT cosines: they must match the brute-
    # force cosine for the same (query, neighbor) pairs
    bf = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in SIM.topk_cosine(e, q, k=3).collect()
    }
    for r in rer:
        if (r.query_id, r.neighbor_id) in bf:
            assert abs(r.cosine - bf[(r.query_id, r.neighbor_id)]) < 1e-9
    # ADC-only path still returns plausible bounded scores
    adc = SIM.pq_topk_cosine(e, q, books, k=3).collect()
    assert all(-1.1 <= r.adc_score <= 1.1 for r in adc)


def test_pq_encode_shape_and_determinism(spark):
    e = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").limit(50)
    books = SIM.train_pq_codebooks(e, m=8, ksub=4, sample_rows=50, iters=4, seed=3)
    assert books.shape == (8, 4, 8)
    enc1 = {r.vec_id: list(r.codes) for r in SIM.pq_encode(e, books).collect()}
    enc2 = {r.vec_id: list(r.codes) for r in SIM.pq_encode(e, books).collect()}
    assert enc1 == enc2
    assert all(len(c) == 8 and all(0 <= x < 4 for x in c) for c in enc1.values())


def test_connected_components_random_graph_vs_union_find(spark):
    """Randomized cross-check: on a seeded random graph (mixed dense
    blobs, long chains, isolated edges) the distributed labelling must
    equal a driver-side union-find exactly."""
    import random

    rng = random.Random(42)
    edges = set()
    # dense blobs
    for blob in range(5):
        nodes = [1000 * blob + i for i in range(rng.randint(3, 12))]
        for _ in range(len(nodes) * 2):
            a, b = rng.sample(nodes, 2)
            edges.add((min(a, b), max(a, b)))
    # long chains (stress pointer jumping)
    for c in range(3):
        start = 50_000 + 100 * c
        for i in range(rng.randint(15, 30)):
            edges.add((start + i, start + i + 1))
    # random sparse edges across a wide id space
    for _ in range(60):
        a, b = rng.sample(range(100_000, 100_400), 2)
        edges.add((min(a, b), max(a, b)))

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {n: find(n) for n in parent}

    pairs = spark.createDataFrame(sorted(edges), ["id_a", "id_b"])
    # force the DISTRIBUTED tier (the default would pick the driver
    # union-find for a graph this small — that tier IS this oracle)
    got = {
        r.doc_id: r.cluster_id
        for r in DD.connected_components(pairs, driver_edge_limit=0).collect()
    }
    assert got == expected
    small = {
        r.doc_id: r.cluster_id for r in DD.connected_components(pairs).collect()
    }
    assert small == expected


# ---------------------------------------------------------------------------
# BPE tokenizer
# ---------------------------------------------------------------------------

def test_bpe_learns_sennrich_subwords(spark):
    """Classic BPE corpus (low/lower/newest/widest): training must be
    deterministic, learn 'est</w>' and 'low' as units, and encode the
    UNSEEN word 'lowest' as low + est</w> — subword generalization."""
    from mpes_spark.extras import tokenizer as TK

    rows = [(0, " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3))]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    merges = TK.train_bpe(d, n_merges=12)
    assert merges == TK.train_bpe(d, n_merges=12)  # deterministic
    assert ("e", "st</w>") in merges and ("l", "ow") in merges
    ranks = {tuple(m): i for i, m in enumerate(merges)}
    assert TK._encode_word("lowest", ranks) == ["low", "est</w>"]
    assert TK._encode_word("newest", ranks) == ["newest</w>"]


def test_bpe_encode_roundtrip_and_compression(spark):
    """Token arrays must reassemble the original text exactly, and
    more merges must never increase the token count."""
    from mpes_spark.extras import tokenizer as TK

    d = _docs(spark).limit(40)
    m10 = TK.train_bpe(d, n_merges=10)
    m80 = TK.train_bpe(d, n_merges=80)
    assert m80[:10] == m10  # merge list is prefix-stable
    enc = TK.bpe_encode_udf(spark.sparkContext, m80)
    out = d.select("doc_id", "text", enc(F.col("text")).alias("toks")).collect()
    for r in out:
        rebuilt = "".join(r.toks).replace(TK.END_OF_WORD, " ").rstrip()
        assert rebuilt == " ".join(w for w in r.text.split(" ") if w)
    n10 = TK.bpe_token_stats(d, m10).agg(F.sum("n_tokens")).collect()[0][0]
    n80 = TK.bpe_token_stats(d, m80).agg(F.sum("n_tokens")).collect()[0][0]
    assert n80 < n10


def test_bpe_unrolled_sql_matches_driver_loop_on_overlap_chains(spark):
    """train_bpe_sql's parity-based merge application must equal the
    driver loop's greedy leftmost-non-overlapping scan on the
    adversarial case: same-symbol runs ('aaaa' -> (aa)(aa), 'aaa' ->
    (aa)a), plus a mid-chain stop (best pair count < 2) that the SQL
    no-ops through while Python breaks."""
    import duckdb
    import pandas as pd

    from mpes_spark.extras import tokenizer as TK

    corpora = [
        # overlap chains: 'aaaa' x4, 'aaa' x3, 'aab' x2
        "aaaa aaaa aaaa aaaa aaa aaa aaa aab aab",
        # stop case: tiny vocab exhausts repeating pairs before 12
        "ab ab cd",
        # sennrich classic
        " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6),
    ]
    for text in corpora:
        d = spark.createDataFrame([(0, text)], "doc_id long, text string")
        merges = TK.train_bpe(d, n_merges=12, max_words=None)
        want = [(i + 1, a, b) for i, (a, b) in enumerate(merges)]
        con = duckdb.connect()
        con.register("documents", pd.DataFrame({"text": [text]}))
        got = [
            (int(r[0]), r[1], r[2])
            for r in con.execute(
                TK.train_bpe_sql("documents", n_merges=12)
            ).fetchall()
        ]
        assert sorted(got) == sorted(want), text


def test_ivfpq_recall_vs_brute_force(spark):
    """The composed IVFADC stack (IVF prune -> ADC shortlist -> exact
    re-rank) must recover most true top-1 neighbors, and with
    nprobe=all-lists + deep re-rank must equal brute force exactly."""
    e = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 6)
    cent = SIM.train_ivf_centroids(e, k=4, sample_rows=2000, iters=6, seed=7)
    books = SIM.train_pq_codebooks(e, m=8, ksub=16, sample_rows=2000, iters=8, seed=7)
    exact = {r.query_id: r.neighbor_id for r in SIM.topk_cosine(e, q, k=1).collect()}
    full = {
        r.query_id: r.neighbor_id
        for r in SIM.ivfpq_topk_cosine(
            e, q, cent, books, k=1, nprobe=4, rerank=500
        ).collect()
    }
    assert full == exact  # all lists + full-depth re-rank == brute force
    pruned = {
        r.query_id: r.neighbor_id
        for r in SIM.ivfpq_topk_cosine(
            e, q, cent, books, k=1, nprobe=2, rerank=100
        ).collect()
    }
    hits = sum(pruned.get(qq) == nn for qq, nn in exact.items())
    assert hits >= len(exact) // 2


def test_corpus_pipeline_quality_quantile(spark):
    """The adaptive gate must keep ~(1-q) of each source and never a
    doc scoring below a kept doc of the same source."""
    from mpes_spark.extras.pipeline import CorpusPipeline
    from mpes_spark.extras.text import quality_score_expr

    d = _docs(spark)
    out = CorpusPipeline(d).quality_quantile(q=0.5).df
    per_src = {
        r.source: (r.kept, r.total)
        for r in out.groupBy("source")
        .agg(F.count(F.lit(1)).alias("kept"))
        .join(
            d.groupBy("source").agg(F.count(F.lit(1)).alias("total")), "source"
        )
        .collect()
    }
    for src, (kept, total) in per_src.items():
        assert total // 2 <= kept <= total // 2 + 2
    # no kept doc scores below the max dropped score of its source
    scored = d.select(
        "doc_id", "source", quality_score_expr("text").alias("s")
    )
    kept_ids = {r.doc_id for r in out.select("doc_id").collect()}
    rows = scored.collect()
    for src in per_src:
        kept_s = [r.s for r in rows if r.source == src and r.doc_id in kept_ids]
        drop_s = [r.s for r in rows if r.source == src and r.doc_id not in kept_ids]
        if kept_s and drop_s:
            assert min(kept_s) >= max(drop_s) - 1e-9


def test_winnow_catches_misaligned_shared_span(spark):
    """The winnowing guarantee: a shared span of >= w + k - 1 chars is
    caught even when its offsets in the two docs differ (the failure
    mode of strided windows). Docs with no shared span stay clean."""
    boiler = "subscribe to our newsletter today"  # 33 chars >= 16+8-1
    rows = [
        (1, "x" * 5 + boiler + " unique alpha bravo charlie tail one"),
        (2, "yyy yy " + boiler + " other words entirely here two"),
        (3, "completely different text with no common span at all three"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in DD.winnow_dup_stats(df, k=16, w=8).collect()}
    assert out[1].dup_fps >= 1 and out[2].dup_fps >= 1
    assert out[3].dup_fps == 0
    for r in out.values():
        assert r.n_fps >= 1 and 0.0 <= r.dup_fraction <= 1.0


def test_winnow_density_and_short_doc_boundary(spark):
    """Winnowing keeps ~2/(w+1) of positions, and docs shorter than
    w + k - 1 produce no fingerprints at all."""
    long_text = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(1, long_text), (2, "tiny doc")]  # 8 chars < 23
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = DD.winnow_fingerprints(df, k=16, w=8).collect()
    ids = {r.doc_id for r in fps}
    assert 2 not in ids
    n_positions = len(long_text) - 16 + 1
    n_fps = sum(1 for r in fps if r.doc_id == 1)
    assert 1 <= n_fps <= n_positions // 2  # far below all-positions


def test_quality_classifier_matches_numpy(spark):
    """Spark's hash-kernel score replays in pure python: md5 bucket
    (seed 11, first 15 hex chars) -> weight -> mean; keep <=> mean>=0."""
    import hashlib

    from mpes_spark.extras import curation as CU

    rows = [(1, "alpha bravo charlie"), (2, "delta echo"), (3, "zulu")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in CU.quality_classifier(df).collect()}
    wts = CU.classifier_weights()
    for doc_id, text in rows:
        toks = text.split(" ")
        buckets = [
            int(hashlib.md5(f"11|{t}".encode()).hexdigest()[:15], 16) % 64
            for t in toks
        ]
        mean = sum(wts[b] for b in buckets) / len(toks)
        got = out[doc_id]
        assert got.n_tokens == len(toks)
        assert abs(got.score - round(mean, 6)) < 1e-9
        assert got.keep == (mean >= 0)


def test_corpus_pipeline_importance_selection(spark):
    """select_by_importance keeps the docs whose content matches the
    target slice's vocabulary and drops out-of-domain content."""
    import pandas as pd

    from mpes_spark.extras.pipeline import CorpusPipeline

    tgt = "alpha beta gamma delta " * 8
    oth = "uno dos tres cuatro " * 8
    rows = (
        [(i, tgt.strip(), "en", "s0") for i in range(8)]
        + [(50 + i, oth.strip(), "de", "s0") for i in range(8)]
        + [(900, tgt.strip(), "de", "s0")]  # target-like content, wrong label
    )
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"])
    )
    kept = {
        r["doc_id"]
        for r in CorpusPipeline(df).select_by_importance().df.collect()
    }
    assert 900 in kept and 0 in kept
    assert not any(50 <= d < 58 for d in kept)


def test_url_normalize_canonicalizes(spark):
    """URL canonical key: case/port/www/fragment/trailing-slash noise
    and tracking params must all collapse; surviving params sort; the
    transform is idempotent (normalizing a normal form is a no-op)."""
    from mpes_spark.extras.curation import url_normalize_expr

    cases = [
        ("HTTPS://WWW.Site.COM:443/a/b/?b=2&utm_medium=x&a=1#frag",
         "https://site.com/a/b?a=1&b=2"),
        ("http://site.com:80/a", "http://site.com/a"),
        ("site.com/path/", "https://site.com/path"),  # scheme defaulted
        ("https://site.com/?fbclid=abc&ref=tw", "https://site.com"),
        ("https://site.com", "https://site.com"),
    ]
    df = spark.createDataFrame([(r,) for r, _ in cases], "url string")
    got = [
        r["c"]
        for r in df.select(url_normalize_expr("url").alias("c")).collect()
    ]
    assert got == [want for _, want in cases]
    # idempotence
    df2 = spark.createDataFrame([(g,) for g in got], "url string")
    again = [
        r["c"]
        for r in df2.select(url_normalize_expr("url").alias("c")).collect()
    ]
    assert again == got


def test_url_dedup_groups(spark):
    from mpes_spark.extras.curation import url_dedup

    rows = [
        (1, "https://a.com/x?utm_source=f"),
        (2, "HTTPS://WWW.A.com/x/"),
        (3, "https://a.com/x?q=1"),  # different canon (real param)
        (4, "https://b.com/y"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r["canon_url"]: (r["n_docs"], r["keep_id"]) for r in url_dedup(df).collect()}
    assert got == {"https://a.com/x": (2, 1)}


def test_url_normalize_fuzz_idempotent_and_parity(spark, duck):
    """Property fuzz over structured random URLs: the Spark and DuckDB
    canonicalizers agree exactly, and both are idempotent. Runs the
    pair as data batches (one Spark job, one DuckDB query) instead of
    hypothesis-per-example so the property holds over hundreds of
    cases at test-suite cost."""
    import random

    from mpes_spark.extras.curation import url_normalize_expr, url_normalize_sql

    rng = random.Random(7)
    schemes = ["https://", "HTTP://", "", "hTTps://"]
    hosts = ["WWW.Site.com", "site.com", "a.b.example.ORG:443", "x.io:80", "x.io:8080"]
    paths = ["", "/", "/a", "/a/b/", "/a//b///"]
    params = ["", "?a=1", "?b=2&a=1", "?utm_source=x&a=1", "?fbclid=1",
              "?ref=tw&z=9&y=8", "?a=1&a=0"]
    frags = ["", "#x", "#a/b?c=1"]
    urls = [
        rng.choice(schemes) + rng.choice(hosts) + rng.choice(paths)
        + rng.choice(params) + rng.choice(frags)
        for _ in range(300)
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [r["c"] for r in df.select(url_normalize_expr("url").alias("c")).collect()]
    vals = ", ".join(f"({u!r})" for u in urls)
    want = [
        r[0]
        for r in duck.execute(
            f"SELECT {url_normalize_sql('u')} FROM (VALUES {vals}) t(u)"
        ).fetchall()
    ]
    assert got == want
    df2 = spark.createDataFrame([(g,) for g in got], "url string")
    again = [r["c"] for r in df2.select(url_normalize_expr("url").alias("c")).collect()]
    assert again == got


def test_corpus_pipeline_dedup_against(spark):
    """dedup_against drops exactly the batch docs near-duplicating a
    corpus doc; batch-internal duplicates survive (they are the
    self-join's job, not the ingest check's)."""
    from mpes_spark.extras.pipeline import CorpusPipeline

    corpus = spark.createDataFrame(
        [
            (1, "quick brown fox jumps over the lazy dog"),
            (2, "unrelated corpus content matching no batch doc"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (100, "quick brown fox jumps over the lazy dog"),  # dup of 1
            (101, "entirely fresh tokens appear here now"),
            (102, "entirely fresh tokens appear here now"),  # batch-internal
        ],
        "doc_id long, text string",
    )
    out = CorpusPipeline(batch).dedup_against(corpus, threshold=0.6, n=1)
    ids = {r.doc_id for r in out.df.select("doc_id").collect()}
    assert ids == {101, 102}


def test_balanced_shards_balance_and_exactness(spark):
    """Serpentine token-balanced sharding: (a) the two-phase global
    rank is a permutation 1..N with distinct ranks, (b) every shard
    gets within one doc of N/S docs, (c) token totals are tight —
    max-min spread under 2x the largest doc (serpentine pairs large
    with small per pass pair) and far tighter than hash sharding on
    a skewed corpus."""
    from pyspark.sql import functions as F

    from mpes_spark.extras.curation import balanced_shards, shard_balance

    # skewed sizes: a few giants, many small docs
    rows = [
        (i, " ".join(f"w{j}" for j in range(50 if i < 8 else 3)))
        for i in range(200)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    per = balanced_shards(docs, n_shards=8).collect()
    ranks = sorted(r["rank"] for r in per)
    assert ranks == list(range(1, 201))
    bal = {r["shard"]: r for r in shard_balance(docs, n_shards=8).collect()}
    assert set(bal) == set(range(8))
    ndocs = [bal[s]["n_docs"] for s in range(8)]
    assert max(ndocs) - min(ndocs) <= 1
    totals = [bal[s]["total_tokens"] for s in range(8)]
    max_doc = max(50, 3)
    assert max(totals) - min(totals) < 2 * max_doc, totals
    # hash sharding for contrast: the 8 giants can collide
    hashed = (
        docs.select(
            (F.abs(F.hash("doc_id")) % 8).alias("shard"),
            F.size(F.split("text", " ")).alias("n"),
        )
        .groupBy("shard")
        .agg(F.sum("n").alias("tot"))
        .collect()
    )
    spread_hash = max(r["tot"] for r in hashed) - min(r["tot"] for r in hashed)
    assert max(totals) - min(totals) <= spread_hash


def test_curation_audit_first_failing_stage(spark):
    """The audit verdict is the FIRST failing stage under the
    canonical order (exact_dup -> wordcount -> meanlen -> stopword ->
    dup2gram); a doc failing several rules reports the earliest, the
    canonical copy of a dup group is NOT exact_dup, and
    n_rules_failed counts all failures regardless of attribution."""
    from mpes_spark.extras.curation import curation_audit

    good = (
        "the quick brown fox jumps over a lazy dog and then runs far "
        "away into green fields where it meets another friendly fox "
        "and they play all day long under warm sun light"
    )
    rows = [
        (1, "a", good),                 # kept
        (2, "a", good),                 # exact dup of 1 (even though
                                        # it also passes every rule)
        (3, "a", "short text only"),    # fails wordcount (first) +
                                        # stopword? 'only'... and dup2
        (4, "b", good + " extra"),      # kept, distinct fingerprint
    ]
    out = {
        r["doc_id"]: (r["verdict"], r["n_rules_failed"])
        for r in curation_audit(
            spark.createDataFrame(rows, "doc_id long, source string, text string")
        ).collect()
    }
    assert out[1][0] == "kept" and out[1][1] == 0
    assert out[2][0] == "exact_dup" and out[2][1] == 1
    assert out[3][0] == "wordcount" and out[3][1] >= 1
    assert out[4][0] == "kept"


def test_corpus_pipeline_dedup_url(spark):
    from mpes_spark.extras.pipeline import CorpusPipeline

    rows = [
        (1, "a text", "https://a.com/x?utm_source=f"),
        (2, "b text", "HTTPS://WWW.A.com/x/"),
        (3, "c text", "https://a.com/y"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, url string")
    out = CorpusPipeline(df).dedup_url()
    assert {r.doc_id for r in out.df.collect()} == {1, 3}
    assert set(out.df.columns) == {"doc_id", "text", "url"}
    # corpora without a url column pass through untouched
    no_url = CorpusPipeline(df.drop("url")).dedup_url()
    assert no_url.df.count() == 3


def test_perplexity_buckets_equal_split(spark):
    """ntile buckets are balanced per language (sizes differ by at
    most 1) and bucket 1 (head) has the lowest average perplexity."""
    from mpes_spark.extras import search as SR

    out = SR.perplexity_buckets(_docs(spark), nbuckets=3).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rows in by_lang.items():
        sizes = [r.n_docs for r in rows]
        assert max(sizes) - min(sizes) <= 1, (lang, sizes)
        ordered = sorted(rows, key=lambda r: r.bucket)
        assert ordered[0].avg_ppl <= ordered[-1].avg_ppl


def test_temperature_mix_limits(spark):
    """alpha=1 reproduces proportional token shares; alpha=0 is
    uniform; weights always sum to ~1."""
    from mpes_spark.extras import curation as CU

    d = _docs(spark)
    prop = CU.temperature_mix_weights(d, alpha=1.0).collect()
    for r in prop:
        assert abs(r.weight - r.p_tokens) < 2e-6
    uni = CU.temperature_mix_weights(d, alpha=0.0).collect()
    assert max(abs(r.weight - 1.0 / len(uni)) for r in uni) < 2e-6
    assert abs(sum(r.weight for r in uni) - 1.0) < 1e-4


def test_tfidf_topk_rank_semantics(spark):
    """Exactly k rows per doc (for docs with >= k distinct terms),
    ranks 1..k, scores non-increasing within a doc."""
    from mpes_spark.extras import search as SR

    out = SR.tfidf_topk(_docs(spark).limit(30), k=3).collect()
    per = {}
    for r in out:
        per.setdefault(r.doc_id, []).append(r)
    for doc, rows in per.items():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        scores = [r.score for r in rows]
        assert scores == sorted(scores, reverse=True)
        assert len(rows) <= 3


def test_corpus_pipeline_perplexity_and_temperature(spark):
    """perplexity_filter drops the per-lang tail bucket;
    sample_by_temperature respects each group's computed budget."""
    from mpes_spark.extras import curation as CU
    from mpes_spark.extras.pipeline import CorpusPipeline

    d = _docs(spark)
    n0 = d.count()
    kept = CorpusPipeline(d).perplexity_filter(keep_buckets=2, nbuckets=3).df
    nk = kept.count()
    # ~2/3 survive (docs with < 2 tokens never get a ppl and drop too)
    assert 0 < nk < n0
    assert nk <= 2 * n0 // 3 + d.select("lang").distinct().count()

    p = CorpusPipeline(d).sample_by_temperature(token_budget=5_000, alpha=0.3)
    budgets = {
        r.source: r.budget_tokens
        for r in CU.temperature_mix_weights(d, 0.3, 5_000).collect()
    }
    got = (
        p.df.groupBy("source")
        .agg(F.sum(F.size(F.split("text", " "))).alias("toks"))
        .collect()
    )
    for r in got:
        assert r.toks <= budgets[r.source], (r.source, r.toks, budgets[r.source])


def test_weighted_sample_quota_and_tilt(spark):
    """A-ES keeps exactly min(k, group size) rows per group, and the
    inclusion probability tilts toward the heavy weights: with one doc
    carrying ~1000x the mass of 50 light docs, the heavy doc must be
    sampled (P(miss) < 1e-10 under A-ES)."""
    from mpes_spark.extras import curation as CU

    rows = [(0, "s", 100_000)] + [(i, "s", 100) for i in range(1, 51)]
    d = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    out = CU.weighted_sample(d, k=5).toPandas()
    assert len(out) == 5
    assert 0 in set(out["doc_id"])
    assert sorted(out["rank"]) == [1, 2, 3, 4, 5]
    # zero/negative weights carry no mass and never appear
    d2 = spark.createDataFrame(
        [(1, "s", 0), (2, "s", -5), (3, "s", 10)],
        "doc_id long, source string, n_chars long",
    )
    out2 = CU.weighted_sample(d2, k=5).toPandas()
    assert set(out2["doc_id"]) == {3}


def test_pmi_ranks_planted_collocation(spark):
    """A pair that ALWAYS co-occurs ("neural network") outranks pairs
    of independently-shuffled filler words, and the PMI value matches
    the closed form ln(c_xy * t_uni^2 / (t_bi * c_x * c_y))."""
    import math

    from mpes_spark.extras import search as SR

    filler = ["the", "a", "of", "data", "table", "row"]
    rows = []
    for i in range(40):
        words = [filler[(i + j) % len(filler)] for j in range(6)]
        words[i % 5] = "neural"
        words.insert(i % 5 + 1, "network")
        rows.append((i, " ".join(words)))
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = SR.pmi_topk(d, k=5, min_count=5).toPandas()
    assert list(out.iloc[0][["w1", "w2"]]) == ["neural", "network"]
    toks = [w for _, t in rows for w in t.split(" ")]
    bigrams = [
        (a, b) for _, t in rows for a, b in zip(t.split(" "), t.split(" ")[1:])
    ]
    c_xy = bigrams.count(("neural", "network"))
    expect = math.log(
        (c_xy / len(bigrams))
        / ((toks.count("neural") / len(toks)) * (toks.count("network") / len(toks)))
    )
    assert abs(out.iloc[0]["pmi"] - round(expect, 6)) < 1e-6


def test_corpus_pipeline_sample_weighted(spark):
    """The facade's weighted step is a semi-join of exactly the ids
    the underlying A-ES sampler picks, and respects the per-group k."""
    from mpes_spark.extras import curation as CU
    from mpes_spark.extras.pipeline import CorpusPipeline

    d = _docs(spark)
    p = CorpusPipeline(d).sample_weighted(k=4)
    ids_direct = {r.doc_id for r in CU.weighted_sample(d, 4).collect()}
    assert {r.doc_id for r in p.df.select("doc_id").collect()} == ids_direct
    per = p.df.groupBy("source").count().toPandas()
    assert (per["count"] <= 4).all()


def test_hybrid_rrf_composes_both_arms(spark):
    """RRF output equals the hand-fused combination of the two arm
    operators run directly: 1/(60+rank_bm25) + 1/(60+rank_cos), docs
    missing from one list contributing zero from it."""
    from mpes_spark.extras import search as SR
    from mpes_spark.extras import similarity as SIM
    from tests.conftest import SF_SMALL

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    embs = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    depth = 15
    b = SR.bm25_topk(docs, k=depth).toPandas()
    b = b.sort_values(["bm25", "doc_id"], ascending=[False, True]).reset_index(drop=True)
    rank_b = {r.doc_id: i + 1 for i, r in b.iterrows()}
    c = SIM.topk_cosine(embs, embs.filter("vec_id = 0"), k=depth).toPandas()
    rank_c = dict(zip(c["neighbor_id"], c["rank"]))
    want = {
        d: round(
            (1.0 / (60 + rank_b[d]) if d in rank_b else 0.0)
            + (1.0 / (60 + rank_c[d]) if d in rank_c else 0.0),
            6,
        )
        for d in set(rank_b) | set(rank_c)
    }
    top = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:8]
    got = SR.hybrid_rrf(docs, embs, k=8, depth=depth).toPandas()
    assert [(r.doc_id, r.rrf) for r in got.itertuples()] == top


def test_dataset_split_leakage_free_and_proportions(spark):
    from mpes_spark.extras.curation import dataset_split

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    # grouped: every row of a source lands in ONE split — no leakage
    by_src = dataset_split(docs, by="source")
    per_src = by_src.groupBy("source").agg(
        F.countDistinct("split").alias("k")
    )
    assert per_src.filter(F.col("k") > 1).count() == 0
    # per-row: proportions approach the 90/5/5 target
    per_row = dataset_split(docs)
    n = docs.count()
    got = {
        r["split"]: r["c"] / n
        for r in per_row.groupBy("split").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    assert abs(got.get("train", 0) - 0.9) < 0.05
    assert abs(got.get("val", 0) - 0.05) < 0.03
    assert abs(got.get("test", 0) - 0.05) < 0.03
    # deterministic: same input -> identical assignment
    a = {r["doc_id"]: r["split"] for r in per_row.select("doc_id", "split").collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in dataset_split(docs).select("doc_id", "split").collect()
    }
    assert a == b
    with pytest.raises(ValueError, match="sum to 1"):
        dataset_split(docs, fractions=(("a", 0.5), ("b", 0.2)))


def test_canonical_by_quality_keeps_best(spark):
    from mpes_spark.extras.dedup import canonical_by_quality

    docs = spark.createDataFrame(
        [
            (1, 100),  # cluster {1,2,3}: 2 has the most chars -> wins
            (2, 300),
            (3, 200),
            (10, 50),  # cluster {10,11}: tie -> lower id wins
            (11, 50),
            (99, 999),  # singleton: never appears in output
        ],
        "doc_id long, n_chars long",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    rows = {
        r["cluster_id"]: r
        for r in canonical_by_quality(docs, pairs).collect()
    }
    assert set(rows) == {1, 10}
    assert rows[1]["canonical_id"] == 2
    assert rows[1]["canonical_quality"] == 300
    assert rows[1]["n_docs"] == 3 and rows[1]["total_quality"] == 600
    assert rows[10]["canonical_id"] == 10  # tie -> ascending id
    assert rows[10]["n_docs"] == 2


def test_pool_embeddings_hand_computed(spark):
    from mpes_spark.extras.similarity import pool_embeddings

    df = spark.createDataFrame(
        [("a", [1.0, 2.0]), ("a", [3.0, 4.0]), ("b", [10.0, 20.0])],
        "label string, embedding array<float>",
    )
    got = {
        (r["label"], r["pos"]): (r["pooled"], r["n_vectors"])
        for r in pool_embeddings(df, group="label").collect()
    }
    assert got == {
        ("a", 0): (2.0, 2),
        ("a", 1): (3.0, 2),
        ("b", 0): (10.0, 1),
        ("b", 1): (20.0, 1),
    }


def test_profile_columns_semantics(spark):
    from mpes_spark.dq import profile_columns

    df = spark.createDataFrame(
        [(1, "x", 10.0), (2, "x", None), (None, "y", 30.0)],
        "id bigint, s string, v double",
    )
    rep = {
        (r["column"], r["metric"]): r["value"]
        for r in profile_columns(df).collect()
    }
    assert rep[("id", "n_rows")] == 3.0
    assert rep[("id", "n_null")] == 1.0
    assert rep[("id", "n_distinct")] == 2.0
    assert rep[("id", "mean")] == 1.5
    assert rep[("s", "n_distinct")] == 2.0
    assert ("s", "mean") not in rep  # string column: counts only
    assert rep[("v", "min")] == 10.0 and rep[("v", "max")] == 30.0
    with pytest.raises(ValueError, match="not in"):
        profile_columns(df, ["nope"])


def test_retrieval_metrics_hand_computed(spark):
    """recall@k / RR@k / nDCG@k against a worked example."""
    import math

    from mpes_spark.extras.search import retrieval_metrics

    # q1: relevant docs {10, 11, 12}; top-3 ranking hits 10 at rank 1
    # and 12 at rank 3 -> recall 2/3, RR 1, DCG = 1/log2(2) + 1/log2(4),
    # IDCG = 1/log2(2) + 1/log2(3) + 1/log2(4)
    # q2: relevant {20}; ranking never finds it -> all zeros
    ranking = spark.createDataFrame(
        [(1, 10, 1), (1, 99, 2), (1, 12, 3), (2, 98, 1), (2, 97, 2)],
        "query_id long, neighbor_id long, rank long",
    )
    rel = spark.createDataFrame(
        [(1, 10, 1.0), (1, 11, 1.0), (1, 12, 1.0), (2, 20, 1.0)],
        "query_id long, neighbor_id long, rel double",
    )
    got = {
        r["query_id"]: r
        for r in retrieval_metrics(ranking, rel, k=3).collect()
    }
    dcg = 1 / math.log2(2) + 1 / math.log2(4)
    idcg = 1 / math.log2(2) + 1 / math.log2(3) + 1 / math.log2(4)
    assert got[1]["n_rel"] == 3
    assert got[1]["recall_k"] == pytest.approx(2 / 3, abs=1e-6)
    assert got[1]["rr_k"] == 1.0
    assert got[1]["ndcg_k"] == pytest.approx(dcg / idcg, abs=1e-6)
    assert got[2]["recall_k"] == 0.0
    assert got[2]["rr_k"] == 0.0
    assert got[2]["ndcg_k"] == 0.0


def test_mmr_rerank_numpy_replay(spark):
    """The distributed MMR selection must match an independent numpy
    replay of the greedy exactly (selection order, ids, scores)."""
    import numpy as np

    from mpes_spark.extras.similarity import mmr_rerank, topk_cosine

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 4)
    cand = topk_cosine(e, q, k=15).join(
        e.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")),
        "neighbor_id",
    )
    lam = 0.7
    got = {
        (r["query_id"], r["mmr_rank"]): (r["neighbor_id"], r["mmr_score"])
        for r in mmr_rerank(cand, k=5, lam=lam).collect()
    }
    rows = cand.select("query_id", "neighbor_id", "cosine", "cv").collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    want = {}
    for qid, rs in by_q.items():
        rs = sorted(rs, key=lambda r: (-r["cosine"], r["neighbor_id"]))
        V = np.asarray([np.asarray(r["cv"], dtype="float64") for r in rs])
        U = V / np.linalg.norm(V, axis=1)[:, None]
        sims = U @ U.T
        rel = np.array([r["cosine"] for r in rs])
        sel, rem = [], np.ones(len(rs), bool)
        for rank in range(1, 6):
            max_sim = sims[:, sel].max(axis=1) if sel else np.zeros(len(rs))
            mmr = lam * rel - (1 - lam) * max_sim
            mmr[~rem] = -np.inf
            i = int(np.argmax(mmr))
            sel.append(i)
            rem[i] = False
            want[(qid, rank)] = (rs[i]["neighbor_id"], round(float(mmr[i]), 6))
    assert got == want
    # diversity sanity: rank-1 is always the raw top-1 (no penalty yet)
    for qid, rs in by_q.items():
        top1 = min(rs, key=lambda r: (-r["cosine"], r["neighbor_id"]))
        assert got[(qid, 1)][0] == top1["neighbor_id"]


def test_mmr_rerank_unrolled_empty_candidates(spark):
    """Empty candidates must yield an empty typed result, not a
    `VALUES ` SQL parse error (ADVICE r6)."""
    from mpes_spark.extras.similarity import mmr_rerank_unrolled

    empty = spark.createDataFrame(
        [], "query_id long, neighbor_id long, cosine double, "
        "cv array<double>",
    )
    out = mmr_rerank_unrolled(empty, k=3, lam=0.7)
    assert out.collect() == []
    assert [f.name for f in out.schema.fields] == [
        "query_id", "neighbor_id", "mmr_rank", "mmr_score",
    ]


def test_kmeans_fixed_separates_clusters(spark):
    from mpes_spark.extras.cluster import kmeans_fixed

    # two tight blobs; ids 0 and 1 (the k=2 init seeds) sit one in each
    rows = [(0, [0.0, 0.0]), (1, [10.0, 10.0])]
    rows += [(i, [0.0 + (i % 3) * 0.1, 0.1]) for i in range(2, 12)]
    rows += [(i, [10.0 - (i % 3) * 0.1, 9.9]) for i in range(12, 22)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = kmeans_fixed(df, k=2, iters=2).collect()
    by_cid = {}
    for r in out:
        by_cid.setdefault(r["cid"], {})[r["pos"]] = (r["centroid"], r["n_points"])
    assert set(by_cid) == {0, 1}
    # cluster 0 near the origin blob, cluster 1 near (10, 10); 11 each
    assert by_cid[0][0][1] == 11 and by_cid[1][0][1] == 11
    assert abs(by_cid[0][0][0]) < 0.5 and abs(by_cid[1][0][0] - 10) < 0.5
    assert abs(by_cid[0][1][0]) < 0.5 and abs(by_cid[1][1][0] - 10) < 0.5


def test_contrastive_pairs_semantics(spark):
    """Positives share the anchor's label, negatives don't; hard
    negatives are the HIGHEST-cosine impostors; per-anchor quotas."""
    from mpes_spark.extras.similarity import contrastive_pairs

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    labels = {r["vec_id"]: r["label"] for r in e.select("vec_id", "label").collect()}
    out = contrastive_pairs(
        e, e.filter(F.col("vec_id") < 4), pos_per_anchor=2, neg_per_anchor=3
    ).collect()
    by_anchor = {}
    for r in out:
        by_anchor.setdefault(r["query_id"], []).append(r)
    assert set(by_anchor) == {0, 1, 2, 3}
    for qid, rows in by_anchor.items():
        pos = [r for r in rows if r["is_positive"] == 1]
        neg = [r for r in rows if r["is_positive"] == 0]
        assert len(pos) == 2 and len(neg) == 3
        for r in pos:
            assert labels[r["cand_id"]] == labels[qid]
        for r in neg:
            assert labels[r["cand_id"]] != labels[qid]
        # hard negatives: ranked by descending cosine
        neg_sorted = sorted(neg, key=lambda r: r["pair_rank"])
        cosines = [r["cosine"] for r in neg_sorted]
        assert cosines == sorted(cosines, reverse=True)


def test_vocab_coverage_hand_computed(spark):
    from mpes_spark.extras.tokenizer import vocab_coverage

    docs = spark.createDataFrame(
        [
            ("a", "x x x y"),   # source a: tokens x*3 y*1
            ("a", "x z"),       # + x z  -> a: x*4 y z
            ("b", "q q y"),     # source b: q*2 y
        ],
        "source string, text string",
    )
    # vocab_size=2 -> top-2 tokens by count: x(4), q(2)... y(2)? counts:
    # x=4, q=2, y=2, z=1 -> tie q/y broken by token text: q < y -> vocab={x, q}
    out = {r["source"]: r for r in vocab_coverage(docs, vocab_size=2).collect()}
    a, b = out["a"], out["b"]
    assert a["n_tokens"] == 6 and a["n_oov_tokens"] == 2  # y, z OOV
    assert a["oov_token_rate"] == pytest.approx(2 / 6, abs=1e-6)
    assert a["n_types"] == 3 and a["n_oov_types"] == 2
    assert b["n_tokens"] == 3 and b["n_oov_tokens"] == 1  # y OOV
    assert b["n_types"] == 2 and b["n_oov_types"] == 1


def test_cross_source_dup_matrix_hand_computed(spark):
    from mpes_spark.extras.dedup import cross_source_dup_matrix

    docs = spark.createDataFrame(
        [(1, "cc"), (2, "wiki"), (3, "cc"), (4, "books")],
        "doc_id long, source string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "id_a long, id_b long"
    )
    got = {
        (r["source_a"], r["source_b"]): (r["n_pairs"], r["n_docs_a"], r["n_docs_b"])
        for r in cross_source_dup_matrix(docs, pairs).collect()
    }
    # (1,2): cc-wiki; (2,3): wiki-cc -> sorted cc-wiki; (1,3): cc-cc
    assert got[("cc", "wiki")] == (2, 2, 1)  # docs 1,3 on cc side; doc 2 wiki
    assert got[("cc", "cc")] == (1, 1, 1)
    assert ("books", "cc") not in got  # doc 4 in no pair


def test_stupid_backoff_tiers_fire(spark):
    """Held-out scoring must exercise the backoff chain: construct a
    train set and a test doc whose trigrams hit tier1 (seen trigram),
    tier2 (unseen trigram, seen bigram), tier3 (unseen bigram, seen
    unigram), and the OOV floor — and verify each score factor."""
    import math

    from pyspark.sql import functions as F
    from mpes_spark.extras.search import stupid_backoff_scores

    # choose ids whose hash split puts train/test where we need them
    from mpes_spark.extras.dedup import _md5_hash_sql
    from mpes_spark.extras.search import _SB_SEED

    ids = spark.range(200).select(
        F.col("id"),
        (F.pmod(F.expr(_md5_hash_sql(_SB_SEED, "CAST(id AS STRING)", "spark")), F.lit(10)) == 0).alias("is_test"),
    ).collect()
    train_ids = [r.id for r in ids if not r.is_test]
    test_ids = [r.id for r in ids if r.is_test]
    assert train_ids and test_ids

    train_text = "a b c d"          # trigrams: "a b c", "b c d"
    # test doc: "a b c" tier1; "b c x" -> unseen tri, unseen bigram
    # "c x" but x seen? x unseen anywhere -> OOV floor on tier4;
    # "c d a" -> unseen tri ("c d a"), seen bigram? "d a" unseen ->
    # tier3 via unigram a.
    test_text = "a b c d a"         # tris: "a b c"(t1) "b c d"(t1) "c d a"(t3)
    rows = [(int(train_ids[0]), train_text), (int(test_ids[0]), test_text)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = stupid_backoff_scores(docs).collect()
    assert len(out) == 1 and out[0].n_trigrams == 3
    # expected: t1: c3/c12 = 1/1 twice; t3: 0.4^2 * c('a')/N = .16*1/4
    want = (math.log(1.0) + math.log(1.0) + math.log(0.16 * 1 / 4.0)) / 3
    assert abs(out[0].avg_logscore - round(want, 6)) < 1e-9


def test_jl_projection_preserves_distances(spark):
    """JL lemma sanity at loose tolerance: with k=32 on unit-ish
    random vectors, projected pairwise distances track originals
    within a generous band for most pairs."""
    import numpy as np

    from mpes_spark.extras.similarity import jl_project

    rs = np.random.RandomState(5)
    vecs = rs.normal(size=(40, 64))
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = jl_project(df, k=32).collect()
    proj = {r.vec_id: np.array([r[f"p{j}"] for j in range(32)]) for r in out}
    ratios = []
    for i in range(0, 40, 3):
        for j in range(i + 1, 40, 7):
            d0 = np.linalg.norm(vecs[i] - vecs[j])
            d1 = np.linalg.norm(proj[i] - proj[j])
            ratios.append(d1 / d0)
    ratios = np.array(ratios)
    assert 0.8 < np.median(ratios) < 1.2
    assert (np.abs(ratios - 1) < 0.6).mean() > 0.9


def test_contrastive_pairs_ann_recall_vs_exact(spark):
    """ANN-backed contrastive mining vs the exact broadcast miner:
    every ANN pair must be a true (label-correct, cosine-correct)
    pair from the exact scored set, and recall of the exact miner's
    pairs must clear the LSH design bound. Planes are seeded, so
    recall is deterministic — the bound pins it."""
    from mpes_spark.extras.similarity import (
        contrastive_pairs,
        contrastive_pairs_ann,
        hyperplanes,
    )

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 8)
    planes = hyperplanes(dim=64, nplanes=24, seed=11)
    exact = contrastive_pairs(e, q).collect()
    ann = contrastive_pairs_ann(e, q, planes, bands=8).collect()

    labels = {r["vec_id"]: r["label"] for r in e.select("vec_id", "label").collect()}
    exact_keys = {(r["query_id"], r["cand_id"]) for r in exact}
    exact_cos = {
        (r["query_id"], r["cand_id"]): r["cosine"] for r in exact
    }
    for r in ann:
        # label polarity must be truthful
        assert r["is_positive"] == int(
            labels[r["cand_id"]] == labels[r["query_id"]]
        )
        # if the exact miner also kept this pair, cosines must agree
        k = (r["query_id"], r["cand_id"])
        if k in exact_cos:
            assert r["cosine"] == exact_cos[k]
        # quotas hold per (anchor, polarity)
        assert r["pair_rank"] <= (3 if r["is_positive"] == 1 else 5)

    ann_keys = {(r["query_id"], r["cand_id"]) for r in ann}
    recall = len(ann_keys & exact_keys) / len(exact_keys)
    # deterministic on the seeded planes; 8 bands x 3 planes measured
    # 0.922 at sf0.01 (synthetic embeddings are near-orthogonal, so
    # narrow bands are needed for recall on ~0.3-cosine "hard"
    # negatives) — assert a floor with margin
    assert recall >= 0.85, f"recall {recall:.3f}"


def test_containment_catches_embedded_doc_jaccard_misses(spark):
    """The motivating case: a short doc quoted verbatim inside a long
    one has containment 1.0 but tiny Jaccard — blocked_containment
    must surface the pair at a threshold where blocked_jaccard does
    not."""
    from mpes_spark.extras.dedup import (
        blocked_containment_sql,
        blocked_jaccard_sql,
    )

    short = "alpha beta gamma delta epsilon"
    long_ = short + " " + " ".join(f"w{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, short), (2, long_), (3, "zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    docs.createOrReplaceTempView("cont_docs")
    cont = spark.sql(
        blocked_containment_sql("cont_docs", "spark", n=3, block_tokens=2,
                                threshold=0.9)
    ).collect()
    jac = spark.sql(
        blocked_jaccard_sql("cont_docs", "spark", n=3, block_tokens=2,
                            threshold=0.9)
    ).collect()
    # doc1 (3 shingles) fully contained in doc2 -> containment 1.0
    assert [(r["id_a"], r["id_b"], r["containment"]) for r in cont] == [
        (1, 2, 1.0)
    ]
    # Jaccard for the same pair = 3 / 63 ~= 0.048 -> absent at 0.9
    assert jac == []


def test_ngram_novelty_hand_computed(spark):
    from mpes_spark.extras.dedup import ngram_novelty

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),        # shingles: "a b c", "b c d"
            (2, "a b c e"),        # shingles: "a b c", "b c e"
            (3, "x y z q"),        # shingles: "x y z", "y z q" (all unique)
            (4, "a b"),            # < n tokens: absent from output
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in ngram_novelty(docs, n=3).collect()}
    assert set(out) == {1, 2, 3}
    # "a b c" occurs in docs 1 and 2 -> df=2; each doc's other shingle
    # is unique -> novelty 1/2
    assert out[1]["n_shingles"] == 2 and out[1]["n_unique"] == 1
    assert out[1]["novelty"] == 0.5
    assert out[2]["n_shingles"] == 2 and out[2]["n_unique"] == 1
    assert out[3]["n_shingles"] == 2 and out[3]["n_unique"] == 2
    assert out[3]["novelty"] == 1.0


def test_byte_accumulators_tie_to_float_features(spark):
    """The gated integer accumulators and the float feature path must
    describe the same computation: extract_features' feat[j] ==
    round(acc_j / n_bytes, 6) for every asset."""
    from mpes_spark.extras.multimodal import (
        assets_from_documents,
        byte_accumulators,
        extract_features,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assets = assets_from_documents(docs)
    feats = {
        r["asset_id"]: r for r in extract_features(assets, dim=8).collect()
    }
    accs = {r["asset_id"]: r for r in byte_accumulators(assets, dim=8).collect()}
    assert set(feats) == set(accs)
    for aid, fr in feats.items():
        ar = accs[aid]
        assert fr["n_bytes"] == ar["n_bytes"]
        assert fr["checksum"] == ar["checksum"]
        for j in range(8):
            assert fr["feat"][j] == round(ar[f"acc{j}"] / ar["n_bytes"], 6)


def test_prefix_filter_complete_vs_brute_force(spark):
    """Prefix filtering is COMPLETE for Jaccard >= t: the
    prefix-filtered join must return exactly the pairs a brute-force
    all-pairs token-set Jaccard finds — no recall trade (the property
    that separates it from LSH)."""
    import itertools

    from mpes_spark.extras.dedup import prefix_filtered_pairs

    rows = [
        (1, "quick brown fox jumps over the lazy dog"),
        (2, "quick brown fox jumps over the lazy cat"),       # ~0.8 vs 1
        (3, "quick brown fox leaps over the lazy dog today"),  # high vs 1
        (4, "entirely different tokens appear here now"),
        (5, "entirely different tokens appear here now"),      # exact dup of 4
        (6, "the dog and the cat share stopwords only"),
        (7, "quick brown fox jumps over the lazy dog"),        # exact dup of 1
        (8, "alpha beta gamma delta"),
        (9, "alpha beta gamma epsilon zeta"),
    ]
    t = 0.5
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in prefix_filtered_pairs(docs, threshold=t, n=1).collect()
    }
    # brute force over all pairs in python
    sets = {i: set(s.split()) for i, s in rows}
    want = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        if j >= t:
            want[(a, b)] = round(j, 6)
    assert want, "fixture must produce matching pairs"
    assert got == want

    # shingle mode (n=3): same completeness property on 3-gram sets
    got3 = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in prefix_filtered_pairs(docs, threshold=t, n=3).collect()
    }
    def sh3(text):
        ws = text.split()
        return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}
    sets3 = {i: sh3(s) for i, s in rows if len(s.split()) >= 3}
    want3 = {}
    for a, b in itertools.combinations(sorted(sets3), 2):
        j = len(sets3[a] & sets3[b]) / len(sets3[a] | sets3[b])
        if j >= t:
            want3[(a, b)] = round(j, 6)
    assert want3, "fixture must produce matching shingle pairs"
    assert got3 == want3


def test_prefix_join_cross_relation_complete(spark):
    """prefix_filtered_join (R-S form) returns exactly the
    brute-force cross-relation Jaccard pairs: union-df global order +
    per-side prefixes lose nothing — including a batch doc whose only
    match sits in the corpus and vice versa; within-relation dups
    must NOT pair."""
    from mpes_spark.extras.dedup import prefix_filtered_join

    batch_rows = [
        (100, "quick brown fox jumps over the lazy dog"),
        (101, "entirely different tokens appear here now"),
        (102, "alpha beta gamma delta epsilon"),
        (103, "alpha beta gamma delta epsilon"),  # dup WITHIN batch
    ]
    corpus_rows = [
        (1, "quick brown fox jumps over the lazy cat"),
        (2, "entirely different tokens appear here now"),
        (3, "unrelated corpus content matching no batch doc"),
        (4, "quick brown fox jumps over the lazy dog"),
    ]
    t = 0.5
    batch = spark.createDataFrame(batch_rows, "doc_id long, text string")
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in prefix_filtered_join(
            batch, corpus, threshold=t, n=1
        ).collect()
    }
    bs = {i: set(s.split()) for i, s in batch_rows}
    cs = {i: set(s.split()) for i, s in corpus_rows}
    want = {}
    for a, sa in bs.items():
        for b, sb in cs.items():
            j = len(sa & sb) / len(sa | sb)
            if j >= t:
                want[(a, b)] = round(j, 6)
    assert want, "fixture must produce matching pairs"
    assert (103, 102) not in got and (102, 103) not in got
    assert got == want


def test_dual_measure_complete_vs_brute_force(spark):
    """prefix_dual_pairs is COMPLETE for both measures at once: the
    one-sided prefix join (prefix(A) vs full(B), t_eff = min(tj, tc))
    must return exactly the pairs brute-force all-pairs finds with
    Jaccard >= tj OR containment >= tc — including the embedded-doc
    case (short doc inside a long one: Jaccard ~ na/nb small,
    containment 1.0), which a two-sided prefix join can miss."""
    import itertools

    from mpes_spark.extras.dedup import prefix_dual_pairs

    rows = [
        (1, "quick brown fox jumps over the lazy dog"),
        (2, "quick brown fox jumps over the lazy cat"),
        (3, "entirely different tokens appear here now"),
        (4, "entirely different tokens appear here now"),
        # 5 embeds 6 verbatim inside a much longer doc: token-set
        # Jaccard 6/20 = 0.3 < tj, containment 1.0 >= tc
        (
            5,
            "alpha beta gamma delta epsilon zeta preface filler words "
            "surround the short document completely padding more terms "
            "extra vocab",
        ),
        (6, "alpha beta gamma delta epsilon zeta"),
        (7, "unrelated content that matches nothing else at all"),
        (8, "quick brown fox jumps over the lazy dog"),
    ]
    tj, tc = 0.5, 0.9
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): (
            r["jaccard"], r["containment"], r["jaccard_dup"],
            r["containment_dup"],
        )
        for r in prefix_dual_pairs(
            docs, jaccard_threshold=tj, containment_threshold=tc, n=1
        ).collect()
    }
    sets = {i: set(s.split()) for i, s in rows}
    want = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        icnt = len(sets[a] & sets[b])
        if not icnt:
            continue
        j = icnt / len(sets[a] | sets[b])
        c = icnt / min(len(sets[a]), len(sets[b]))
        if j >= tj or c >= tc:
            want[(a, b)] = (
                round(j, 6), round(c, 6), int(j >= tj), int(c >= tc)
            )
    assert want, "fixture must produce matching pairs"
    # the embedded-doc pair must be present and containment-only
    assert want[(5, 6)][2:] == (0, 1)
    assert got == want


def test_rouge_n_hand_computed(spark):
    """Worked ROUGE-2 example with clipping: candidate repeats a
    reference bigram — the clip counts it min(cnt_ref, cnt_cand)
    times, not cnt_cand times."""
    from mpes_spark.extras.search import rouge_n

    pairs = spark.createDataFrame(
        [
            # ref bigrams: {the cat:1, cat sat:1, sat down:1}
            # cand bigrams: {the cat:2, cat the:1} -> clip(the cat)=1
            (1, "the cat sat down", "the cat the cat"),
            # identical texts -> P = R = F1 = 1
            (2, "a b c", "a b c"),
            # disjoint -> overlap 0, f1 defined as 0
            (3, "x y z", "p q r"),
        ],
        "pair_id long, ref_text string, cand_text string",
    )
    out = {r["pair_id"]: r for r in rouge_n(pairs, n=2).collect()}
    r1 = out[1]
    assert (r1["overlap"], r1["total_ref"], r1["total_cand"]) == (1, 3, 3)
    assert r1["rouge_recall"] == round(1 / 3, 6)
    assert out[2]["rouge_f1"] == 1.0
    assert out[3]["overlap"] == 0 and out[3]["rouge_f1"] == 0.0


def test_domain_cap_semantics(spark):
    from mpes_spark.extras.curation import domain_cap

    rows = [(i, "s1" if i < 10 else "s2", 100 - i) for i in range(14)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    out = domain_cap(docs, cap=3).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r["doc_id"])
    # s1 keeps its 3 largest n_chars = lowest doc_ids 0,1,2; s2 has 4
    # docs (10..13), keeps 10,11,12
    assert sorted(by_src["s1"]) == [0, 1, 2]
    assert sorted(by_src["s2"]) == [10, 11, 12]
    assert all(r["keep_rank"] <= 3 for r in out)


def test_bleu2_hand_computed(spark):
    """Worked BLEU-2: clipped precisions over CANDIDATE totals, mul+
    sqrt geometric mean, exp brevity penalty on short candidates."""
    from mpes_spark.extras.search import bleu2

    pairs = spark.createDataFrame(
        [
            # cand unigrams the:2 cat:2 -> ov1 = 1+1 = 2 of tot1 4;
            # cand bigrams {the cat:2, cat the:1} -> ov2 = 1 of 3
            (1, "the cat sat down", "the cat the cat"),
            (2, "a b c", "a b c"),  # identical -> 1.0
            (3, "x y z", "p q r"),  # disjoint -> 0.0
            # perfect precision, short candidate: bp = exp(1 - 6/3)
            (4, "a b c d e f", "a b c"),
        ],
        "pair_id long, ref_text string, cand_text string",
    )
    out = {r["pair_id"]: r for r in bleu2(pairs).collect()}
    r1 = out[1]
    assert (r1["ov1"], r1["tot1"], r1["ov2"], r1["tot2"]) == (2, 4, 1, 3)
    assert r1["brevity_penalty"] == 1.0
    import math

    want = math.floor(math.sqrt(0.5 * (1 / 3)) * 1e6 + 0.5) / 1e6
    assert r1["bleu2"] == want
    assert out[2]["bleu2"] == 1.0
    assert out[3]["bleu2"] == 0.0
    r4 = out[4]
    bp = math.floor(math.exp(1 - 6 / 3) * 1e6 + 0.5) / 1e6
    assert r4["brevity_penalty"] == bp
    assert r4["bleu2"] == bp  # p1 = p2 = 1


def test_blocked_best_match_recall_and_passes(spark):
    """Every planted corruption resolves under two-pass blocking;
    a single pass misses exactly the mentions whose corrupted char
    falls inside that pass's block key."""
    from pyspark.sql import functions as F

    from mpes_spark.extras.linkage import blocked_best_match

    names = {
        1: "abcd1234wxyz",
        2: "efgh5678stuv",
        3: "ijkl9012qrst",
        4: "mnop3456uvwx",
    }
    canon = spark.createDataFrame(
        list(names.items()), "canon_id long, canon_name string"
    )
    # corrupt position 2 (inside left block), 6 (middle), 10 (right)
    def corrupt(s, p):
        return s[: p - 1] + "z" + s[p:]

    mentions = spark.createDataFrame(
        [
            (101, corrupt(names[1], 2)),
            (102, corrupt(names[2], 6)),
            (103, corrupt(names[3], 10)),
        ],
        "mention_id long, mention_name string",
    )
    left = lambda n: F.substring(n, 1, 4)  # noqa: E731
    right = lambda n: F.substring(n, 9, 4)  # noqa: E731
    both = blocked_best_match(mentions, canon, [left, right], max_dist=3)
    got = {r["mention_id"]: r["canon_id"] for r in both.collect()}
    assert got == {101: 1, 102: 2, 103: 3}
    assert all(
        r["lev_dist"] == 1 for r in both.collect()
    )
    # left-only blocking loses the left-corrupted mention
    only_left = blocked_best_match(mentions, canon, [left], max_dist=3)
    got_l = {r["mention_id"]: r["canon_id"] for r in only_left.collect()}
    assert got_l == {102: 2, 103: 3}


def test_blocked_best_match_block_cap(spark):
    """Oversized blocks are dropped BEFORE the join: with a cap of 2,
    a 3-member canonical block generates no candidates at all."""
    from pyspark.sql import functions as F

    from mpes_spark.extras.linkage import blocked_best_match

    canon = spark.createDataFrame(
        [(1, "aaaa1111"), (2, "aaaa2222"), (3, "aaaa3333"), (4, "bbbb4444")],
        "canon_id long, canon_name string",
    )
    mentions = spark.createDataFrame(
        [(10, "aaaa1112"), (11, "bbbb4445")],
        "mention_id long, mention_name string",
    )
    left = lambda n: F.substring(n, 1, 4)  # noqa: E731
    capped = blocked_best_match(
        mentions, canon, [left], max_dist=3, max_block=2
    )
    got = {r["mention_id"]: r["canon_id"] for r in capped.collect()}
    assert got == {11: 4}  # the aaaa block (3 > 2) was skipped


def test_pca_components_orthonormal_and_variance_ordered(spark):
    """PCA axes from the parquet solver are orthonormal with
    descending projected variance, and the Spark projection matches a
    numpy projection to the rounding grid."""
    import numpy as np
    import pyarrow.parquet as pq

    from mpes_spark.extras.similarity import (
        pca_components_from_parquet,
        pca_project,
    )
    from tests.conftest import SF_SMALL

    path = f"{SF_SMALL}/embeddings.parquet"
    comps, mu = pca_components_from_parquet(path, k=4)
    assert np.allclose(comps @ comps.T, np.eye(4), atol=1e-10)

    pdf = pq.read_table(path).to_pandas().sort_values("vec_id")
    X = np.stack(pdf["embedding"].to_numpy()).astype("float64")
    P = (X - mu) @ comps.T
    v = P.var(axis=0)
    assert all(v[i] >= v[i + 1] - 1e-12 for i in range(3)), v

    e = spark.read.parquet(path)
    got = {
        r["vec_id"]: [r[f"p{j}"] for j in range(4)]
        for r in pca_project(e, comps, mu).collect()
    }
    ids = pdf["vec_id"].to_numpy()
    for i in range(0, len(ids), 97):
        want = [round(float(x), 6) for x in P[i]]
        assert got[int(ids[i])] == pytest.approx(want, abs=2e-6)


def test_multiprobe_recall_dominates_single_probe(spark):
    """Multi-probe LSH must recall at least as much of the exact
    top-k as single-probe on every query (its candidate set is a
    strict superset: own bucket ∪ Hamming-1 flips), and strictly
    more in aggregate on this corpus — otherwise the probes buy
    nothing and the operator is mislabeled."""
    from mpes_spark.extras.registry import _PLANES
    from mpes_spark.extras.similarity import (
        ann_lsh_cosine,
        ann_multiprobe_cosine,
        topk_cosine,
    )
    from tests.conftest import SF_SMALL

    e = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 16)
    k = 5

    def retrieved(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    exact = retrieved(topk_cosine(e, q, k=k))
    single = retrieved(ann_lsh_cosine(e, q, _PLANES, k=k))
    multi = retrieved(ann_multiprobe_cosine(e, q, _PLANES, k=k))

    def recall(approx):
        num = sum(len(approx.get(qid, set()) & ex) for qid, ex in exact.items())
        den = sum(len(ex) for ex in exact.values())
        return num / den

    r_single, r_multi = recall(single), recall(multi)
    for qid, ex in exact.items():
        assert len(multi.get(qid, set()) & ex) >= len(
            single.get(qid, set()) & ex
        ), qid
    assert r_multi > r_single, (r_single, r_multi)


def test_weighted_jaccard_repetition_aware(spark):
    """The bag measure must separate what the set measure cannot: a
    doc repeating a template 5x has set Jaccard 1.0 against a single
    copy, but weighted Jaccard n/(5n) ~ 0.2."""
    from mpes_spark.extras.dedup import (
        blocked_jaccard_pairs,
        blocked_weighted_jaccard,
    )

    tmpl = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, tmpl),
        (2, " ".join([tmpl] * 5)),
        (3, "unrelated words entirely different content here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    setj = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in blocked_jaccard_pairs(
            docs, n=3, block_tokens=2, threshold=0.1
        ).collect()
    }
    bagj = {
        (r["id_a"], r["id_b"]): r["weighted_jaccard"]
        for r in blocked_weighted_jaccard(
            docs, n=3, block_tokens=2, threshold=0.1
        ).collect()
    }
    # set view: repetition invisible (the repeated doc's distinct
    # 3-gram set contains the single copy's — near-1 similarity)
    assert setj[(1, 2)] > 0.3
    # bag view: the 5x repetition drops similarity to ~ n/(5n+bridges)
    assert bagj[(1, 2)] < setj[(1, 2)] / 2
    assert (1, 3) not in bagj


def test_quantizer_refresh_drift_trigger(spark):
    """IVF quantizer maintenance (r8): stable distribution -> no
    retrain; shifted distribution -> error breaches the threshold,
    retrain fires, and the refreshed quantizer's error on the new
    distribution drops back to (near) its baseline."""
    import numpy as np

    from mpes_spark.extras.similarity import quantizer_error, quantizer_refresh

    rng = np.random.default_rng(3)
    dim = 8

    def corpus(center, n=400, start=0):
        rows = [
            (start + i, (center + rng.normal(0, 0.05, dim)).tolist())
            for i in range(n)
        ]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    a = corpus(np.zeros(dim))
    st = quantizer_refresh(a, None, k=4, sample_rows=400, iters=5)
    assert st["retrained"] and st["generation"] == 0

    # same distribution again: no retrain
    a2 = corpus(np.zeros(dim), start=1000)
    st2 = quantizer_refresh(a2, st, k=4, sample_rows=400, iters=5)
    assert not st2["retrained"]
    assert st2["generation"] == 0

    # shifted distribution: drift trips, quantizer refreshes
    b = corpus(np.full(dim, 5.0), start=2000)
    st3 = quantizer_refresh(b, st2, k=4, sample_rows=400, iters=5)
    assert st3["retrained"] and st3["generation"] == 1
    assert st3["err"] > (1.25) * st2["baseline_err"]  # what tripped it
    # refreshed centroids actually fit the new distribution
    post = quantizer_error(b, st3["centroids"], sample_rows=400)
    assert post < 0.2 * st3["err"]


def test_dup_span_mask_removes_planted_passage(spark):
    """Exact substring dedup (r8): a passage planted verbatim into
    several docs is detected as one maximal span per host doc and
    dup_span_mask removes exactly those tokens, leaving unique text
    intact (and the marker mode collapses each span to one marker)."""
    from mpes_spark.extras.dedup import dup_span_mask, dup_span_stats, dup_spans

    passage = "the quick brown fox jumps over the lazy dog tonight"  # 10 tokens
    uniq = {
        1: "alpha bravo charlie delta echo foxtrot golf hotel india juliet",
        2: "kilo lima mike november oscar papa quebec romeo sierra tango",
        3: "uniform victor whiskey xray yankee zulu one two three four",
    }
    rows = [
        (1, uniq[1] + " " + passage),
        (2, passage + " " + uniq[2]),
        (3, uniq[3]),  # no duplication
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    spans = {
        r.doc_id: (r.span_start, r.span_end)
        for r in dup_spans(docs, n=5, min_docs=2).collect()
    }
    # doc 1 hosts the passage at tokens 10..19, doc 2 at 0..9
    assert spans == {1: (10, 19), 2: (0, 9)}

    stats = {r.doc_id: r for r in dup_span_stats(docs, n=5, min_docs=2).collect()}
    assert stats[1].n_spans == 1 and stats[1].dup_tokens == 10
    assert stats[2].n_spans == 1 and stats[2].dup_tokens == 10
    assert stats[3].n_spans == 0 and stats[3].dup_frac == 0.0

    masked = {r.doc_id: r.masked_text for r in dup_span_mask(docs, n=5, min_docs=2).collect()}
    assert masked[1] == uniq[1]
    assert masked[2] == uniq[2]
    assert masked[3] == uniq[3]

    marked = {
        r.doc_id: r.masked_text
        for r in dup_span_mask(docs, n=5, min_docs=2, marker="<DUP>").collect()
    }
    assert marked[1] == uniq[1] + " <DUP>"
    assert marked[2] == "<DUP> " + uniq[2]


def test_dup_spans_matches_bruteforce_on_random_corpora(spark):
    """dup_spans vs an O(n^2) python reference on seeded random
    corpora: for every doc, the covered-position set from merged spans
    must equal the union of [p, p+n-1] over positions whose n-gram
    occurs in >= 2 distinct docs — including plateaus, overlaps,
    in-doc repeats (which must NOT count without a second doc), and
    doc-boundary edges."""
    import numpy as np

    from mpes_spark.extras.dedup import dup_spans

    n = 3
    for seed in (0, 1, 2):
        rng = np.random.default_rng(seed)
        vocab = [f"w{j}" for j in range(6)]  # tiny vocab -> many collisions
        docs = [
            (i, " ".join(rng.choice(vocab, size=rng.integers(2, 14)).tolist()))
            for i in range(12)
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {}
        spans_by_doc = {}
        for r in dup_spans(df, n=n, min_docs=2).collect():
            got.setdefault(r.doc_id, set()).update(
                range(r.span_start, r.span_end + 1)
            )
            spans_by_doc.setdefault(r.doc_id, []).append(
                (r.span_start, r.span_end)
            )
        # spans must be MAXIMAL: sorted islands are disjoint with a
        # gap >= 1 between consecutive spans (else they should have
        # merged into one)
        for i, sp in spans_by_doc.items():
            sp.sort()
            for (s0, e0), (s1, e1) in zip(sp, sp[1:]):
                assert s1 > e0 + 1, (i, sp)
        # brute force
        grams = {}
        toks = {i: t.split(" ") for i, t in docs}
        for i, tk in toks.items():
            for p in range(len(tk) - n + 1):
                grams.setdefault(" ".join(tk[p : p + n]), set()).add(i)
        want = {}
        for i, tk in toks.items():
            cov = set()
            for p in range(len(tk) - n + 1):
                if len(grams[" ".join(tk[p : p + n])]) >= 2:
                    cov.update(range(p, p + n))
            if cov:
                want[i] = cov
        assert got == want, f"seed {seed}"


def test_kneser_ney_tiers_and_hand_computation(spark):
    """All four KN tiers fire on a crafted corpus and the per-doc
    average matches the hand-derived interpolated-KN probabilities."""
    import math

    from pyspark.sql import functions as F
    from mpes_spark.extras.dedup import _md5_hash_sql
    from mpes_spark.extras.search import _KN_SEED, kneser_ney_scores

    ids = spark.range(200).select(
        F.col("id"),
        (
            F.pmod(
                F.expr(_md5_hash_sql(_KN_SEED, "CAST(id AS STRING)", "spark")),
                F.lit(10),
            )
            == 0
        ).alias("is_test"),
    ).collect()
    train_ids = [r.id for r in ids if not r.is_test]
    test_ids = [r.id for r in ids if r.is_test]
    assert train_ids and test_ids

    # train bigrams: (a,b) (b,c) (c,a) (a,b) -> c12: ab=2 bc=1 ca=1
    # ctx: a:{c1=2,R=1} b:{1,1} c:{1,1}; cont: L(b)=1 L(c)=1 L(a)=1
    # B=3 types, V=3
    train_text = "a b c a b"
    # test: "a b"(seen) "b x"(seen ctx, OOV w2) "x c"(unseen ctx)
    test_text = "a b x c"
    rows = [(int(train_ids[0]), train_text), (int(test_ids[0]), test_text)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = kneser_ney_scores(docs).collect()
    assert len(out) == 1 and out[0].n_bigrams == 3
    D, al, B, V = 0.75, 0.5, 3.0, 3.0
    den = B + al * (V + 1.0)

    def pcont(l):
        return (l + al) / den

    p_ab = (2 - D) / 2 + (D * 1 / 2) * pcont(1)   # seen bigram
    p_bx = 0.0 / 1 + (D * 1 / 1) * pcont(0)       # seen ctx, OOV word
    p_xc = pcont(1)                               # unseen ctx
    want = (math.log(p_ab) + math.log(p_bx) + math.log(p_xc)) / 3
    assert abs(out[0].avg_logprob - round(want, 6)) < 1e-9


def test_lr_train_quality_learns_and_matches_oracle(spark):
    """The GD fit must actually LEARN on a planted linearly-realizable
    corpus (accuracy strictly above the majority baseline), and the
    integer-scaled Spark loop must match the unrolled-CTE DuckDB twin
    bit-for-bit."""
    import duckdb

    from mpes_spark.extras.curation import (
        lr_train_quality,
        lr_train_quality_sql,
    )

    # synthetic corpus: 40 docs over a tiny vocab; 8 docs carry the
    # planted marker 'dup'
    rows = []
    vocab = ["alpha", "beta", "gamma", "delta", "eps"]
    for i in range(40):
        toks = [vocab[(i + j) % 5] for j in range(10)]
        if i % 5 == 0:
            toks[3] = "dup"
        rows.append((i, " ".join(toks)))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = lr_train_quality(docs).toPandas()
    n_correct = int(got[got.feature_id == -1].value.iloc[0])
    majority = 32  # 8 positives of 40
    assert n_correct > majority, f"no learning: {n_correct} <= {majority}"

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = con.execute(lr_train_quality_sql("documents")).df()
    g = got.sort_values("feature_id", ignore_index=True)
    w = want.sort_values("feature_id", ignore_index=True)
    assert g.feature_id.tolist() == w.feature_id.tolist()
    assert g.value.tolist() == w.value.tolist()


def test_pipeline_html_to_text_stage(spark):
    """CorpusPipeline.html_to_text runs as crawl stage 0 and composes
    with downstream stages on the cleaned text."""
    from mpes_spark.extras.pipeline import CorpusPipeline

    rows = [
        (1, "<html><script>var x=1;</script><p>real words here</p></html>"),
        (2, "<style>p{}</style><h1>title</h1><p>body &amp; more</p>"),
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r.doc_id: r.text
        for r in CorpusPipeline(d).html_to_text().df.collect()
    }
    assert out[1] == "real words here"
    assert out[2] == "title\nbody & more"
    # composes: stats computed on CLEANED text, not markup
    st = CorpusPipeline(d).html_to_text().with_stats().df.collect()
    assert all("<" not in r.text for r in st)


def test_sentence_span_dedup_keep_first_semantics(spark):
    """C4 keep-first: the earliest (doc, idx) occurrence of a
    duplicated 3-sentence span is kept; every other occurrence counts
    toward n_remove."""
    from mpes_spark.extras.dedup import sentence_span_dedup

    a = "s1 one. s2 two. s3 three. s4 four"       # spans: (1,2,3) (2,3,4)
    b = "s1 one. s2 two. s3 three. s9 nine"       # shares span (1,2,3)
    c = "zz only. one sentence"                   # too short for a span
    docs = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in sentence_span_dedup(docs).collect()}
    assert out[1].n_spans == 2 and out[2].n_spans == 2
    # the shared span is duplicated in both docs...
    assert out[1].n_dup_spans == 1 and out[2].n_dup_spans == 1
    # ...but only doc 2's copy is removable (doc 1 owns the first)
    assert out[1].n_remove == 0 and out[2].n_remove == 1
    assert 3 not in out  # no 3-sentence span -> no row


def test_unigram_tokenizer_trains_and_matches_oracle(spark):
    """Hard-EM unigram training on a planted corpus: the driver loop
    and the fully-unrolled DuckDB DP replay the same vocabulary, and
    the learned pieces are the expected subwords."""
    import duckdb

    from mpes_spark.extras.tokenizer import train_unigram, train_unigram_sql

    texts = [
        "banana band bandana",
        "banana anna nab",
        "band bandana banana nab anna",
    ]
    docs = spark.createDataFrame([(t,) for t in texts], ["text"])
    got = train_unigram(docs)
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?)", [(t,) for t in texts])
    want = sorted(map(tuple, con.execute(train_unigram_sql("documents")).fetchall()))
    assert got == want
    pieces = dict(got)
    # multi-char subwords shared across words dominate the vocabulary
    assert "ban" in pieces and "ana" in pieces and "nab" in pieces
    assert all(c > 0 for c in pieces.values())


def test_sentence_rule_segmenter_abbreviations(spark):
    """r10 rule segmenter (VERDICT r9 #4): abbreviation dots, initials
    and decimals do NOT split; [.!?]-space boundaries DO; the DuckDB
    rendering of the same step table segments identically."""
    import duckdb
    import pandas as pd

    from mpes_spark.extras.dedup import (
        sentence_split_expr,
        sentence_split_sql,
    )

    rows = [
        (1, "Dr. Smith arrived."),
        (2, "He saw Dr. Smith. Then he left! Did he? Yes."),
        (3, "J. K. Rowling wrote it. Pi is 3.14 here. See Fig. 2, e.g. now."),
        (4, "Approx. end. vs. start. The U.S. example. Mt. Everest is tall."),
        (5, "no punctuation at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    seg = {
        r.doc_id: r.s
        for r in docs.select(
            "doc_id", sentence_split_expr("text").alias("s")
        ).collect()
    }
    assert seg[1] == ["Dr. Smith arrived."]
    assert seg[2] == ["He saw Dr. Smith.", "Then he left!", "Did he?", "Yes."]
    assert seg[3] == [
        "J. K. Rowling wrote it.",
        "Pi is 3.14 here.",
        "See Fig. 2, e.g. now.",
    ]
    assert seg[5] == ["no punctuation at all"]

    con = duckdb.connect()
    con.register("docs", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = {
        r[0]: r[1]
        for r in con.execute(
            f"SELECT doc_id, {sentence_split_sql('text')} FROM docs"
        ).fetchall()
    }
    assert seg == want


def test_unigram_encode_roundtrip_and_stats_parity(spark):
    """r10 unigram ENCODE path (VERDICT r9 #5): Viterbi segmentation
    with the trained vocab reconstructs every in-vocab word exactly
    (round-trip), overlong/pathless words become one <unk>, and the
    per-doc stats match the unrolled-DP DuckDB twin."""
    import duckdb
    import pandas as pd

    from mpes_spark.extras.tokenizer import (
        UNK_PIECE,
        train_unigram,
        unigram_encode_udf,
        unigram_token_stats,
        unigram_token_stats_sql,
    )

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the dog sat on the log with the cat"),
        (3, "supercalifragilistic words exceed limits"),
        (4, ""),
        (5, "zz xq zz xq zz unknownishword"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    vocab = train_unigram(docs)
    enc = unigram_encode_udf(spark.sparkContext, vocab)
    from pyspark.sql import functions as F

    segged = {
        r.doc_id: r.toks
        for r in docs.select(
            "doc_id", enc(F.col("text")).alias("toks")
        ).collect()
    }
    # round-trip: pieces of doc 1 re-concatenate to its words
    words = rows[0][1].split(" ")
    rebuilt, buf = [], ""
    for p in segged[1]:
        assert p != UNK_PIECE
        buf += p
        if buf == words[len(rebuilt)]:
            rebuilt.append(buf)
            buf = ""
    assert rebuilt == words and buf == ""
    # overlong word -> exactly one UNK piece
    assert segged[3].count(UNK_PIECE) == 1
    assert segged[4] == []

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    g = unigram_token_stats(docs).toPandas().sort_values(
        "doc_id", ignore_index=True
    )
    w = con.execute(unigram_token_stats_sql("documents")).df().sort_values(
        "doc_id", ignore_index=True
    )
    cols = sorted(g.columns)
    assert g[cols].astype("int64").equals(w[cols].astype("int64"))


def test_pxp_decode_stats_parity(spark):
    """r10 pxp container gate: the in-memory PTN003 round-trip stats
    match the character-arithmetic DuckDB twin, including non-ASCII
    projection, the 1-byte single-wave case, and empty docs."""
    import duckdb
    import pandas as pd

    from mpes_spark.extras.multimodal import (
        pxp_decode_stats,
        pxp_decode_stats_sql,
    )

    rows = [
        (1, "hello world packed experiment payload content"),
        (2, ""),
        (3, "x"),                      # single byte -> one wave
        (4, "ab"),                     # two bytes -> two waves of one
        (5, "héllo wörld" + "q" * 200),  # projection + truncation
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    g = pxp_decode_stats(docs).toPandas().sort_values(
        "doc_id", ignore_index=True
    )
    w = con.execute(pxp_decode_stats_sql("documents")).df().sort_values(
        "doc_id", ignore_index=True
    )
    cols = sorted(g.columns)
    assert g[cols].astype("int64").equals(w[cols].astype("int64"))
    assert g.loc[g.doc_id == 3, "n_waves"].item() == 1
    assert g.loc[g.doc_id == 4, "n_waves"].item() == 2


def test_mat_decode_stats_parity(spark):
    """r10 MAT container gate: the in-memory compressed MAT-file
    round-trip stats match the character-arithmetic DuckDB twin,
    including the single-field-struct boundary (1-byte payload),
    non-ASCII projection, truncation, and empty docs."""
    import duckdb
    import pandas as pd

    from mpes_spark.extras.multimodal import (
        mat_decode_stats,
        mat_decode_stats_sql,
    )

    rows = [
        (1, "matlab level five container payload content here"),
        (2, ""),
        (3, "x"),                      # 1 byte: a only, struct = {t}
        (4, "ab"),                     # 2 bytes: a + struct {t, b}
        (5, "short"),                  # n < 8: t is the whole payload
        (6, "héllo wörld" + "q" * 200),  # projection + truncation
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    g = mat_decode_stats(docs).toPandas().sort_values(
        "doc_id", ignore_index=True
    )
    w = con.execute(mat_decode_stats_sql("documents")).df().sort_values(
        "doc_id", ignore_index=True
    )
    cols = sorted(g.columns)
    assert g[cols].astype("int64").equals(w[cols].astype("int64"))
    assert g.loc[g.doc_id == 3, "n_fields"].item() == 1
    assert g.loc[g.doc_id == 4, "n_fields"].item() == 2
    assert g.loc[g.doc_id == 2, "n_vars"].item() == 0


def test_wave_gc_pressure_gated(spark, monkeypatch):
    """_wave_gc fires only under scratch pressure (r11): with ample
    free scratch it must return without a JVM full GC (the 6 forced
    GCs cost 2.4 s/execution at gate scale), and under a forced
    pressure threshold it must still complete (the gc path)."""
    import time

    from mpes_spark.extras import dedup
    from mpes_spark.extras.dedup import _wave_gc

    df = spark.range(10)
    monkeypatch.setattr(dedup, "WAVE_GC_FREE_GB", 0.000001)
    t0 = time.perf_counter()
    _wave_gc(df)
    skip_ms = (time.perf_counter() - t0) * 1000
    monkeypatch.setattr(dedup, "WAVE_GC_FREE_GB", 1000000.0)
    t0 = time.perf_counter()
    _wave_gc(df)  # gc path must not raise
    gc_ms = (time.perf_counter() - t0) * 1000
    # the skip path must not have paid a full GC (forced major
    # GCs on the test JVM measure ~100 ms+; the skip path is a
    # disk_usage + storage-info read). Bound is relative to the
    # measured gc path so a loaded box inflates both sides
    # instead of false-failing the absolute check.
    assert skip_ms < max(50.0, gc_ms)


def test_waved_execution_parity(spark):
    """Waved execution (r11, the sf10 scratch-ceiling fix) is a
    physical-plan choice and must be result-INVISIBLE: for each of
    the three positioned-shingle-family operators, waves=3 returns
    exactly the waves=1 row set — including pairs whose shared prefix
    elements span several hash bands (found in multiple waves, then
    collapsed by the union distinct)."""
    from mpes_spark.extras.dedup import (
        blocked_jaccard_pairs,
        prefix_dual_pairs,
        prefix_filtered_pairs,
    )

    rows = [
        (1, "quick brown fox jumps over the lazy dog"),
        (2, "quick brown fox jumps over the lazy cat"),
        (3, "quick brown fox leaps over the lazy dog today"),
        (4, "entirely different tokens appear here now"),
        (5, "entirely different tokens appear here now"),
        (6, "alpha beta gamma delta epsilon zeta preface filler words "
            "surround the short document completely padding more terms"),
        (7, "alpha beta gamma delta epsilon zeta"),
        (8, "quick brown fox jumps over the lazy dog"),
        (9, "unrelated corpus content matching no other doc"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def key(rs):
        return sorted(tuple(r) for r in rs)

    for n in (1, 3):
        flat = prefix_filtered_pairs(docs, threshold=0.5, n=n).collect()
        waved = prefix_filtered_pairs(
            docs, threshold=0.5, n=n, waves=3
        ).collect()
        assert flat, f"fixture must pair (n={n})"
        assert key(waved) == key(flat), f"prefix_filtered n={n}"

    flat = prefix_dual_pairs(
        docs, jaccard_threshold=0.5, containment_threshold=0.9, n=1
    ).collect()
    waved = prefix_dual_pairs(
        docs, jaccard_threshold=0.5, containment_threshold=0.9, n=1, waves=3
    ).collect()
    assert flat and key(waved) == key(flat), "prefix_dual"

    flat = blocked_jaccard_pairs(
        docs, n=3, block_tokens=2, threshold=0.2
    ).collect()
    waved = blocked_jaccard_pairs(
        docs, n=3, block_tokens=2, threshold=0.2, waves=3
    ).collect()
    assert flat and key(waved) == key(flat), "blocked_jaccard"


def test_waved_subslice_parity(spark, monkeypatch):
    """Candidate-mass sub-splitting (r12, the waved-dedup clique
    bound) is likewise result-INVISIBLE: with WAVE_CAND_CAP just
    under 2 candidate pairs, EVERY band holding 2 or more sub-splits
    into at least 2 slices (about m/2 of them, not one per pair), and
    the row set must still equal the flat execution for both prefix
    operators — including dual-measure pairs that now surface once
    per direction across slices (collapsed by the final distinct).
    Also pins the schedule math: cap<=0 disables."""
    from mpes_spark.extras import dedup
    from mpes_spark.extras.dedup import (
        _wave_subslices,
        prefix_dual_pairs,
        prefix_filtered_pairs,
    )

    rows = [
        (1, "quick brown fox jumps over the lazy dog"),
        (2, "quick brown fox jumps over the lazy cat"),
        (3, "quick brown fox leaps over the lazy dog today"),
        (4, "entirely different tokens appear here now"),
        (5, "entirely different tokens appear here now"),
        (6, "alpha beta gamma delta epsilon zeta preface filler words "
            "surround the short document completely padding more terms"),
        (7, "alpha beta gamma delta epsilon zeta"),
        (8, "quick brown fox jumps over the lazy dog"),
        (9, "unrelated corpus content matching no other doc"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def key(rs):
        return sorted(tuple(r) for r in rs)

    monkeypatch.setattr(dedup, "WAVE_CAND_CAP", 1.0)
    assert _wave_subslices([{"band": 0, "m": 10.0}], 2) == {0: 10, 1: 1}
    monkeypatch.setattr(dedup, "WAVE_CAND_CAP", 1.99)
    schedules = []

    def spy(mass_rows, waves):
        slices = _wave_subslices(mass_rows, waves)
        schedules.extend((float(r["m"]), slices[int(r["band"])]) for r in mass_rows)
        return slices

    monkeypatch.setattr(dedup, "_wave_subslices", spy)
    flat = prefix_filtered_pairs(docs, threshold=0.5, n=3).collect()
    sliced = prefix_filtered_pairs(
        docs, threshold=0.5, n=3, waves=3
    ).collect()
    assert flat and key(sliced) == key(flat), "prefix_filtered sliced"
    flat = prefix_dual_pairs(
        docs, jaccard_threshold=0.5, containment_threshold=0.9, n=1
    ).collect()
    sliced = prefix_dual_pairs(
        docs, jaccard_threshold=0.5, containment_threshold=0.9, n=1,
        waves=3,
    ).collect()
    assert flat and key(sliced) == key(flat), "prefix_dual sliced"
    assert any(s > 1 for _, s in schedules), schedules
    assert all(s >= 2 for m, s in schedules if m >= 2), schedules
    assert all(s <= m / 2 + 1 for m, s in schedules), schedules
    monkeypatch.setattr(dedup, "WAVE_CAND_CAP", 0.0)
    assert _wave_subslices([{"band": 0, "m": 1e12}], 3) == {
        0: 1, 1: 1, 2: 1,
    }
