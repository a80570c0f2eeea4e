"""Physical-plan regression tests: the optimizations SCALING.md
promises must be visible in the executed plan, not just intended."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mpes_spark.binning.engine import bin_sparse
from mpes_spark.binning.spec import BinAxis
from mpes_spark.registry import t
from tests.conftest import SF_SMALL


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_binning_pushes_range_filter_to_scan(spark):
    """The half-open value pre-filter must reach the parquet scan as
    PushedFilters, and the scan must read only the binned column."""
    df = bin_sparse(
        t(spark, SF_SMALL, "events"), [BinAxis("value", 100, 10.0, 480.0)]
    )
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(value,10.0)" in plan
    assert "LessThan(value,480.0)" in plan
    assert "ReadSchema: struct<value:double>" in plan


def test_binning_single_exchange(spark):
    """Partial+final hash aggregation: exactly one shuffle, keyed on
    the bin index — shuffle volume bounded by grid, not input."""
    df = bin_sparse(
        t(spark, SF_SMALL, "events"), [BinAxis("value", 100, 0.0, 500.0)]
    )
    plan = _plan(df)
    assert plan.count("Exchange") == 1
    assert plan.count("HashAggregate") >= 2  # partial + final


def _final_plan(df) -> str:
    """The AQE-final physical plan of an executed DataFrame (without
    the initial plan that ``executedPlan().toString()`` also prints)."""
    return df._jdf.queryExecution().executedPlan().finalPhysicalPlan().toString()


def test_derived_axis_skips_prefilter(spark):
    """A derived axis gets no value pre-filter: the range test moves
    into a CASE over the projected column, so the derived expression
    is evaluated once per event, and the post-aggregation guard stays
    above the aggregate instead of re-inlining the expression below
    it."""
    ev = t(spark, SF_SMALL, "events").select(
        (F.col("value") * 2.0 + 1.0).alias("d")
    )
    df = bin_sparse(ev, [BinAxis("d", 10, 0.0, 100.0)])
    df.collect()
    plan = _final_plan(df)
    assert "GreaterThanOrEqual" not in plan
    assert plan.count("* 2.0)") == 1
    # the guard filters the grouped relation, above the final aggregate
    head = plan.split("HashAggregate", 1)[0]
    assert "Filter" in head


def test_tps_pipeline_evaluates_warp_once(spark, tmp_path):
    """Binning TPS-calibrated axes (t window -> TPS warp -> k axes and
    energy, as the paper pipeline runs them) evaluates each warp output
    once per event: the AQE-final plan holds one ``ln`` per landmark
    per output coordinate. The histogram equals binning the same
    columns after they are materialized (plain scan columns, value
    pre-filter)."""
    import numpy as np
    import pandas as pd

    from mpes_spark.calibrate.tps import tps_coeffs
    from mpes_spark.pipeline import EventPipeline

    rng = np.random.default_rng(3)
    n, n_landmarks = 4000, 8
    pd.DataFrame(
        {
            "X": rng.uniform(0.0, 256.0, n),
            "Y": rng.uniform(0.0, 256.0, n),
            "t": rng.uniform(6.0e4, 7.0e4, n),
        }
    ).to_parquet(tmp_path / "ev.parquet")
    src = rng.uniform(20.0, 236.0, (n_landmarks, 2))
    co = tps_coeffs(src, src + rng.normal(0.0, 2.0, src.shape))
    calibrated = (
        EventPipeline(spark.read.parquet(str(tmp_path / "ev.parquet")))
        .filter_range("t", 6.1e4, 6.9e4)
        .apply_tps(co, src)
        .append_energy_axis_poly([-1.0e-3], 66.0)
        .append_k_axis("Xm", "Ym", 128.0, 128.0, 0.01, 0.01)
        .df
    )
    axes = [
        BinAxis("kx", 16, -1.0, 1.0),
        BinAxis("ky", 16, -1.0, 1.0),
        BinAxis("E", 8, -2.0, 4.0),
    ]
    df = bin_sparse(calibrated, axes)
    got = sorted(map(tuple, df.collect()))
    assert _final_plan(df).count("ln(") == 2 * n_landmarks
    flat = calibrated.select("kx", "ky", "E").toPandas()
    flat.to_parquet(tmp_path / "flat.parquet")
    scanned = spark.read.parquet(str(tmp_path / "flat.parquet"))
    assert got == sorted(map(tuple, bin_sparse(scanned, axes).collect()))
    assert 0 < sum(r[-1] for r in got) < len(flat)  # some events fall outside


def test_weighted_derived_axis_keeps_null_and_negative_sums(spark):
    """Weighted binning on a derived axis: groups whose sum is negative
    or NULL (all weights NULL) are real bins and survive the guard,
    out-of-range events are dropped, and the axis expression is
    evaluated once."""
    rows = [
        (0.5, -3.0),  # bin 0, negative sum
        (1.5, None),  # bin 1, NULL sum
        (2.5, 1.0),
        (2.6, 2.0),  # bin 2, sum 3
        (-0.5, 7.0),  # below lo
        (4.0, 7.0),  # at hi: outside the half-open range
        (None, 5.0),  # NULL coordinate
    ]
    raw = spark.createDataFrame(rows, "x double, w double")
    ev = raw.select((F.col("x") * 10.0 / 10.0).alias("d"), "w")
    df = bin_sparse(ev, [BinAxis("d", 4, 0.0, 4.0)], count_name="wsum", weight="w")
    got = sorted((r["d_bin"], r["wsum"]) for r in df.collect())
    assert got == [(0, -3.0), (1, None), (2, 3.0)]
    assert _final_plan(df).count("* 10.0)") == 1


def test_small_dim_join_broadcasts(spark):
    """Dimension lookups must broadcast the small side — the probe
    side stays shuffle-free until the final aggregation."""
    c = t(spark, SF_SMALL, "customer")
    n = t(spark, SF_SMALL, "nation")
    df = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).groupBy(
        "n_name"
    ).count()
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_top_k_uses_partial_per_partition(spark):
    """Global top-k compiles to TakeOrderedAndProject (per-partition
    partial top-k), never a full sort."""
    li = t(spark, SF_SMALL, "lineitem")
    agg = li.groupBy("l_suppkey").agg(F.sum("l_extendedprice").alias("rev"))
    df = agg.orderBy(F.col("rev").desc()).limit(10)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan


def test_metadata_rollup_prunes_payload(spark):
    """Metadata-only multimodal stats must not read the payload
    column... except through the byte-length aggregate; verify the
    text-stat query at least prunes to the columns it needs."""
    d = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "source", F.length("text").alias("n")
    )
    df = d.groupBy("source").agg(F.sum("n"))
    plan = _plan(df)
    assert "ReadSchema: struct<text:string,source:string>" in plan or (
        "text" in plan and "doc_id" not in plan.split("ReadSchema")[1][:200]
    )


def test_verify_jaccard_aqe_broadcasts_candidates(spark):
    """VERDICT r2 #2: verify_jaccard no longer forces F.broadcast on
    the candidate-pair relation. In the common LSH case (candidates
    orders of magnitude smaller than shingles) AQE must still pick a
    broadcast join at runtime from the measured shuffle size — so the
    shingle side is never shuffled across the network for that join —
    while a pathological corpus safely degrades to a shuffled join
    instead of an executor OOM."""
    from mpes_spark.extras import dedup as DD

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").limit(200)
    out = DD.minhash_neardup_pairs(docs, n=3, k=32, bands=8, threshold=0.3)
    # no static hint in the analyzed plan
    assert "ResolvedHint" not in out._jdf.queryExecution().analyzed().toString()
    out.collect()  # finalize the adaptive plan
    plan = _plan(out)
    assert "isFinalPlan=true" in plan
    # AQE converted the small candidate side to a runtime broadcast
    assert "BroadcastHashJoin" in plan


def test_chunk_dedup_no_forced_broadcast(spark):
    """The duplicated-hash relation is corpus-dependent; the join back
    must carry no static broadcast hint (AQE decides at runtime) —
    same policy as verify_jaccard."""
    from mpes_spark.extras.curation import chunk_dedup_stats

    d = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    df = chunk_dedup_stats(d, chunk_tokens=16)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed


def test_pack_sequences_no_single_partition_window(spark):
    """The global cumsum must never plan a single-partition window:
    every window/sort in the plan is partitioned by the bucket key,
    so no SinglePartition exchange appears."""
    from mpes_spark.extras.curation import pack_sequences

    d = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    df = pack_sequences(d, seq_tokens=64, buckets=7)
    plan = _plan(df)
    assert "SinglePartition" not in plan
    assert "Window" in plan  # the per-bucket cumsum window is real


def test_pii_scan_single_scan_pruned(spark):
    """The PII audit reads one pruned scan of (doc_id, source, text) —
    no joins, no extra exchanges beyond the final group agg."""
    from mpes_spark.extras.registry import extras_queries

    df = extras_queries()["pii_scan"](spark, SF_SMALL)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1
    assert "ReadSchema: struct<doc_id:bigint,text:string,source:string>" in plan or \
        "ReadSchema: struct<doc_id:bigint,source:string,text:string>" in plan


def test_bm25_plan_single_scan_and_ordered_limit(spark):
    """BM25: the per-doc relation is computed once (persisted — one
    InMemoryTableScan feeds the scoring), corpus stats arrive as
    inlined literals (no join in the final plan), and the ranked
    limit is a TakeOrderedAndProject, not a global sort."""
    from mpes_spark.extras.search import bm25_topk

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    df = bm25_topk(docs, k=10)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan  # stats are literals, not a crossJoin
    assert "InMemoryTableScan" in plan  # cached per-doc relation


def test_lm_perplexity_single_stats_join(spark):
    """The bigram stream must pay ONE equi-join against the folded
    (pair, c2, c1) stats relation — not separate joins per count
    table — and no cartesian product anywhere (the vocab scalar rides
    a broadcast)."""
    from mpes_spark.extras.search import lm_perplexity_by_source

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    plan = _plan(lm_perplexity_by_source(docs))
    assert "CartesianProduct" not in plan
    # joins: bigrams->stats (1), stats-internal bi->uni (1), vocab
    # broadcast (1) = 3 joins total; the round-1 shape had 4+
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin"
    ) <= 3


def test_dedup_clusters_pairs_computed_once(spark):
    """connected_components must materialize the (expensive) pair
    plan exactly once: the symmetrized edge relation is built with
    one explode pass over the pair plan, not a union that would
    execute it twice."""
    from mpes_spark.extras import dedup as DD

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").limit(200)
    pairs = DD.blocked_jaccard_pairs(docs, threshold=0.2)
    # analyzed plan of the symmetrization used inside CC: one
    # generate (explode) over a single pair subtree
    sym = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
                    F.struct(F.col("id_b").alias("src"), F.col("id_a").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
    )
    opt = sym._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("Generate explode") >= 1
    assert opt.count("Union") == 0


def test_quality_classifier_pure_projection(spark):
    """The hash-kernel classifier is a per-row projection: no shuffle,
    no UDF — one codegen stage over the pruned (doc_id, text) scan."""
    from mpes_spark.extras.curation import quality_classifier

    df = quality_classifier(spark.read.parquet(f"{SF_SMALL}/documents.parquet"))
    plan = _plan(df)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_winnow_fps_computed_once_and_no_forced_broadcast(spark):
    """The fingerprint explode (the expensive md5 pass) must feed both
    consumers from the persisted relation — one Generate, two
    InMemoryTableScans — and the count-join carries no static
    broadcast hint: AQE picks broadcast at runtime when the per-fp
    count relation measures small, and degrades to a shuffled join on
    a pathological corpus instead of OOMing."""
    from mpes_spark.extras.dedup import winnow_dup_stats

    df = winnow_dup_stats(
        spark.read.parquet(f"{SF_SMALL}/documents.parquet").limit(100), k=16, w=8
    )
    assert "ResolvedHint" not in df._jdf.queryExecution().analyzed().toString()
    df.collect()  # finalize the adaptive plan
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    assert plan.count("InMemoryTableScan") >= 2  # both consumers hit the cache
    assert "BroadcastHashJoin" in plan  # AQE runtime decision at this scale


def test_rollup_cascade_single_raw_scan(spark):
    """The minute->hour cascade re-aggregates the minute rollup: one
    parquet scan total, never a second raw pass per resolution."""
    from mpes_spark.transforms.rollup import coarsen, time_rollup

    hours = coarsen(
        time_rollup(
            t(spark, SF_SMALL, "events"),
            measure="value",
            bucket_ns=60_000_000_000,
        ),
        60,
    )
    plan = _plan(hours)
    assert plan.count("Scan parquet") == 1
    # and the scan is pruned to the two referenced columns
    assert "ReadSchema: struct<ts:timestamp_ntz,value:double>" in plan or (
        "ReadSchema: struct<ts:bigint,value:double>" in plan
    )


def test_dsir_two_corpus_scans_and_broadcast_weights(spark):
    """DSIR reads the corpus exactly twice (distribution estimate +
    scoring); the nbuckets-row weight table is broadcast, never a
    corpus shuffle keyed by bucket."""
    from mpes_spark.extras.curation import dsir_weights

    w = dsir_weights(spark.read.parquet(f"{SF_SMALL}/documents.parquet"))
    plan = _plan(w)
    assert plan.count("Scan parquet") == 2
    assert "BroadcastHashJoin" in plan


def test_frequent_items_single_candidate_scan(spark):
    """Heavy hitters: candidate pass + exact pass + total = three
    corpus scans of a pruned single column, with the candidate set on
    the broadcast side."""
    from mpes_spark.extras.frequent import frequent_items

    toks = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select(F.explode(F.split("text", " ")).alias("tok"))
    )
    plan = _plan(frequent_items(toks, "tok", min_frac=0.01, k=200))
    assert "BroadcastHashJoin" in plan
    assert "ReadSchema: struct<text:string>" in plan


def test_url_dedup_single_shuffle_no_udf(spark):
    """The URL canonical key computes as pure expressions (no
    BatchEvalPython / ArrowEvalPython) and the dedup is one
    partial+final hash agg — one Exchange keyed on the key."""
    from mpes_spark.extras.curation import url_dedup

    docs = t(spark, SF_SMALL, "documents").withColumn(
        "url",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/p/"),
            (F.col("doc_id") % 7).cast("string"),
        ),
    )
    plan = _plan(url_dedup(docs))
    assert "EvalPython" not in plan  # no Python in the hot path
    assert plan.count("Exchange") == 1
    assert plan.count("HashAggregate") >= 2


def test_pq_fullcodebook_broadcasts_query_side(spark):
    """PQ ADC scoring: the corpus side is scanned once, the tiny query
    relation rides a broadcast — no shuffle of the encoded corpus
    before scoring."""
    from mpes_spark.extras import similarity as SIM

    e = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    df = SIM.pq_topk_cosine(
        e, e.filter(F.col("vec_id") < 4), SIM.fixed_pq_codebooks(), k=3
    )
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # exactly one pass over the embeddings relation feeds the encode;
    # the second scan is the query side (pre-broadcast), never a third
    assert plan.count("Scan parquet") <= 2


def test_funnel_no_cartesian_and_single_join_key(spark):
    """The funnel chain joins only on user_id equality — no
    CartesianProduct / BroadcastNestedLoopJoin ever appears (the
    step-window inequality stays a post-join filter inside each key
    group), and no Python evaluation is involved."""
    from mpes_spark.registry import all_queries

    plan = _plan(all_queries()["funnel_conversion"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan


def test_cohort_retention_activity_computed_once(spark):
    """The distinct (user, week) activity relation feeds both the
    cohort derivation and the join back; the plan reuses one exchange
    on user_id rather than re-scanning events per consumer."""
    from mpes_spark.registry import all_queries

    plan = _plan(all_queries()["cohort_retention"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # events is scanned at most twice (activity + reused branch), and
    # the distinct/agg pipeline is hash-based, never a global sort
    assert plan.count("Scan parquet") <= 2
    assert "EvalPython" not in plan


def test_pricing_summary_pushes_date_filter(spark):
    """Q1 shape: the ship-date predicate reaches the parquet scan
    (PushedFilters), the scan reads only the 7 referenced columns,
    and reduction happens in a partial+final hash agg pair."""
    from mpes_spark.registry import all_queries

    plan = _plan(all_queries()["pricing_summary"](spark, SF_SMALL))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    assert "l_orderkey" not in plan.split("ReadSchema")[1][:400]
    assert plan.count("HashAggregate") >= 2


def test_shipping_priority_broadcasts_dim_no_cartesian(spark):
    """Q3 shape: the filtered customer dim rides a broadcast, both
    date predicates push to their scans, the top-10 is
    TakeOrderedAndProject — never a global sort of the aggregate."""
    from mpes_spark.registry import all_queries

    plan = _plan(all_queries()["shipping_priority"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
    assert "TakeOrderedAndProject" in plan
    assert "PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate" in plan


def test_topk_per_group_window_group_limit(spark):
    """Grouped top-k must compile to WindowGroupLimit (per-partition
    top-k heaps), never a full sort of the fact table."""
    from mpes_spark.registry import all_queries

    plan = _plan(all_queries()["topk_per_group"](spark, SF_SMALL))
    assert "WindowGroupLimit" in plan


def test_local_supplier_volume_no_cartesian(spark):
    """Q5 shape: the region->nation->supplier chain broadcasts; the
    same-nation predicate rides the suppkey equi-join (no cartesian,
    no nested-loop)."""
    from mpes_spark.registry import all_queries

    plan = _plan(all_queries()["local_supplier_volume"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastExchange" in plan


def test_key_skew_profile_bounded_aggs(spark):
    """Every statistic must derive from the per-key count relation:
    one scan of the key column, hash aggregation, and only
    broadcast-sized (1-row / top-10) joins after it."""
    from mpes_spark.diagnostics import key_skew_profile

    df = key_skew_profile(t(spark, SF_SMALL, "lineitem"), "l_suppkey")
    plan = _plan(df)
    assert "ReadSchema: struct<l_suppkey:bigint>" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_merge_upsert_single_join(spark):
    """MERGE plan: exactly one join of base vs updates (the update
    side may broadcast), no row explosion machinery."""
    from mpes_spark.registry import all_queries

    plan = _plan(all_queries()["merge_upsert"](spark, SF_SMALL))
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") + plan.count(
        "ShuffledHashJoin"
    ) == 1
    assert "CartesianProduct" not in plan


def test_rollup_incremental_two_scans_merge(spark):
    """IVM merge: base and delta each scan once with their cutoff
    pushed to parquet; the merge is a hash re-aggregation, no sort."""
    from mpes_spark.registry import all_queries

    plan = _plan(all_queries()["rollup_incremental"](spark, SF_SMALL))
    assert plan.count("Scan parquet") == 2
    assert "PushedFilters: [IsNotNull(ts)" in plan
    assert "SortAggregate" not in plan


def test_returned_item_report_plan(spark):
    """Q10 shape: returnflag + date predicates pushed to the scans,
    dims broadcast, grouped top-20 via TakeOrderedAndProject (k rows
    per partition cross the exchange, never the full group list)."""
    from mpes_spark.registry import all_queries

    df = all_queries()["returned_item_report"](spark, SF_SMALL)
    df.collect()
    plan = _plan(df)
    assert "l_returnflag" in plan and "= R" in plan  # filter reached the scan
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_promo_revenue_share_plan(spark):
    """Q14 shape: one-row conditional aggregate; part dim broadcasts;
    ship-date window prunes the fact scan."""
    from mpes_spark.registry import all_queries

    df = all_queries()["promo_revenue_share"](spark, SF_SMALL)
    df.collect()
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "l_shipdate" in plan and "SortMergeJoin" not in plan


def test_nation_market_share_single_fact_pass(spark):
    """Q8 shape: the per-year denominator is a WINDOW over the
    grid-sized aggregate — the fact join pipeline must appear once,
    not once per consumer (the totals-self-join anti-pattern)."""
    from mpes_spark.registry import all_queries

    df = all_queries()["nation_market_share"](spark, SF_SMALL)
    df.collect()
    plan = _plan(df)
    assert plan.count("Window") >= 1
    # one aggregation over the fact rows (partial+final render as two
    # HashAggregates on the same keys), then window math on the grid —
    # a duplicated fact pipeline would double the lineitem scans net
    # of ReusedExchange subtree listings
    assert plan.count("lineitem.parquet") - plan.count("ReusedExchange") <= 2


def test_no_plan_antipatterns_any_query(spark):
    """Sweep EVERY registered query's physical plan for the two
    unconditional anti-patterns: CartesianProduct (an unkeyed
    data-x-data join — every intentional crossJoin in the tree is
    against a broadcast 1-row/k-row aggregate and renders as
    BroadcastNestedLoopJoin) and BatchEvalPython (a row-at-a-time
    Python UDF — all Python in the engine must be Arrow-vectorized:
    pandas_udf / mapInPandas / applyInPandas). Plans are inspected
    un-executed, so the sweep costs seconds, not a suite run."""
    from __spark_entry__ import queries

    offenders = {}
    for name, fn in queries().items():
        plan = fn(spark, SF_SMALL)._jdf.queryExecution().executedPlan().toString()
        flags = [
            f
            for f, marker in (
                ("cartesian", "CartesianProduct"),
                ("row-python-udf", "BatchEvalPython"),
            )
            if marker in plan
        ]
        if flags:
            offenders[name] = flags
    assert not offenders, f"plan anti-patterns: {offenders}"


def test_forecast_revenue_pushdown(spark):
    """Q6 shape: every predicate reaches the parquet scan and the
    plan is scan -> partial agg -> 1-row final agg, join-free."""
    from mpes_spark.decision import decision_queries

    df = decision_queries()["forecast_revenue"](spark, SF_SMALL)
    df.collect()
    plan = _plan(df)
    assert "PushedFilters" in plan
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in plan.split("PushedFilters")[1].split("]")[0], col
    for join in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert join not in plan


def test_priority_order_count_semi_join(spark):
    """Q4 shape: EXISTS renders as a LEFT SEMI hash join — the probe
    row emits at first match, never multiplied by match count."""
    from mpes_spark.decision import decision_queries

    df = decision_queries()["priority_order_count"](spark, SF_SMALL)
    df.collect()
    plan = _plan(df)
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_idle_rich_customers_anti_join(spark):
    """Q22 shape: NOT EXISTS renders as LEFT ANTI; the scalar avg is
    a broadcast 1-row aggregate (BroadcastNestedLoopJoin over one
    row), never a per-row subquery."""
    from mpes_spark.decision import decision_queries

    df = decision_queries()["idle_rich_customers"](spark, SF_SMALL)
    df.collect()
    plan = _plan(df)
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_customer_order_counts_outer_join_survives(spark):
    """Q13 shape: the priority predicate must stay in the join
    condition — the plan keeps LeftOuter (a WHERE placement would
    have let Catalyst rewrite it to Inner and drop 0-order rows)."""
    from mpes_spark.decision import decision_queries

    df = decision_queries()["customer_order_counts"](spark, SF_SMALL)
    df.collect()
    plan = _plan(df)
    assert "LeftOuter" in plan


def test_small_qty_decorrelated_single_shuffle_family(spark):
    """Q17 shape: the correlated avg is ONE partkey aggregate joined
    back (broadcast under AQE at this scale) — the lineitem scan
    appears at most twice net of exchange reuse, not once per row."""
    from mpes_spark.decision import decision_queries

    df = decision_queries()["small_qty_avg_yearly"](spark, SF_SMALL)
    df.collect()
    final = _plan(df).split("== Initial Plan ==")[0]
    assert final.count("lineitem.parquet") - final.count("ReusedExchange") <= 2
    assert "CartesianProduct" not in final


def test_top_supplier_single_fact_pass(spark):
    """Q15 shape: the scalar max is a window over the aggregated
    supplier grid — the fact pipeline appears once, not re-derived
    for the max (the totals-self-join anti-pattern)."""
    from mpes_spark.decision import decision_queries

    df = decision_queries()["top_supplier_by_revenue"](spark, SF_SMALL)
    df.collect()
    final = _plan(df).split("== Initial Plan ==")[0]
    assert "Window" in final
    assert final.count("lineitem.parquet") - final.count("ReusedExchange") <= 1


def test_important_parts_single_fact_pass(spark):
    """Q11 shape: the global total is a window over the |part|-sized
    grid; the region-filtered supplier set broadcasts into the fact."""
    from mpes_spark.decision import decision_queries

    df = decision_queries()["important_parts_share"](spark, SF_SMALL)
    df.collect()
    final = _plan(df).split("== Initial Plan ==")[0]
    assert "Window" in final
    assert final.count("lineitem.parquet") - final.count("ReusedExchange") <= 1
    assert "BroadcastHashJoin" in final


def test_volume_shipping_one_fact_shuffle(spark):
    """Q7 shape: both nation legs broadcast; the only shuffle joins
    the two fact tables on orderkey."""
    from mpes_spark.decision import decision_queries

    df = decision_queries()["volume_shipping_pairs"](spark, SF_SMALL)
    df.collect()
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_dynamic_partition_pruning_engages(spark, tmp_path):
    """Scale technique artifact: joining a partition-columned fact
    with a filtered dim must inject a dynamicpruning IN-subquery into
    the fact scan's PartitionFilters (Spark DPP) — at 100 TB this is
    the difference between scanning 4 partitions and 10. useStats is
    disabled so the planner's benefit heuristic can't skip DPP on
    gate-scale data; results are cross-checked against the manually
    pre-filtered plan."""
    path = str(tmp_path / "dpp_fact")
    fact = spark.range(50_000).select(
        F.col("id"),
        F.pmod(F.col("id"), 10).alias("d"),
        (F.col("id") * 0.5).alias("v"),
    )
    fact.write.partitionBy("d").parquet(path)
    old = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.useStats")
    spark.conf.set(
        "spark.sql.optimizer.dynamicPartitionPruning.useStats", "false"
    )
    try:
        f = spark.read.parquet(path)
        dim = spark.createDataFrame(
            [(i, f"grp{i % 3}") for i in range(10)], ["d", "g"]
        ).filter(F.col("g") == "grp0")
        j = f.join(dim, "d").agg(
            F.round(F.sum("v"), 2).alias("s"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        qe_text = j._jdf.queryExecution().toString()
        assert "IN dynamicpruning#" in qe_text, "DPP subquery not injected"
        assert "SubqueryAdaptiveBroadcast" in qe_text
        got = j.collect()[0]
        manual = (
            f.filter(F.col("d").isin([0, 3, 6, 9]))
            .agg(
                F.round(F.sum("v"), 2).alias("s"),
                F.count(F.lit(1)).cast("bigint").alias("n"),
            )
            .collect()[0]
        )
        assert (got.s, got.n) == (manual.s, manual.n)
    finally:
        spark.conf.set(
            "spark.sql.optimizer.dynamicPartitionPruning.useStats", old
        )


def test_triangle_closure_is_semi_join(spark):
    """The wedge-closure check must render as a LeftSemi join (probe
    existence, no row multiplication) — a closing edge matching a
    wedge twice must not double-count the triangle."""
    from __spark_entry__ import queries

    plan = _plan(queries()["copurchase_triangles"](spark, SF_SMALL))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_prefix_filter_windows_computed_once(spark):
    """The prefix relation feeds BOTH sides of the candidate
    self-join; without pinning, the df-join and both window passes
    execute twice (observed: 4 Window operators). The persist must
    keep it at exactly the two distinct window specs (ranking +
    doc-size), sharing one doc-keyed exchange."""
    from mpes_spark.extras.dedup import prefix_filtered_pairs
    from mpes_spark.registry import t

    # checkpoint=False exposes the live plan (the registered query
    # eagerly checkpoints to release its caches, which collapses the
    # inspectable plan to Scan ExistingRDD)
    plan = _plan(
        prefix_filtered_pairs(
            t(spark, SF_SMALL, "documents"), threshold=0.7, n=3,
            checkpoint=False,
        )
    )
    # every Window op must live INSIDE the pinned (cached) prefix
    # relation — the top-level plan (text before the first cached-plan
    # rendering) re-executes none of them; each InMemoryTableScan
    # merely re-PRINTS the cached relation's plan below it
    top = plan.split("InMemoryRelation")[0]
    assert top.count("Window") == 0, top.count("Window")
    assert plan.count("InMemoryTableScan") >= 2  # both join sides read cache


def test_q16_anti_join_and_broadcast_dim(spark):
    """supplier_count_by_class: the NOT IN must render as a LEFT ANTI
    join (never a shuffled NOT-IN rewrite with a null-check cross
    product), and the filtered part dimension must broadcast."""
    from __spark_entry__ import queries

    plan = _plan(queries()["supplier_count_by_class"](spark, SF_SMALL))
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q12_pushes_date_filter(spark):
    """priority_lines_matrix: the ship-date range must reach the
    lineitem parquet scan as PushedFilters, and the scan must read
    only the join key + group column."""
    from __spark_entry__ import queries

    plan = _plan(queries()["priority_lines_matrix"](spark, SF_SMALL))
    assert "PushedFilters" in plan
    assert "IsNotNull(l_shipdate)" in plan or "GreaterThanOrEqual(l_shipdate" in plan
    assert "l_extendedprice" not in plan  # column pruning held


def test_dual_measure_single_intersection(spark):
    """Both dual-measure verdicts (Jaccard + containment) must derive
    from ONE candidate materialization and ONE (id_a, id_b)-keyed
    intersection aggregate — the shared-work claim. Running the two
    measures separately would show two such aggregates; the windows
    must live inside the pinned element relation, not re-execute."""
    from mpes_spark.extras.dedup import prefix_dual_pairs
    from mpes_spark.registry import t

    docs = t(spark, SF_SMALL, "documents")
    plan = _plan(
        prefix_dual_pairs(
            docs, jaccard_threshold=0.7, containment_threshold=0.9, n=3,
            checkpoint=False,
        )
    )
    top = plan.split("InMemoryRelation")[0]
    # no window re-execution outside the cached enriched relation
    assert top.count("Window") == 0, top.count("Window")
    # exactly one logical intersection aggregate keyed on the pair:
    # partial + final HashAggregate on (id_a, id_b) with count —
    # a separate-per-measure rendering would double this
    pair_aggs = [
        ln
        for ln in top.splitlines()
        if "HashAggregate" in ln and "id_a" in ln and "id_b" in ln
        and "count" in ln
    ]
    assert len(pair_aggs) <= 2, pair_aggs
    assert len(pair_aggs) >= 1, top


def test_partition_digest_diff_is_bucket_sized(spark):
    """Replica diff must be two aggregation scans + ONE full-outer
    join on the bucket key — data rows never shuffle beyond the two
    map-side-combined digests."""
    from __spark_entry__ import queries

    plan = _plan(queries()["partition_digest_diff"](spark, SF_SMALL))
    assert "FullOuter" in plan
    # one join total (the bucket-keyed full outer); everything else
    # is aggregation
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") == 1


#: (jobs, exchanges) budgets of the suite's slowest queries (by sf0.1
#: median in bench_results.json), the paper's hist_4d and the six
#: vector-search queries that run Python UDFs (LSH, multi-probe, IVF,
#: PQ, IVFADC, banded contrastive mining), at SF_SMALL on the test
#: session: the largest count over five cold-session runs when the
#: budgets were set (the vector-search counts repeated exactly). Every count repeated exactly except
#: neardup_prefix_waved's jobs (66-69: its waves submit AQE stages
#: concurrently, and the order they finish in decides how many stages
#: a re-plan still launches; hinting the waved verify's sizes joins
#: gives 66 in unloaded sessions, but 67 on a loaded host). Under AQE
#: each shuffle stage is its own job, so one extra shuffle raises the
#: job count even where the returned plan only reads a pinned result
#: (exchange budget 0). Stage counts vary between runs of the same
#: code and get no budget. The graph iterations (PageRank, label
#: propagation, k-core) run as one lazy plan with one shuffle per
#: round, so their shuffles count as exchanges of the returned plan,
#: not as pin jobs at build time.
_BUDGETS = {
    "neardup_prefix_waved": (69, 0),
    "pagerank_custsupp": (12, 7),
    "pagerank_weighted": (12, 7),
    "label_communities": (10, 6),
    "neardup_prefix_filter": (18, 0),
    "neardup_dual_measure": (19, 0),
    "clustering_coeff": (17, 9),
    "dedup_canonical_quality": (26, 3),
    "neardup_cross_ingest": (26, 0),
    "lr_train_quality": (30, 1),
    "simhash_lsh_oracle": (4, 16),
    "dup_span_mask": (7, 5),
    "minhash_lsh_pairs": (17, 9),
    "kcore_copurchase": (9, 7),
    "kcore3_copurchase": (17, 15),
    "join_ivm_delta_du": (16, 37),
    "cluster_safe_splits": (25, 13),
    "cms_topk_estimate": (7, 7),
    "cross_source_duplication": (18, 5),
    "simhash_neardup": (4, 4),
    "minhash_lsh_oracle": (12, 24),
    "hist_4d": (3, 1),
    "ann_lsh_cosine": (4, 2),
    "ann_multiprobe_cosine": (4, 2),
    "ivf_ann_cosine": (7, 2),
    "ivfpq_ann_cosine": (13, 4),
    "pq_ann_cosine": (10, 4),
    "contrastive_mining_ann": (7, 5),
}


@pytest.mark.parametrize("name", list(_BUDGETS))
def test_query_job_and_exchange_budget(spark, name):
    """Building and collecting the query runs at most its budgeted
    number of Spark jobs (counted by job group), and its AQE-final plan
    holds at most its budgeted number of exchanges. Counters, unlike
    wall time, do not move with the box's load: a rise is a plan
    change. The session's cached source schemas are dropped first, so
    every case counts its schema-inference jobs whatever ran before it.
    Whatever the query leaves pinned is released afterwards."""
    from __spark_entry__ import queries

    from mpes_spark.io.readers import _SCHEMAS

    _SCHEMAS.pop(spark, None)
    sc = spark.sparkContext
    pinned = set(sc._jsc.getPersistentRDDs().keys())
    group = f"budget-{name}"
    sc.setJobGroup(group, name)
    try:
        df = queries()[name](spark, SF_SMALL)
        df.collect()
    finally:
        sc._jsc.clearJobGroup()
        for rdd_id, rdd in sc._jsc.getPersistentRDDs().items():
            if rdd_id not in pinned:
                rdd.unpersist(False)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.finalPhysicalPlan()
    exchanges = plan.toString().count("Exchange")
    max_jobs, max_exchanges = _BUDGETS[name]
    assert jobs <= max_jobs, f"{name}: {jobs} jobs, budget {max_jobs}"
    assert exchanges <= max_exchanges, (
        f"{name}: {exchanges} exchanges, budget {max_exchanges}"
    )


#: Python nodes (``ArrowEvalPython`` + ``FlatMapGroupsInPandas``) in
#: the AQE-final plan of each vector-search query at SF_SMALL. Each
#: UDF is marked non-deterministic so the optimizer evaluates it once
#: per row; a node the optimizer duplicates, or a UDF that replaces a
#: JVM fold, changes the count. The four JVM-only queries hold none.
_PYTHON_NODES = {
    "topk_cosine": 0,
    "ann_lsh_cosine": 3,
    "ann_multiprobe_cosine": 3,
    "embed_neardup_lsh": 3,
    "embed_neardup_banded": 3,
    "semantic_dedup": 3,
    "ivf_ann_fullprobe": 3,
    "ivf_ann_cosine": 3,
    "ivfpq_ann_cosine": 4,
    "pq_ann_cosine": 2,
    "pq_ann_fullcodebook": 2,
    "contrastive_mining": 0,
    "contrastive_mining_ann": 3,
    "mmr_rerank_cosine": 1,
    "mmr_rerank_oracle": 0,
    "retrieval_eval": 0,
}


@pytest.mark.parametrize("name", list(_PYTHON_NODES))
def test_vector_search_python_nodes(spark, name):
    """Each vector-search query runs its parent number of Python
    nodes: the JVM-class queries none, the UDF-class ones exactly one
    node per UDF the operator applies."""
    from __spark_entry__ import queries

    sc = spark.sparkContext
    pinned = set(sc._jsc.getPersistentRDDs().keys())
    try:
        df = queries()[name](spark, SF_SMALL)
        df.collect()
    finally:
        for rdd_id, rdd in sc._jsc.getPersistentRDDs().items():
            if rdd_id not in pinned:
                rdd.unpersist(False)
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.finalPhysicalPlan()
    plan = plan.toString()
    nodes = plan.count("ArrowEvalPython") + plan.count("FlatMapGroupsInPandas")
    assert nodes == _PYTHON_NODES[name], f"{name}: {nodes} Python nodes"
