"""Semantic tests for analysis/graph.py and extras/sketches.py —
the oracle parity tests prove cross-engine equality; these prove the
MATH is right (numpy power-iteration reference, sketch error bounds,
mass conservation, dangling handling)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from mpes_spark.analysis.graph import pagerank
from tests.conftest import SF_ORACLE


def _pagerank_numpy(edges, iters, damping):
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out = np.zeros(n)
    for u, _ in edges:
        out[idx[u]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        contrib = np.zeros(n)
        for u, v in edges:
            contrib[idx[v]] += r[idx[u]] / out[idx[u]]
        dangling = r[out == 0].sum()
        r = (1 - damping) / n + damping * (contrib + dangling / n)
    return {nodes[i]: r[i] for i in range(n)}


def test_pagerank_matches_numpy_reference(spark):
    # a small graph WITH a dangling node (d has no out-edges)
    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("b", "d")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["node"]: r["rank"]
        for r in pagerank(df, iters=5, damping=0.85).collect()
    }
    want = _pagerank_numpy(edges, iters=5, damping=0.85)
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-12)


def test_pagerank_matches_numpy_reference_without_dangling_node(spark):
    """Every node has an out-edge, so the iterations plan no dangling
    term at all; the ranks must still be the reference's."""
    edges = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
        ("c", "d"), ("d", "a"), ("d", "b"), ("e", "d"),
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    for iters in (1, 5):
        got = {
            r["node"]: r["rank"]
            for r in pagerank(df, iters=iters, damping=0.85).collect()
        }
        want = _pagerank_numpy(edges, iters=iters, damping=0.85)
        assert set(got) == set(want)
        for k in want:
            assert got[k] == pytest.approx(want[k], abs=1e-12), (iters, k)


def test_pagerank_mass_conserved_and_normalized(spark):
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")]
    df = spark.createDataFrame(edges, "src string, dst string")
    ranks = [r["rank"] for r in pagerank(df, iters=4).collect()]
    assert sum(ranks) == pytest.approx(1.0, abs=1e-12)
    norm = [r["rank_norm"] for r in pagerank(df, iters=4, normalize=True).collect()]
    assert np.mean(norm) == pytest.approx(1.0, abs=1e-12)


def test_cms_one_sided_error_all_tokens(spark):
    """CMS estimates are >= exact for EVERY token (not just top-k):
    run the estimate with topk covering the whole vocab."""
    from mpes_spark.extras.sketches import cms_topk_estimate_sql

    sql = cms_topk_estimate_sql(
        f"parquet.`{SF_ORACLE}/documents.parquet`",
        "spark",
        width=16,
        topk=10_000,
    )
    rows = spark.sql(sql).collect()
    assert rows, "empty estimate"
    assert all(r["cms_est"] >= r["exact_cnt"] for r in rows)
    # width 16 on a 31-token vocab must collide somewhere
    assert any(r["cms_est"] > r["exact_cnt"] for r in rows)


def test_hll_estimate_within_bound(spark):
    """HLL standard error is 1.04/sqrt(m); assert 5 sigma at m=256
    (~6.5%) against the exact distinct count."""
    from mpes_spark.extras.sketches import hll_estimate_sql

    sql = hll_estimate_sql(
        f"parquet.`{SF_ORACLE}/events.parquet`", "user_id", "spark"
    )
    row = spark.sql(sql).collect()[0]
    assert row["m"] == 256
    exact = row["exact_distinct"]
    err = abs(row["est_distinct"] - exact) / exact
    assert err < 5 * 1.04 / np.sqrt(256)


def test_bloom_never_false_negative(spark):
    """Probe the bloom with exactly its own build keys: every key
    must pass (n_pass == n_true == n_build) and false positives are
    impossible by construction."""
    from mpes_spark.extras.sketches import bloom_semijoin_sql

    tbl = f"parquet.`{SF_ORACLE}/customer.parquet`"
    row = spark.sql(
        bloom_semijoin_sql(
            tbl, "c_custkey", tbl, "c_custkey", "spark", m_bits=512, k=3
        )
    ).collect()[0]
    assert row["n_pass"] == row["n_true"] == row["n_build_keys"]
    assert row["n_false_pos"] == 0


def test_bloom_prunes_nonmembers(spark):
    """Disjoint probe side (suppliers vs a customer-key bloom offset
    far away): everything that passes is a false positive, and with
    m >> n the filter prunes most of the probe side."""
    from mpes_spark.extras.sketches import bloom_semijoin_sql

    row = spark.sql(
        bloom_semijoin_sql(
            f"parquet.`{SF_ORACLE}/customer.parquet`",
            "c_custkey + 1000000",
            f"parquet.`{SF_ORACLE}/orders.parquet`",
            "o_custkey",
            "spark",
            m_bits=8192,
            k=3,
        )
    ).collect()[0]
    assert row["n_true"] == 0
    assert row["n_pass"] == row["n_false_pos"]
    assert row["n_pass"] < row["n_probe_keys"] * 0.2


def test_cms_join_size_one_sided(spark):
    from mpes_spark.extras.sketches import cms_join_size_sql

    ev = f"parquet.`{SF_ORACLE}/events.parquet`"
    for w in (64, 1024):
        row = spark.sql(
            cms_join_size_sql(
                ev,
                "user_id",
                ev,
                "user_id",
                "spark",
                width=w,
                pred_a="event_type = 'purchase'",
                pred_b="event_type = 'click'",
            )
        ).collect()[0]
        assert row["est_join_size"] >= row["exact_join_size"] > 0


def test_key_skew_profile_hand_computed(spark):
    from mpes_spark.diagnostics import key_skew_profile

    rows = [("a",)] * 6 + [("b",)] * 3 + [("c",)] * 1
    df = spark.createDataFrame(rows, "k string")
    r = key_skew_profile(df, "k").collect()[0]
    assert r["n_keys"] == 3 and r["total"] == 10 and r["max_cnt"] == 6
    assert r["max_share"] == pytest.approx(0.6)
    assert r["top10_share"] == pytest.approx(1.0)
    want_ent = -sum(p * np.log(p) for p in (0.6, 0.3, 0.1))
    assert r["entropy"] == pytest.approx(want_ent, abs=1e-6)


def test_hll_register_layout_deterministic(spark):
    """Same input twice -> identical estimate (pure column math, no
    sampling, no session state)."""
    from mpes_spark.extras.sketches import hll_estimate_sql

    sql = hll_estimate_sql(
        f"parquet.`{SF_ORACLE}/events.parquet`", "user_id", "spark"
    )
    a = spark.sql(sql).collect()[0]
    b = spark.sql(sql).collect()[0]
    assert a == b


def test_merge_rollups_split_invariant(spark):
    """IVM algebra: any 3-way split of the input merges to the same
    rollup as the single pass (cnt/min/max exact; sum to
    finalize-rounding)."""
    from mpes_spark.transforms.rollup import (
        finalize_rollup,
        merge_rollups,
        time_rollup,
    )
    from mpes_spark.registry import t
    from tests.conftest import SF_SMALL

    ev = t(spark, SF_SMALL, "events")
    hour = 3_600_000_000_000
    parts = [
        ev.filter(F.col("event_id") % 3 == i) for i in range(3)
    ]
    merged = finalize_rollup(
        merge_rollups(*[time_rollup(p, measure="value", bucket_ns=hour) for p in parts])
    ).orderBy("bucket").toPandas()
    single = finalize_rollup(
        time_rollup(ev, measure="value", bucket_ns=hour)
    ).orderBy("bucket").toPandas()
    assert merged.equals(single)


def test_quantile_hist_cells_merge_by_addition(spark):
    """The histogram quantile sketch's mergeability claim: cell
    counts from two halves sum to the whole corpus's cells."""
    from mpes_spark.registry import t
    from tests.conftest import SF_SMALL

    ev = t(spark, SF_SMALL, "events").filter(
        (F.col("value") >= 0) & (F.col("value") < 500)
    )

    def cells(df):
        return (
            df.groupBy(F.floor(F.col("value") / 0.5).cast("bigint").alias("bin"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
            .toPandas()
            .set_index("bin")["cnt"]
        )

    a = cells(ev.filter(F.col("event_id") % 2 == 0))
    b = cells(ev.filter(F.col("event_id") % 2 == 1))
    whole = cells(ev)
    merged = a.add(b, fill_value=0).astype("int64").sort_index()
    assert merged.equals(whole.sort_index())


def test_auto_salted_agg_decision_and_equivalence(spark):
    """auto_salted_agg: tiny budget forces salting, huge budget stays
    plain; both produce the plain-groupBy answer."""
    from mpes_spark.diagnostics import auto_salted_agg
    from mpes_spark.registry import t
    from tests.conftest import SF_SMALL

    ev = t(spark, SF_SMALL, "events")
    want = {
        r["event_type"]: (r["n"], r["mx"])
        for r in ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.max("value").alias("mx"))
        .collect()
    }

    salted, dec = auto_salted_agg(
        ev, ["event_type"], {"value": "max", "event_id": "count"},
        rows_per_task_budget=100,
    )
    assert dec["salt_buckets"] > 1
    plain, dec2 = auto_salted_agg(
        ev, ["event_type"], {"value": "max", "event_id": "count"},
        rows_per_task_budget=10_000_000_000,
    )
    assert dec2["salt_buckets"] == 1
    for df in (salted, plain):
        got = {
            r["event_type"]: (r["count_event_id"], r["max_value"])
            for r in df.collect()
        }
        assert got == want


def test_dq_checks_fail_when_violated(spark):
    """A narrow range and a nullable column must come back passed=0
    with the right fractional metrics; satisfied checks pass."""
    from mpes_spark.dq import (
        InRange,
        MinRows,
        NotNull,
        Unique,
        check_constraints,
        referential_integrity,
    )

    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, None), (3, 40.0)], "id bigint, v double"
    )
    rep = {
        r["check_name"]: (r["metric"], r["passed"])
        for r in check_constraints(
            df,
            [Unique("id"), NotNull("v"), InRange("v", 0.0, 15.0), MinRows(10)],
        ).collect()
    }
    assert rep["unique_id"] == (0.75, 0)
    assert rep["notnull_v"] == (0.75, 0)
    assert rep["range_v"][1] == 0  # only 1 of 3 non-null in [0, 15]
    assert rep["min_rows"] == (4.0, 0)

    ref = spark.createDataFrame([(1,), (2,)], "k bigint")
    fk = referential_integrity(df, "id", ref, "k").collect()[0]
    assert fk["passed"] == 0 and 0 < fk["metric"] < 1


def test_weighted_pagerank_uniform_reduces_to_unweighted(spark):
    edges = [("a", "b", 2.0), ("a", "c", 2.0), ("b", "c", 5.0), ("c", "a", 1.0)]
    df = spark.createDataFrame(edges, "src string, dst string, w double")
    plain = {
        r["node"]: r["rank"] for r in pagerank(df, iters=5).collect()
    }
    # constant weights -> identical ranks
    const = {
        r["node"]: r["rank"]
        for r in pagerank(
            df.withColumn("w", F.lit(3.0)), iters=5, weight="w"
        ).collect()
    }
    for k in plain:
        assert const[k] == pytest.approx(plain[k], abs=1e-12)


def test_weighted_pagerank_follows_weight(spark):
    """a splits 90/10 between b and c: b must outrank c."""
    edges = [
        ("a", "b", 9.0),
        ("a", "c", 1.0),
        ("b", "a", 1.0),
        ("c", "a", 1.0),
    ]
    df = spark.createDataFrame(edges, "src string, dst string, w double")
    got = {
        r["node"]: r["rank"]
        for r in pagerank(df, iters=8, weight="w").collect()
    }
    assert got["b"] > got["c"]
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-12)


def test_corpus_pipeline_check_gate(spark):
    from mpes_spark.dq import MinRows, NotNull, Unique
    from mpes_spark.extras.pipeline import CorpusPipeline
    from tests.conftest import SF_ORACLE

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    p = CorpusPipeline(docs)
    rep = p.check([Unique("doc_id"), NotNull("text"), MinRows(10)])
    assert all(r["passed"] == 1 for r in rep.collect())
    with pytest.raises(ValueError, match="min_rows"):
        p.check([MinRows(10_000_000)], fail_fast=True)


def test_graph_connected_components_wrapper(spark):
    """Two components + a transitive chain, through both tiers."""
    from mpes_spark.analysis.graph import connected_components

    edges = [(1, 2), (2, 3), (10, 11)]
    df = spark.createDataFrame(edges, "src long, dst long")
    for limit in (1_000_000, 0):  # driver union-find tier, distributed tier
        got = {
            r["node"]: r["component"]
            for r in connected_components(df, driver_edge_limit=limit).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


# -- hypothesis properties (Spark-free numpy/pandas replicas keep the
#    example count high without per-example Spark jobs; one Spark
#    confirmation run per property lives above) ---------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 20), st.floats(0, 100, allow_nan=False)),
        min_size=1,
        max_size=200,
    ),
    st.integers(2, 5),
)
def test_rollup_merge_algebra_numpy(rows, nsplit):
    """merge_rollups algebra on the driver: any split of (bucket, x)
    rows re-merges to the single-pass rollup exactly for cnt/min/max
    and to 2-dp rounding for sum — the invariant the Spark
    implementation relies on (Spark-side single confirmation:
    test_merge_rollups_split_invariant)."""
    import pandas as pd

    df = pd.DataFrame(rows, columns=["bucket", "x"])

    def roll(d):
        return d.groupby("bucket")["x"].agg(["count", "sum", "min", "max"])

    whole = roll(df)
    parts = [df.iloc[i::nsplit] for i in range(nsplit)]
    merged = (
        pd.concat([roll(p) for p in parts if len(p)])
        .groupby(level=0)
        .agg({"count": "sum", "sum": "sum", "min": "min", "max": "max"})
    )
    assert merged["count"].equals(whole["count"])
    assert merged["min"].equals(whole["min"])
    assert merged["max"].equals(whole["max"])
    assert (merged["sum"].round(2) - whole["sum"].round(2)).abs().max() <= 0.01


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.one_of(st.none(), st.floats(-50, 50, allow_nan=False)),
        min_size=1,
        max_size=100,
    )
)
def test_dq_oracle_sql_matches_python_reference(vals):
    """The dq DuckDB oracle twin against a plain-python reference on
    generated data (engine-free side of the gate: if this holds and
    the Spark-vs-oracle gate holds, Spark matches the reference by
    transitivity)."""
    import duckdb

    from mpes_spark.dq import InRange, MinRows, NotNull, dq_report_sql

    con = duckdb.connect()
    con.execute("CREATE TABLE tv (v DOUBLE)")
    con.executemany("INSERT INTO tv VALUES (?)", [(v,) for v in vals])
    rep = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            dq_report_sql("tv", [NotNull("v"), InRange("v", 0.0, 15.0), MinRows(10)])
        ).fetchall()
    }
    nn = [v for v in vals if v is not None]
    want_nn = round(len(nn) / len(vals), 6)
    assert rep["notnull_v"] == (want_nn, int(want_nn >= 1.0))
    if nn:
        want_ir = round(sum(1 for v in nn if 0.0 <= v <= 15.0) / len(nn), 6)
        assert rep["range_v"] == (want_ir, int(want_ir >= 1.0))
    assert rep["min_rows"] == (float(len(vals)), int(len(vals) >= 10))


@settings(max_examples=150, deadline=None)
@given(
    st.lists(  # (qid, doc, rank-slot) ranking entries
        st.tuples(st.integers(0, 3), st.integers(0, 30)),
        min_size=1,
        max_size=40,
        unique=True,
    ),
    st.lists(  # (qid, doc) relevant pairs
        st.tuples(st.integers(0, 3), st.integers(0, 30)),
        min_size=1,
        max_size=40,
        unique=True,
    ),
)
def test_retrieval_metrics_python_reference(rank_pairs, rel_pairs):
    """Property: the SQL-twin arithmetic of retrieval_metrics matches
    a direct python computation of recall@k / RR@k / nDCG@k on random
    ranking/relevance relations (DuckDB executes the twin; the Spark
    side's parity with the twin is pinned by the retrieval_eval oracle
    row and the hand-computed Spark test in test_extras)."""
    import math

    import duckdb

    k = 5
    # build a valid ranking: per qid, ranks 1..n in insertion order
    seen: dict[int, int] = {}
    ranking = []
    for qid, doc in rank_pairs:
        if any(q == qid and d == doc for q, d, _ in ranking):
            continue
        seen[qid] = seen.get(qid, 0) + 1
        ranking.append((qid, doc, seen[qid]))
    rel = [(q, d, 1.0) for q, d in rel_pairs]

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE trk (query_id INT, neighbor_id INT, rank INT)"
    )
    con.executemany("INSERT INTO trk VALUES (?, ?, ?)", ranking)
    con.execute("CREATE TABLE trl (query_id INT, neighbor_id INT, rel DOUBLE)")
    con.executemany("INSERT INTO trl VALUES (?, ?, ?)", rel)

    from mpes_spark.extras.search import retrieval_metrics_sql

    sql = retrieval_metrics_sql(
        "SELECT * FROM trk", "SELECT * FROM trl", k=k, qid="query_id"
    )
    got = {
        row[0]: row[1:]
        for row in con.execute(sql).fetchall()
    }

    # python reference
    rel_by_q: dict[int, set] = {}
    for q, d, _ in rel:
        rel_by_q.setdefault(q, set()).add(d)
    rank_by_q: dict[int, list] = {}
    for q, d, r in ranking:
        if r <= k:
            rank_by_q.setdefault(q, []).append((r, d))
    for q, docs in rel_by_q.items():
        hits = sorted(
            (r, d) for r, d in rank_by_q.get(q, []) if d in docs
        )
        n_rel = len(docs)
        recall = round(len(hits) / n_rel, 6)
        rr = round(1.0 / hits[0][0], 6) if hits else 0.0
        dcg = sum(1.0 / math.log2(r + 1) for r, _ in hits)
        idcg = sum(1.0 / math.log2(i + 2) for i in range(min(k, n_rel)))
        ndcg = round(dcg / idcg, 6)
        want = (n_rel, recall, rr, ndcg)
        assert got[q] == pytest.approx(want, abs=1e-9), (q, got[q], want)
    assert set(got) == set(rel_by_q)


def test_label_propagation_two_cliques(spark):
    """Two 4-cliques joined by one bridge edge: after 3 rounds each
    clique converges to one label and the two labels differ."""
    from mpes_spark.analysis.graph import label_propagation

    def clique(names):
        return [
            (a, b) for a in names for b in names if a < b
        ]

    e = clique(["a1", "a2", "a3", "a4"]) + clique(["b1", "b2", "b3", "b4"])
    e.append(("a1", "b1"))
    sym = e + [(b, a) for a, b in e]
    edges = spark.createDataFrame(sym, ["src", "dst"])
    out = {r.node: r.label for r in label_propagation(edges, iters=3).collect()}
    a_labels = {out[n] for n in ["a2", "a3", "a4"]}
    b_labels = {out[n] for n in ["b2", "b3", "b4"]}
    assert len(a_labels) == 1 and len(b_labels) == 1
    assert a_labels != b_labels


def _label_propagation_reference(edges, iters):
    """Synchronous label propagation in plain Python: each round, a
    node with out-edges takes the most frequent label among the
    current labels of its edges' dst nodes (the smallest on ties); a
    node without labelled out-neighbours has no label afterwards."""
    from collections import Counter

    labels = {n: n for e in edges for n in e}
    for _ in range(iters):
        counts: dict = {}
        for u, v in edges:
            if v in labels:
                counts.setdefault(u, Counter())[labels[v]] += 1
        labels = {
            u: min(c, key=lambda lab: (-c[lab], lab)) for u, c in counts.items()
        }
    return labels


def test_label_propagation_matches_python_reference(spark):
    """Directed edges with a sink (``s`` has no out-edges, so it loses
    its label after round one and edges into it stop counting), a
    duplicated edge (counts twice), and label ties, which the smallest
    label must win."""
    from mpes_spark.analysis.graph import label_propagation

    edges = [
        ("a", "b"), ("a", "c"), ("a", "s"),
        ("b", "a"), ("b", "c"),
        ("c", "a"), ("c", "d"), ("c", "d"),
        ("d", "e"), ("e", "d"), ("e", "s"),
        ("f", "s"), ("f", "e"), ("g", "f"), ("g", "b"),
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    for iters in (1, 2, 3, 4):
        got = {r.node: r.label for r in label_propagation(df, iters=iters).collect()}
        assert got == _label_propagation_reference(edges, iters), iters


def test_label_propagation_deterministic(spark):
    from mpes_spark.analysis.graph import label_propagation

    e = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("x", "a")]
    sym = e + [(b, a) for a, b in e]
    edges = spark.createDataFrame(sym, ["src", "dst"])
    r1 = sorted(map(tuple, label_propagation(edges, iters=4).collect()))
    r2 = sorted(map(tuple, label_propagation(edges, iters=4).collect()))
    assert r1 == r2


def test_triangle_count_hand_graph(spark):
    """K4 plus a pendant: every K4 node is in C(3,2)=3 triangles; the
    pendant is in none and absent from the output. Duplicate and
    reversed input edges must not change counts."""
    from mpes_spark.analysis.graph import triangle_count

    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    edges = k4 + [(4, 5)] + [(b, a) for a, b in k4]  # + reversed dupes
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["n_triangles"] for r in triangle_count(df).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_count_star_skew(spark):
    """Celebrity-skew shape: a star (hub + 40 leaves) has NO
    triangles; adding one leaf-leaf edge creates exactly one. The
    degree-ordered orientation keeps the hub's out-degree at 0 or 1 —
    assert the count, and that wedge enumeration happened at the low
    endpoints (output correctness implies it)."""
    from mpes_spark.analysis.graph import triangle_count

    star = [(0, i) for i in range(1, 41)]
    df = spark.createDataFrame(star, "src long, dst long")
    assert triangle_count(df).collect() == []
    df2 = spark.createDataFrame(star + [(1, 2)], "src long, dst long")
    got = {r["node"]: r["n_triangles"] for r in triangle_count(df2).collect()}
    assert got == {0: 1, 1: 1, 2: 1}


def test_weighted_pagerank_uniform_reduces_to_unweighted(spark):
    """The documented reduction: constant edge weights give exactly
    the unweighted ranks (w/sum_w == 1/outdeg per source). And a
    skewed weight shifts rank toward the heavy target."""
    from mpes_spark.analysis.graph import pagerank

    edges = [(1, 2), (2, 1), (1, 3), (3, 1), (2, 3), (3, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    dfw = df.withColumn("w", F.lit(7.0))
    base = {r["node"]: r["rank"] for r in pagerank(df, iters=3).collect()}
    unif = {
        r["node"]: r["rank"]
        for r in pagerank(dfw, iters=3, weight="w").collect()
    }
    assert base == unif  # bit-exact, not approximately

    skew = spark.createDataFrame(
        [(1, 2, 9.0), (1, 3, 1.0), (2, 1, 1.0), (2, 3, 1.0),
         (3, 1, 1.0), (3, 2, 1.0)],
        "src long, dst long, w double",
    )
    ranks = {r["node"]: r["rank"] for r in pagerank(skew, iters=3, weight="w").collect()}
    assert ranks[2] > ranks[3]  # node 1 routes 90% of its mass to 2
    assert abs(sum(ranks.values()) - 1.0) < 1e-9  # mass conserved


def test_kcore_peels_to_fixpoint(spark):
    """k-core on a path feeding a triangle (k=2): the path must peel
    ONE node per round (each round exposes the next endpoint), so
    rounds < path length is NOT yet the fixpoint while rounds >= it
    is — and the fixpoint equals the triangle with all degrees 2,
    matching a driver-loop reference peel."""
    from mpes_spark.analysis.graph import kcore

    # path p1..p5 chained into triangle node t1; triangle t1-t2-t3
    edges = [
        (1, 2), (2, 3), (3, 4), (4, 5), (5, 10),
        (10, 11), (11, 12), (12, 10),
    ]
    e = spark.createDataFrame(edges, "src long, dst long")

    full = {r["node"]: r["deg_core"] for r in kcore(e, k=2, rounds=5).collect()}
    assert full == {10: 2, 11: 2, 12: 2}
    # also stable beyond the peel depth (monotone fixpoint)
    more = {r["node"]: r["deg_core"] for r in kcore(e, k=2, rounds=7).collect()}
    assert more == full

    # too few rounds: the path has NOT fully peeled yet
    early = {r["node"]: r["deg_core"] for r in kcore(e, k=2, rounds=2).collect()}
    assert set(early) > {10, 11, 12}

    # driver-loop reference peel
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    changed = True
    while changed:
        drop = {n for n, nb in adj.items() if len(nb) < 2}
        changed = bool(drop)
        for n in drop:
            for m in adj[n]:
                adj[m].discard(n)
            del adj[n]
    assert {n: len(nb) for n, nb in adj.items()} == full


def test_kcore_k3_matches_reference_peel(spark):
    """k=3 peeling on a squared path (node i ~ i+1, i+2) welded to a
    K5 clique: the squared path's free end has degree 2, and removing
    it only then drops its neighbor below 3 — so the tail peels in
    cascading WAVES (one node per round, eight waves) rather than all
    at once, exercising the unrolled-round machinery the
    kcore3_copurchase gate relies on. The K5 (every degree 4) survives
    as the exact 3-core; the expectation is a driver-loop reference
    peel."""
    from mpes_spark.analysis.graph import kcore

    edges = [(i, i + 1) for i in range(1, 8)] + [(i, i + 2) for i in range(1, 7)]
    edges += [(1, 20), (1, 21)]
    edges += [(a, b) for a in range(20, 25) for b in range(a + 1, 25)]
    e = spark.createDataFrame(edges, "src long, dst long")

    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    waves = 0
    while True:
        drop = {n for n, nb in adj.items() if len(nb) < 3}
        if not drop:
            break
        waves += 1
        for n in drop:
            for m in adj[n]:
                adj[m].discard(n)
            del adj[n]
    want = {n: len(nb) for n, nb in adj.items()}
    assert waves >= 4, f"engineered graph must peel in waves, got {waves}"
    assert set(want) == set(range(20, 25))  # the K5 is the exact 3-core

    got = {r["node"]: r["deg_core"] for r in kcore(e, k=3, rounds=waves).collect()}
    assert got == want
    # stable beyond the peel depth (monotone fixpoint)
    more = {r["node"]: r["deg_core"] for r in kcore(e, k=3, rounds=waves + 3).collect()}
    assert more == want
    # too few rounds has NOT converged yet
    early = {r["node"]: r["deg_core"] for r in kcore(e, k=3, rounds=1).collect()}
    assert set(early) > set(want)


def test_clustering_coefficient_planted(spark):
    """K4 minus one edge: the two degree-3 nodes see 2 of 3 wedges
    closed (cc = 2/3), the two degree-2 nodes see their single wedge
    closed (cc = 1); an appended pendant path contributes a cc = 0
    node of degree 2."""
    from mpes_spark.analysis.graph import clustering_coefficient

    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (4, 5), (5, 6)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = {r.node: r for r in clustering_coefficient(df).collect()}
    # K4 minus (3,4): nodes 1,2 deg 3 with 2 triangles; 3 deg 2 cc 1
    assert out[1].deg == 3 and out[1].n_triangles == 2
    assert out[1].n_wedges == 3 and out[1].cc_micro == 666666
    assert out[3].deg == 2 and out[3].cc_micro == 1_000_000
    assert out[5].deg == 2 and out[5].n_triangles == 0
    assert out[5].cc_micro == 0
    assert 6 not in out  # degree 1 -> no coefficient
