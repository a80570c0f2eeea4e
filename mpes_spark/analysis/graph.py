"""Iterative graph analytics on edge DataFrames.

The reference pipeline has no graph surface; this module exists for
the training-data side of the house, where link/citation/similarity
graphs drive corpus weighting (e.g. quality propagation over a link
graph, the OPIC/Common-Crawl shape). The one primitive everything
reduces to is power iteration over a sparse edge relation —
implemented here as fixed-iteration PageRank [Page et al. 1999;
Brin & Page 1998], the same join+groupBy
step the distributed connected-components resolver
(:func:`mpes_spark.extras.dedup.connected_components`) already uses,
but with a dense rank vector instead of min-label propagation.

Scale shape (100 TB of edges), after the co-partitioned links/ranks
PageRank of the RDD paper [Zaharia et al., NSDI'12]:
- the adjacency — each node with its out-neighbour list and
  out-degree — is built in ONE node-keyed shuffle and pinned once.
  The node count and dangling-node count are read off that pin as
  plain numbers, so no iteration broadcasts or cross-joins them.
- the iterations are one lazy plan. The adjacency's node-keyed
  exchange runs once and every iteration's join reuses it; each
  iteration adds one shuffle, the ``groupBy(dst)`` contribution sum
  (map-side combined), whose output is already partitioned like the
  adjacency. Joins carry a shuffle-hash hint: a broadcast would cost a
  job per iteration and a node-sized broadcast does not scale.
- the rank relation stays node-sized, never edge-sized. Only a graph
  WITH dangling nodes needs a global sum per iteration; it pins each
  iteration's contributions and reads the dangling mass off the pin.
- label propagation and k-core keep the same discipline: one
  node-keyed shuffle per round, no per-round pin or broadcast, and a
  plan that grows linearly with the round count.
- every AQE stage after the first shuffle reads only shuffle output,
  so node-sized stages are coalesced to the data's size, not run at
  ``spark.sql.shuffle.partitions`` tasks.

Pinning follows :mod:`mpes_spark.pinning`.

Fixed iteration count (rather than convergence testing) keeps the
whole computation a deterministic, oracle-replayable plan: the DuckDB
twin (:func:`pagerank_sql`) textually unrolls the same k steps as
chained CTEs. Cross-engine float drift is only the per-group summation
order (~1e-16 relative); ranks are compared normalized (mean 1.0) and
rounded to 6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from mpes_spark.pinning import release


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    normalize: bool = False,
    weight: str | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over an edge list. Runs Spark jobs
    when called: the adjacency relation is an eager local checkpoint,
    which the returned plan reads (caller-owned), as it reads the last
    iteration's pinned contributions on a graph with dangling nodes.

    Returns ``(node, rank)`` with ranks summing to 1, or — with
    ``normalize=True`` — ``(node, rank_norm)`` where ranks are scaled
    by the node count (mean exactly 1.0, the scale at which a
    6-decimal round is meaningful regardless of graph size).

    With ``weight=`` (a positive edge-weight column, e.g. trade
    volume), each source distributes its rank proportionally to edge
    weight instead of uniformly: outdeg becomes the per-source weight
    SUM and each contribution is r * w / sum_w — the standard
    weighted-PageRank generalization (uniform weights reduce to the
    unweighted ranks exactly).

    Dangling nodes (no out-edges) redistribute their mass uniformly,
    the standard correction. In the weighted case a source whose
    weights sum to <= 0 is treated as dangling too (its contributions
    would divide by zero to NULL and silently vanish from the sum,
    losing rank mass); with that rule ranks sum to 1 for any weight
    column. A graph without dangling nodes — every symmetric graph —
    plans no dangling term at all: its iterations form one lazy plan.
    With dangling nodes, each iteration's contributions are pinned and
    the dangling mass is read off that pin, so the next iteration
    takes it as a literal.
    """
    cols = [F.col(src).alias("src"), F.col(dst).alias("dst")]
    if weight is not None:
        cols.append(F.col(weight).cast("double").alias("w"))
    e = edges.select(*cols)
    if weight is None:
        to, deg_agg = F.col("dst"), F.count("to").cast("double")
        key, share = F.col("to"), F.col("r") / F.col("outdeg")
    else:
        to, deg_agg = F.struct("dst", "w"), F.sum("to.w")
        key, share = F.col("to.dst"), F.col("r") * F.col("to.w") / F.col("outdeg")
    # every node with its out-neighbours and out-degree, in ONE
    # node-keyed shuffle: each edge also names its dst as a node with
    # a typed NULL neighbour, which the aggregates skip, so a node
    # without out-edges is a row without neighbours
    halves = e.select(
        F.inline(
            F.array(
                F.struct(F.col("src").alias("node"), to.alias("to")),
                F.struct(
                    F.col("dst").alias("node"), F.when(F.lit(False), to).alias("to")
                ),
            )
        )
    )
    # outdeg > 0 is NULL-safe-false for a missing outdeg, so it
    # excludes true dangling nodes and weighted sources with
    # non-positive weight sums alike
    live = F.col("outdeg") > 0
    stats = Observation()
    # every iteration reads the adjacency: eager checkpoint, per
    # mpes_spark/pinning.py
    adj = (
        halves.groupBy("node")
        .agg(F.collect_list("to").alias("nbrs"), deg_agg.alias("outdeg"))
        .observe(
            stats,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(live, 0).otherwise(1)).alias("dangling"),
        )
        .localCheckpoint(eager=True)
    )
    # an empty graph has no rows to rank
    n = float(stats.get["n"]) or 1.0
    dangling = bool(stats.get["dangling"])
    # column expressions are built once: each costs driver round trips
    base, spread = F.lit((1.0 - damping) / n), F.coalesce(F.col("c"), F.lit(0.0))
    r = F.lit(1.0 / n)
    messages = [F.col("outdeg"), F.explode("nbrs").alias("to")]
    contribution = F.sum(share).alias("c")
    c = None
    for _ in range(iters):
        x = adj if c is None else adj.join(c.hint("shuffle_hash"), "node", "left")
        if dangling:
            mass = Observation()
            x = x.observe(mass, F.sum(F.when(live, 0.0).otherwise(r)).alias("dm"))
        superseded = c
        c = (
            x.filter(live)
            .select(r.alias("r"), *messages)
            .groupBy(key.alias("node"))
            .agg(contribution)
        )
        if dangling:
            # the next iteration takes this one's dangling mass as a
            # literal, read off the pin that computes it
            c = c.localCheckpoint(eager=True)
            if superseded is not None:
                release(superseded)
            r = base + F.lit(damping) * (spread + F.lit(mass.get["dm"] / n))
        else:
            r = base + F.lit(damping) * spread
    rank = adj if c is None else adj.join(c.hint("shuffle_hash"), "node", "left")
    if normalize:
        return rank.select("node", (r * F.lit(n)).alias("rank_norm"))
    return rank.select("node", r.alias("rank"))


def pagerank_sql(
    edges_sql: str,
    iters: int = 3,
    damping: float = 0.85,
    weighted: bool = False,
) -> str:
    """DuckDB oracle twin: the SAME k power-iteration steps as
    :func:`pagerank` (normalized output), textually unrolled into
    chained CTEs — no recursive CTE, because the recursive term may
    not aggregate over its own reference. Arithmetic is written in
    the exact expression shape the Spark side evaluates, with the
    Python-precomputed ``1 - damping`` literal inlined, so the only
    cross-engine drift is per-group float summation order.

    ``weighted=True`` mirrors :func:`pagerank`'s ``weight=`` mode:
    ``edges_sql`` must then yield (src, dst, w); outdeg becomes the
    per-source weight SUM, contributions ``r * w / outdeg``, and a
    source with weight sum <= 0 counts as dangling (the engine's
    mass-conservation rule). Keep the weights integer-valued (counts)
    so the outdeg sums are exact in both engines."""
    one_minus_d = 1.0 - damping
    deg_expr = (
        "CAST(sum(w) AS DOUBLE)" if weighted else "CAST(count(*) AS DOUBLE)"
    )
    contrib_expr = "p.r * e.w / deg.outdeg" if weighted else "p.r / deg.outdeg"
    dangling_pred = (
        "deg.outdeg IS NULL OR deg.outdeg <= 0"
        if weighted
        else "deg.outdeg IS NULL"
    )
    contrib_deg_pred = " AND deg.outdeg > 0" if weighted else ""
    parts = [
        f"WITH e AS ({edges_sql})",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst AS node FROM e)",
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes)",
        f"deg AS (SELECT src AS node, {deg_expr} AS outdeg"
        " FROM e GROUP BY src)",
        "r0 AS (SELECT node, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn)",
    ]
    for i in range(1, iters + 1):
        p = f"r{i - 1}"
        parts.append(
            f"c{i} AS (SELECT e.dst AS node, sum({contrib_expr}) AS c"
            f" FROM e JOIN {p} p ON e.src = p.node"
            f" JOIN deg ON deg.node = e.src{contrib_deg_pred} GROUP BY e.dst)"
        )
        parts.append(
            f"d{i} AS (SELECT coalesce(sum(p.r), 0.0) AS dm FROM {p} p"
            f" LEFT JOIN deg ON deg.node = p.node WHERE {dangling_pred})"
        )
        parts.append(
            f"r{i} AS (SELECT nodes.node,"
            f" {one_minus_d!r} / nn.n + {damping!r} *"
            f" (coalesce(c{i}.c, 0.0) + d{i}.dm / nn.n) AS r"
            f" FROM nodes CROSS JOIN nn CROSS JOIN d{i}"
            f" LEFT JOIN c{i} ON c{i}.node = nodes.node)"
        )
    body = ",\n".join(parts)
    return (
        f"{body}\n"
        f"SELECT node, round(r * (SELECT n FROM nn), 6) AS rank_norm"
        f" FROM r{iters}"
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    driver_edge_limit: int = 1_000_000,
) -> DataFrame:
    """Generic-graph entry point to the distributed connected-
    components resolver (min-label propagation + pointer jumping,
    two-tier driver/distributed strategy — see
    :func:`mpes_spark.extras.dedup.connected_components`, which owns
    the algorithm and its oracle/`dedup_clusters` gate coverage).
    Returns ``(node, component)`` where component is the minimum node
    id of the component. Node ids must be integral (the driver-tier
    union-find materializes a ``long`` schema); hash string ids
    through ``xxhash64`` first."""
    from mpes_spark.extras.dedup import connected_components as _cc

    pairs = edges.select(F.col(src).alias("id_a"), F.col(dst).alias("id_b"))
    out = _cc(
        pairs,
        id_col="node",
        max_iter=max_iter,
        driver_edge_limit=driver_edge_limit,
    )
    return out.select("node", F.col("cluster_id").alias("component"))


def label_propagation(
    edges: DataFrame,
    iters: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration synchronous label propagation, which runs a
    Spark job when called: the edge relation is an eager local
    checkpoint that the returned plan reads (caller-owned).

    Raghavan et al. 2007 ("Near linear time algorithm to detect
    community structures in large-scale networks") is the cheap
    community detector for near-dup cluster refinement and domain
    grouping. Every node starts labeled with itself; each round it
    adopts the most common label among its neighbors, ties broken by
    the smallest label — the deterministic variant (random
    tie-breaking in the paper), which is what makes the computation
    oracle-replayable. Neighbors are the ``dst`` of a node's edges:
    a node without out-edges has no label after round one, so edges
    into it count in round one only. Pass a SYMMETRIZED edge list
    for undirected semantics.

    Returns ``(node, label)`` after ``iters`` rounds.

    Scale shape: ONE src-keyed shuffle per round. The argmax is a
    ``mode(label, deterministic=True)`` aggregate per src — the most
    frequent label, the smallest on ties — whose per-src label counts
    combine map-side, so one exchange serves what a (src, label) count
    and a per-src argmax would each shuffle for. Round one needs no
    join (each neighbor's label is its own id); later rounds join the
    edges, exchanged by dst once for all rounds, with the previous
    round's labels, which that round's aggregate already left
    partitioned by node. All-integer counts, so the cross-engine hash
    gate is exact with no rounding at all. Edges with a NULL endpoint
    are ignored."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    # an edge with a NULL endpoint never counts. Filtering the pin with
    # both tests also gives every round's join the same edge plan (the
    # optimizer adds no per-round null tests), so the dst-keyed
    # exchange of the edges runs once for all rounds.
    e = e.localCheckpoint(eager=True).filter(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    )
    if iters < 1:
        return (
            e.select(F.explode(F.array("src", "dst")).alias("node"))
            .distinct()
            .withColumn("label", F.col("node"))
        )
    # column expressions are built once: each costs driver round trips
    node, on = F.col("src").alias("node"), F.col("dst") == F.col("node")
    argmax = F.mode("label", deterministic=True).alias("label")
    # round one: every neighbour's label is its own id
    nb = e.select("src", F.col("dst").alias("label"))
    for i in range(iters):
        labels = nb.groupBy(node).agg(argmax)
        if i + 1 < iters:
            nb = e.join(labels.hint("shuffle_hash"), on)
    return labels


def label_propagation_sql(edges_sql: str, iters: int = 3) -> str:
    """DuckDB oracle twin of :func:`label_propagation`: the same k
    rounds textually unrolled — neighbor-label counts, then the
    (count DESC, label ASC) argmax via row_number. Integer counts and
    string labels only: bit-exact across engines by construction."""
    parts = [
        f"WITH e AS ({edges_sql})",
        "l0 AS (SELECT node, node AS label FROM "
        "(SELECT src AS node FROM e UNION SELECT dst FROM e) n)",
    ]
    for i in range(1, iters + 1):
        p = f"l{i - 1}"
        parts.append(
            f"c{i} AS (SELECT e.src, l.label, count(*) AS cnt"
            f" FROM e JOIN {p} l ON e.dst = l.node GROUP BY e.src, l.label)"
        )
        parts.append(
            f"l{i} AS (SELECT src AS node, label FROM ("
            f"SELECT src, label, row_number() OVER (PARTITION BY src"
            f" ORDER BY cnt DESC, label ASC) AS rn FROM c{i}) q"
            f" WHERE rn = 1)"
        )
    body = ",\n".join(parts)
    return f"{body}\nSELECT node, label FROM l{iters}"


def _canonical_edges(
    edges: DataFrame, src: str, dst: str, assume_canonical: bool
) -> DataFrame:
    """(u, v) canonical undirected edge set. ``assume_canonical=True``
    skips the least/greatest + distinct pass for inputs that already
    satisfy src < dst with unique rows (e.g. the output of a
    ``groupBy(src, dst)`` with a src<dst filter) — the normalization
    is then an identity that still costs a full edge-relation
    exchange (r12)."""
    if assume_canonical:
        return edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _degrees(e: DataFrame) -> DataFrame:
    """(node, deg) over a canonical edge relation — one explode scan
    instead of a two-scan unionAll (r12)."""
    return (
        e.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def _oriented_triangles(e: DataFrame, deg: DataFrame) -> DataFrame:
    """Degree-ordered triangle counts (node, n_triangles) over a
    canonical edge relation ``e`` and its degree table — the shared
    core of :func:`triangle_count` and
    :func:`clustering_coefficient` (r12: previously each built its
    own canonical edge set and degree table, re-running the upstream
    edge derivation)."""
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("deg_v"))
    ed = e.join(du, "u").join(dv, "v")
    ku = F.struct(F.col("deg_u").alias("d"), F.col("u").alias("n"))
    kv = F.struct(F.col("deg_v").alias("d"), F.col("v").alias("n"))
    # orient from lower (deg, id) to higher; carry the head's key so
    # the wedge join can k-order its two heads without a deg re-join
    oriented = ed.select(
        F.when(ku < kv, F.col("u")).otherwise(F.col("v")).alias("lo"),
        F.when(ku < kv, F.col("v")).otherwise(F.col("u")).alias("hi"),
        F.when(ku < kv, kv).otherwise(ku).alias("hi_key"),
    ).localCheckpoint(eager=True)
    o1 = oriented.select(
        F.col("lo").alias("apex"),
        F.col("hi").alias("b"),
        F.col("hi_key").alias("kb"),
    )
    o2 = oriented.select(
        F.col("lo").alias("apex"),
        F.col("hi").alias("c"),
        F.col("hi_key").alias("kc"),
    )
    wedges = o1.join(o2, "apex").filter(F.col("kb") < F.col("kc"))
    closing = oriented.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    tri = wedges.join(closing, ["b", "c"], "left_semi").select("apex", "b", "c")
    corners = tri.select(
        F.explode(F.array("apex", "b", "c")).alias("node")
    )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    assume_canonical: bool = False,
) -> DataFrame:
    """Exact per-node triangle counts, which runs Spark jobs when
    called: the oriented edge set the returned plan reads is an eager
    local checkpoint (caller-owned).

    Counts over an undirected edge list via DEGREE-ORDERED edge
    orientation (the compact-forward / node-iterator++ algorithm:
    Schank & Wagner 2005, Suri & Vassilvitskii WWW'11): orient every
    edge from its lower-(degree, id) endpoint to the higher one,
    enumerate wedges only at each edge's LOW endpoint, and close
    wedges with a semi-join against the oriented edge set. Returns
    (node, n_triangles) for nodes in at least one triangle.

    Why orientation is the 100-TB shape: un-oriented wedge counting
    pays sum(deg^2) — a single celebrity node with degree 1e6
    generates 10^12 wedges. Orientation bounds every node's
    OUT-degree by O(sqrt(m)) (a node keeps only neighbors of equal or
    larger degree), so wedge volume is O(m^{3/2}) worst-case —
    optimal for triangle enumeration — and the skew moves into the
    (deg, id) tuple comparison, not the join fan-out. All joins are
    equi-keyed (wedge join on the apex, closure on the (b, c) pair);
    counts are integers, so the oracle hash gate is exact.

    Input edges may be in any order/duplication state; they are
    canonicalized (min, max) and de-duplicated first (skip that pass
    with ``assume_canonical=True`` when the input is already
    src<dst-unique). The canonical edge set is pinned until the
    orientation is (r12): it feeds both the degree aggregation and the
    orientation join, so an unpinned edge lineage (often an expensive
    upstream derivation, e.g. a co-occurrence self-join) would execute
    twice."""
    e = _canonical_edges(edges, src, dst, assume_canonical).localCheckpoint(
        eager=True
    )
    tri = _oriented_triangles(e, _degrees(e))
    release(e)
    return tri


def triangles_per_node_sql(edges_sql: str) -> str:
    """Oracle twin of :func:`triangle_count`: canonical-edge triple
    join (a < b < c by node id — orientation is a physical
    optimization, the triangle SET is identical), then the corner
    explode rendered as a UNION ALL. ``edges_sql`` must yield
    (src, dst) in any order/duplication state."""
    return f"""
WITH raw AS ({edges_sql}),
e AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM raw WHERE src <> dst
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1
  JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
  JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v
)
SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
FROM (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
) corners
GROUP BY node
""".strip()


def clustering_coefficient(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    assume_canonical: bool = False,
) -> DataFrame:
    """Per-node local clustering coefficient, which runs Spark jobs
    when called: the degree table and oriented edge set the returned
    plan reads are eager local checkpoints (caller-owned).

    cc(v) = T(v) / (deg(v) choose 2) over an undirected edge list —
    the standard local density signal (Watts & Strogatz 1998) layered
    on the degree-ordered triangle counter. Returns every node of
    degree >= 2 as (node, deg, n_triangles, n_wedges, cc_micro) where
    ``cc_micro`` is the coefficient in integer micro-units via exact
    integer division (2e6*T DIV deg*(deg-1)) — ALL columns integers,
    so the oracle gate is exact with zero float anywhere. Cost on top of
    :func:`triangle_count`: one node-keyed left join — the canonical
    edge set and its degree table are built ONCE and shared with the
    triangle core (r12: previously this function and triangle_count
    each derived their own copies, executing the upstream edge
    derivation and the canonicalizing distinct twice each)."""
    e = _canonical_edges(edges, src, dst, assume_canonical).localCheckpoint(
        eager=True
    )
    # node-sized; consumed by the orientation joins AND the final
    # cc join — pin so the degree shuffle runs once
    deg = _degrees(e).localCheckpoint(eager=True)
    tri = _oriented_triangles(e, deg)
    release(e)
    t = F.coalesce(F.col("n_triangles"), F.lit(0))
    return (
        deg.filter(F.col("deg") >= 2)
        .join(tri, "node", "left")
        .select(
            "node",
            F.col("deg").cast("bigint").alias("deg"),
            t.cast("bigint").alias("n_triangles"),
            (F.col("deg") * (F.col("deg") - 1) / 2)
            .cast("bigint")
            .alias("n_wedges"),
            F.expr(
                "CAST((2000000 * coalesce(n_triangles, 0)) "
                "DIV (deg * (deg - 1)) AS BIGINT)"
            ).alias("cc_micro"),
        )
    )


def clustering_coefficient_sql(edges_sql: str) -> str:
    """Oracle twin of :func:`clustering_coefficient` (canonical triple
    join for the triangle set, same integer micro-unit division)."""
    return f"""
WITH raw AS ({edges_sql}),
e AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM raw WHERE src <> dst
),
deg AS (
  SELECT node, count(*) AS deg FROM (
    SELECT u AS node FROM e UNION ALL SELECT v FROM e
  ) GROUP BY node
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1
  JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
  JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v
),
tcnt AS (
  SELECT node, count(*) AS n_triangles FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) corners GROUP BY node
)
SELECT d.node,
       CAST(d.deg AS BIGINT) AS deg,
       CAST(coalesce(t.n_triangles, 0) AS BIGINT) AS n_triangles,
       CAST(d.deg * (d.deg - 1) // 2 AS BIGINT) AS n_wedges,
       CAST((2000000 * coalesce(t.n_triangles, 0))
            // (d.deg * (d.deg - 1)) AS BIGINT) AS cc_micro
FROM deg d LEFT JOIN tcnt t USING (node)
WHERE d.deg >= 2
""".strip()


def kcore(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 6,
    src: str = "src",
    dst: str = "dst",
    assume_canonical: bool = False,
) -> DataFrame:
    """k-core peeling as one lazy plan: it runs no Spark job when
    called and pins nothing.

    Iteratively delete nodes of degree < ``k`` (with their edges)
    for ``rounds`` iterations; return (node, deg_core) — each
    surviving node's degree inside the surviving subgraph. At
    fixpoint this is the classic k-core [Seidman 1983], the standard
    "dense part" extractor for link graphs (spam farms and
    boilerplate interlinks melt away with the low-degree periphery;
    what survives is the genuinely cross-referenced core a crawler
    should trust).

    Fixed ``rounds`` (not a convergence test) keeps the whole
    computation one deterministic oracle-replayable plan — the DuckDB
    twin (:func:`kcore_sql`) textually unrolls the same peels; each
    peel removes at least one node or the state is already the
    fixpoint, and peeling is monotone, so any ``rounds`` >= the true
    peel depth yields the exact k-core (the fixpoint pytest asserts
    this on a chain graph engineered to need every round).

    Scale shape: the state is node-keyed — each node with the list of
    its surviving neighbours, built from the undirected edge set in
    one shuffle (``collect_set`` drops duplicate and reversed edges;
    ``assume_canonical=True`` skips that set for src<dst-unique
    inputs). A node's degree is then the size of its list, so a peel
    needs no degree join: each node of degree >= ``k`` sends its id to
    itself and to every neighbour, and ONE node-keyed shuffle regroups
    the messages. A node that heard from itself survives, and the
    neighbours it heard from are exactly its surviving edges. Each
    round reads the previous one once, so the plan grows linearly
    with ``rounds``; the edge-keyed degree table and two semi-joins per
    peel that an edge-list formulation needs would reference every
    round's state twice."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    if not assume_canonical:
        e = e.filter(F.col("u") != F.col("v"))
    halves = e.select(
        F.inline(
            F.array(
                F.struct(F.col("u").alias("node"), F.col("v").alias("nbr")),
                F.struct(F.col("v").alias("node"), F.col("u").alias("nbr")),
            )
        )
    )
    collect = F.collect_list if assume_canonical else F.collect_set
    adj = halves.groupBy("node").agg(collect("nbr").alias("nbrs"))
    # column expressions are built once: each costs driver round trips
    survives = F.size("nbrs") >= k
    # (frm, node): frm's id sent to node; frm == node is frm's own copy
    sends = [
        F.col("node").alias("frm"),
        F.explode(F.concat(F.array("node"), F.col("nbrs"))).alias("node"),
    ]
    own = F.col("frm") == F.col("node")
    regroup = [
        F.collect_list(F.when(~own, F.col("frm"))).alias("nbrs"),
        F.max(own).alias("alive"),
    ]
    for _ in range(rounds):
        adj = (
            adj.filter(survives)
            .select(*sends)
            .groupBy("node")
            .agg(*regroup)
            .filter("alive")
        )
    return adj.filter(F.size("nbrs") > 0).select(
        "node", F.size("nbrs").cast("bigint").alias("deg_core")
    )


def kcore_sql(edges_sql: str, k: int = 3, rounds: int = 6) -> str:
    """Oracle twin of :func:`kcore`: the same ``rounds`` peels
    textually unrolled as chained CTEs. Every CTE is MATERIALIZED:
    each peel references the previous edge state twice and its degree
    table twice, so DuckDB's default inlining re-derives the chain
    combinatorially (measured 89 s vs 1-2 s at sf0.01) — exactly the
    re-execution hazard the Spark side's per-round localCheckpoint
    pins away."""
    parts = [
        f"raw AS MATERIALIZED ({edges_sql})",
        "e0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u, "
        "greatest(src, dst) AS v FROM raw WHERE src <> dst)",
    ]
    for r in range(rounds):
        parts.append(
            f"d{r} AS MATERIALIZED (SELECT node, count(*) AS deg FROM ("
            f"SELECT u AS node FROM e{r} UNION ALL SELECT v AS node FROM e{r}"
            f") n GROUP BY node)"
        )
        parts.append(
            f"e{r + 1} AS MATERIALIZED (SELECT e.u, e.v FROM e{r} e "
            f"JOIN d{r} a ON a.node = e.u AND a.deg >= {k} "
            f"JOIN d{r} b ON b.node = e.v AND b.deg >= {k})"
        )
    final = rounds
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT node, CAST(count(*) AS BIGINT) AS deg_core
FROM (
  SELECT u AS node FROM e{final} UNION ALL SELECT v AS node FROM e{final}
) n GROUP BY node
""".rstrip()
    )
