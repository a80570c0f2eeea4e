"""Embedding similarity search: brute-force cosine top-k and
hyperplane-LSH bucketed ANN over an ``embeddings(vec_id, embedding
array<float>, label)`` relation.

Dot products are pure ``aggregate(zip_with(...))`` column math —
JVM-side, no UDF; elements are cast to double before the fold so the
DuckDB oracle (``list_dot_product`` over ``::DOUBLE[]``) performs the
same IEEE-754 accumulation, and cosines are rounded to 6 dp on both
engines to absorb any summation-order ulp drift.

Scale notes (100 TB / 1e9+ vectors):
- brute-force top-k broadcasts the *query* set (small) against the
  corpus — one scan, no shuffle of the corpus, per-partition partial
  top-k via the window only over (query x corpus-partition) rows.
- the LSH path buckets the corpus once (deterministic hyperplane
  signs), so each query probes only its bucket: the join is equi-keyed
  on bucket id. Recall is tuned by nplanes (fewer planes -> bigger
  buckets) or multi-probe; an IVF variant would replace the bucket id
  with a learned centroid id, same join shape.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mpes_spark.pinning import release


def as_double_array(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot_expr(a: Column, b: Column) -> Column:
    """Left-to-right fold of elementwise products (matches DuckDB's
    sequential list_dot_product)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(dot_expr(a, a))


def cosine_expr(a: Column, b: Column, digits: int = 6) -> Column:
    return F.round(dot_expr(a, b) / (norm_expr(a) * norm_expr(b)), digits)


def _seq_dots_np(vecs: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """(n, dim) x (p, dim) -> (n, p) dot products with STRICT
    left-to-right summation — ``np.add.accumulate`` is a sequential
    fold by definition, so every sum is bit-identical to the
    ``aggregate(zip_with(a, b, *), 0.0, +)`` Column fold and to
    DuckDB's ``list_dot_product``. (A plain ``@``/``einsum`` uses
    pairwise summation: ~1e-16 relative differences that can flip a
    hyperplane sign or a threshold comparison and desync the oracle.)"""
    prods = vecs[:, None, :] * planes[None, :, :]  # exact elementwise
    return np.add.accumulate(prods, axis=2)[:, :, -1]


def signature_udf(planes: np.ndarray, bands: int):
    """Arrow-vectorized banded SRP signature: embedding ->
    array<bigint> of per-band bucket ids. The plane matrix rides in
    the UDF closure (broadcast once per executor), so the PLAN stays
    constant-size at any plane budget — production configs (w=20,
    bands=32 -> 640 planes) would otherwise inflate a literal
    expression tree to ~10^5 constants, and the per-plane relation
    join costs one interpreted 64-element fold per (vector, plane)
    row (measured: 3.1 s for 2000 x 24 at sf0.1 vs ~0.1 s here).
    Bucket bits use fold-exact dots (see :func:`_seq_dots_np`)."""
    import pandas as pd

    nplanes = len(planes)
    if nplanes % bands:
        raise ValueError(f"bands={bands} must divide nplanes={nplanes}")
    w = nplanes // bands
    P = np.ascontiguousarray(planes, dtype=np.float64)
    weights = (1 << np.arange(w, dtype=np.int64))

    @F.pandas_udf("array<bigint>")
    def sig(embs: pd.Series) -> pd.Series:
        if not len(embs):
            return pd.Series([], dtype=object)
        V = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in embs], dtype=np.float64
        )
        bits = _seq_dots_np(V, P) > 0  # (n, nplanes)
        buckets = bits.reshape(len(V), bands, w) @ weights  # (n, bands)
        return pd.Series(list(buckets))

    # Non-deterministic marking (r11, guide §4.4): filters that
    # reference a UDF-computed column (the isnotnull() the planner
    # infers for bucket join keys, the cosine threshold) get pushed
    # below the projection and the optimizer then evaluates the UDF
    # TWICE — once for the filter, once for the output column
    # (observed: 4 sig + 2 cos ArrowEvalPython nodes in
    # embed_neardup_lsh where 2 + 1 are needed). The UDF is pure;
    # the marking only forbids the optimizer from duplicating or
    # reordering it, so results are unchanged and every vector pays
    # the signature exactly once.
    return sig.asNondeterministic()


def cosine_verify_udf():
    """Arrow-vectorized pairwise cosine for candidate verification —
    fold-exact (see :func:`_seq_dots_np`), so thresholding and
    round(6) agree bit-for-bit with the Column/SQL rendering."""
    import pandas as pd

    @F.pandas_udf("double")
    def cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        if not len(va):
            return pd.Series([], dtype=np.float64)
        A = np.asarray([np.asarray(v, dtype=np.float64) for v in va])
        B = np.asarray([np.asarray(v, dtype=np.float64) for v in vb])
        dot = np.add.accumulate(A * B, axis=1)[:, -1]
        na = np.sqrt(np.add.accumulate(A * A, axis=1)[:, -1])
        nb = np.sqrt(np.add.accumulate(B * B, axis=1)[:, -1])
        return pd.Series(dot / (na * nb))

    # one evaluation per candidate (guide §4.4 — see signature_udf)
    return cos.asNondeterministic()


def _lit_array(vals: np.ndarray) -> Column:
    return F.array(*[F.lit(float(v)) for v in vals])


def _sql_array(vals: np.ndarray) -> str:
    return "[" + ", ".join(repr(float(v)) for v in vals) + "]"


# ---------------------------------------------------------------------------
# the rules every vector-search operator shares: prune to candidates
# (probe join), verify exactly, rank per query
# ---------------------------------------------------------------------------

_SIDES = {"q": ("query_id", "qv"), "c": ("neighbor_id", "cv")}


def _vectors(df: DataFrame, side: str, id_col: str, vec: str, *extra) -> DataFrame:
    """The query (``"q"``: query_id, qv) or corpus (``"c"``:
    neighbor_id, cv) side of a search, vectors as array<double>."""
    key, v = _SIDES[side]
    return df.select(F.col(id_col).alias(key), as_double_array(vec).alias(v), *extra)


def _probe_join(
    c: DataFrame, q: DataFrame, key: str | None, score: Column, name: str = "cosine", *extra
) -> DataFrame:
    """Score corpus rows (neighbor_id, ...) against the broadcast
    queries (query_id, ...): equi-joined on the probe column ``key``,
    or every pair when ``key`` is None; self-matches dropped."""
    neq = F.col("neighbor_id") != F.col("query_id")
    pairs = c.join(F.broadcast(q), neq) if key is None else c.join(F.broadcast(q), [key]).filter(neq)
    return pairs.select("query_id", "neighbor_id", score.alias(name), *extra)


def _topk(
    scored: DataFrame, k, score: str = "cosine", keys=("query_id",), rank: str = "rank"
) -> DataFrame:
    """Per-query top-k: ``row_number`` over ``keys`` by ``score``
    descending, then neighbor id; keeps rank <= ``k`` (an int, or a
    Column for a per-row bound) as a BIGINT ``rank`` column."""
    w = Window.partitionBy(*keys).orderBy(F.col(score).desc(), F.col("neighbor_id"))
    return (
        scored.withColumn(rank, F.row_number().over(w))
        .filter(F.col(rank) <= k)
        .withColumn(rank, F.col(rank).cast("bigint"))
    )


def _probe_topk(corpus, queries, k, vec, id_col, corpus_key, query_key, probes=None):
    """Bucketed ANN top-k: the corpus keyed by ``corpus_key`` (over
    cv), each query by ``query_key`` (over qv), widened to a probe set
    by ``probes`` if given; candidates verified with the fold-exact
    cosine UDF."""
    c = _vectors(corpus, "c", id_col, vec).withColumn("key", corpus_key)
    q = _vectors(queries, "q", id_col, vec).withColumn("key", query_key)
    if probes is not None:
        q = q.withColumn("key", F.explode(probes(F.col("key"))))
    cos = cosine_verify_udf()
    return _topk(_probe_join(c, q, "key", F.round(cos(F.col("qv"), F.col("cv")), 6)), k)


def _rerank(shortlist: DataFrame, corpus, queries, k, vec, id_col) -> DataFrame:
    """Exact cosine top-k over a (query_id, neighbor_id) shortlist: an
    equi-join back to the float vectors, L rows per query."""
    exact = (
        shortlist.select("query_id", "neighbor_id")
        .join(_vectors(corpus, "c", id_col, vec), "neighbor_id")
        .join(F.broadcast(_vectors(queries, "q", id_col, vec)), "query_id")
        .select("query_id", "neighbor_id", cosine_expr(F.col("qv"), F.col("cv")).alias("cosine"))
    )
    return _topk(exact, k)


def _verified(pairs: DataFrame, threshold: float) -> DataFrame:
    """Candidate pairs (id_a, id_b, va, vb) whose exact cosine reaches
    ``threshold``: compared raw (like the oracle), rounded for output."""
    cos = cosine_verify_udf()
    return (
        pairs.withColumn("raw", cos(F.col("va"), F.col("vb")))
        .filter(F.col("raw") >= threshold)
        .select("id_a", "id_b", F.round("raw", 6).alias("cosine"))
    )


def _polarity_topk(scored: DataFrame, pos: int, neg: int) -> DataFrame:
    """Contrastive ranking: the top ``pos`` same-label and top ``neg``
    different-label candidates per (query, polarity)."""
    k = F.when(F.col("is_positive") == 1, pos).otherwise(neg)
    return _topk(scored, k, keys=("query_id", "is_positive"), rank="pair_rank").select(
        "query_id", F.col("neighbor_id").alias("cand_id"), "cosine", "is_positive", "pair_rank"
    )


def _polarity(label: str):
    """(query-side, corpus-side, is_positive) label columns."""
    return (
        F.col(label).alias("q_label"),
        F.col(label).alias("c_label"),
        (F.col("c_label") == F.col("q_label")).cast("int").alias("is_positive"),
    )


# ---------------------------------------------------------------------------
# brute-force top-k
# ---------------------------------------------------------------------------

def topk_cosine(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    vec: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k cosine neighbors per query (self-match excluded):
    (query_id, neighbor_id, cosine, rank). The query side is
    broadcast; ties broken by neighbor id for determinism."""
    # JVM Column fold, not the Arrow UDF: with data-borne vectors the
    # expression tree is constant-size (no plane-literal blowup, the
    # reason signature_udf exists), and a cold session pays ~4s of
    # Python-worker + Arrow startup for the UDF that the fold avoids
    # (measured at sf0.1; results are bit-identical — both folds are
    # strict left-to-right)
    c = _vectors(corpus, "c", id_col, vec)
    q = _vectors(queries, "q", id_col, vec)
    return _topk(_probe_join(c, q, None, cosine_expr(F.col("qv"), F.col("cv"))), k)


def topk_cosine_sql(
    table: str,
    query_pred: str,
    k: int = 3,
    vec: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """DuckDB oracle twin of :func:`topk_cosine` with the query set
    defined by ``query_pred`` (e.g. ``vec_id < 8``)."""
    return f"""
WITH c AS (SELECT {id_col}, {vec}::DOUBLE[] AS v FROM {table}),
q AS (SELECT {id_col} AS query_id, v AS qv FROM c WHERE {query_pred.replace(id_col, id_col)}),
scored AS (
  SELECT q.query_id, c.{id_col} AS neighbor_id,
         round(list_dot_product(q.qv, c.v) /
               (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.v, c.v))), 6) AS cosine
  FROM c JOIN q ON c.{id_col} <> q.query_id
),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {k}
""".strip()


# ---------------------------------------------------------------------------
# hyperplane LSH (signed random projections)
# ---------------------------------------------------------------------------

def hyperplanes(dim: int, nplanes: int, seed: int = 7) -> np.ndarray:
    """Deterministic Gaussian hyperplanes (Charikar's SRP-LSH for
    cosine). Seeded so Spark and the oracle share the same planes."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((nplanes, dim))


def bucket_expr(vec: Column, planes: np.ndarray) -> Column:
    """Bucket id = bit vector of dot-product signs."""
    b = F.lit(0).cast("bigint")
    for j, plane in enumerate(planes):
        b = b + F.when(
            dot_expr(vec, _lit_array(plane)) > 0, F.lit(1 << j).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
    return b


def bucket_sql(vec_sql: str, planes: np.ndarray) -> str:
    terms = [
        f"(CASE WHEN list_dot_product({vec_sql}, {_sql_array(p)}) > 0 "
        f"THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j, p in enumerate(planes)
    ]
    return "(" + " + ".join(terms) + ")"


def ann_lsh_cosine(
    corpus: DataFrame,
    queries: DataFrame,
    planes: np.ndarray,
    k: int = 3,
    vec: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: only corpus vectors in the query's hyperplane
    bucket are scored. Join is equi-keyed on bucket id (shuffle-light);
    at 1e9 vectors the bucketed corpus would be written
    partitioned-by-bucket so probes prune to one partition."""
    sig = signature_udf(planes, 1)
    return _probe_topk(
        corpus, queries, k, vec, id_col,
        sig(F.col("cv")).getItem(0), sig(F.col("qv")).getItem(0),
    )


def ann_lsh_cosine_sql(
    table: str,
    query_pred: str,
    planes: np.ndarray,
    k: int = 3,
    vec: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    bsql = bucket_sql("v", planes)
    return f"""
WITH c AS (
  SELECT {id_col}, {vec}::DOUBLE[] AS v FROM {table}
),
cb AS (SELECT {id_col} AS neighbor_id, v, {bsql} AS bucket FROM c),
qb AS (SELECT {id_col} AS query_id, v AS qv, {bsql} AS bucket FROM c WHERE {query_pred}),
scored AS (
  SELECT qb.query_id, cb.neighbor_id,
         round(list_dot_product(qb.qv, cb.v) /
               (sqrt(list_dot_product(qb.qv, qb.qv)) * sqrt(list_dot_product(cb.v, cb.v))), 6) AS cosine
  FROM cb JOIN qb USING (bucket)
  WHERE cb.neighbor_id <> qb.query_id
),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {k}
""".strip()


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the learned-bucket scale path
# ---------------------------------------------------------------------------

def _sample(corpus: DataFrame, vec: str, rows: int, seed: int) -> np.ndarray:
    """A bounded seeded sample of the vectors as an (n, dim) float64
    matrix. The sample is a seeded uniform ``.sample()`` over the whole
    corpus — NOT a ``.limit()`` prefix, which on a sorted/clustered
    corpus (e.g. ingested shard-by-shard) would train a quantizer on
    one cluster and starve the rest. The one count() it costs is a
    metadata-cheap scan."""
    n = corpus.count()
    if n > rows:
        # oversample 2x then cap, so the post-filter row count reliably
        # reaches `rows` despite Bernoulli-sampling variance
        frac = min(1.0, 2.0 * rows / n)
        sampled = corpus.select(vec).sample(fraction=frac, seed=seed).limit(rows)
    else:
        sampled = corpus.select(vec)
    pdf = sampled.toPandas()
    if pdf.empty:
        # Bernoulli sampling can in principle return zero rows on a
        # small corpus just above `rows` (ADVICE r8) — fall back to the
        # unsampled bounded select rather than np.stack([]).
        pdf = corpus.select(vec).limit(rows).toPandas()
    if pdf.empty:
        raise ValueError("corpus has no vectors")
    return np.stack(pdf[vec].to_numpy()).astype("float64")


def _sqdist(X: np.ndarray, cent: np.ndarray) -> np.ndarray:
    """(n, d) x (k, d) -> (n, k) squared Euclidean distances."""
    return ((X[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)


def _lloyd(X: np.ndarray, k: int, iters: int, rng) -> np.ndarray:
    """Lloyd k-means from ``k`` seeded distinct rows -> (k, d)
    centroids; an empty cluster keeps its centroid."""
    cent = X[rng.choice(len(X), size=k, replace=False)]
    for _ in range(iters):
        assign = _sqdist(X, cent).argmin(axis=1)
        for j in range(k):
            m = assign == j
            if m.any():
                cent[j] = X[m].mean(axis=0)
    return cent


def train_ivf_centroids(
    corpus: DataFrame,
    k: int = 16,
    sample_rows: int = 10_000,
    iters: int = 10,
    seed: int = 7,
    vec: str = "embedding",
) -> np.ndarray:
    """Driver-side Lloyd k-means on a bounded sample -> (k, dim)
    centroids. The sample collect is capped (`sample_rows`), never the
    corpus; at 1e9 vectors the same code trains on a 1e5-row sample —
    standard IVF practice (coarse quantizer quality needs samples,
    not the full set; see :func:`_sample`)."""
    X = _sample(corpus, vec, sample_rows, seed)
    return _lloyd(X, k, iters, np.random.default_rng(seed))


def quantizer_error(
    corpus: DataFrame,
    centroids: np.ndarray,
    sample_rows: int = 2_000,
    seed: int = 11,
    vec: str = "embedding",
) -> float:
    """Mean nearest-centroid squared distance over a bounded seeded
    sample — the quantization-error health metric for a trained IVF
    coarse quantizer. Collect is capped at ``sample_rows`` regardless
    of corpus size (same discipline as :func:`train_ivf_centroids`)."""
    X = _sample(corpus, vec, sample_rows, seed)
    return float(_sqdist(X, np.asarray(centroids, dtype="float64")).min(axis=1).mean())


def quantizer_refresh(
    corpus: DataFrame,
    state: dict | None,
    *,
    drift_threshold: float = 0.25,
    k: int = 16,
    sample_rows: int = 10_000,
    err_sample_rows: int = 2_000,
    iters: int = 10,
    seed: int = 7,
    vec: str = "embedding",
) -> dict:
    """Drift-triggered IVF quantizer maintenance (the production ANN
    upkeep story): measure the current quantization error on a bounded
    sample; when it exceeds ``(1 + drift_threshold) x`` the error
    recorded at train time, re-train the coarse quantizer on a fresh
    bounded sample and reset the baseline. Composes the two gated
    components (:func:`train_ivf_centroids` sampling discipline,
    :func:`quantizer_error` metric) — centroids stay k x dim driver
    state, nothing corpus-sized ever reaches the driver, so the same
    call pattern works from a streaming ``foreachBatch`` sink.

    ``state`` is ``None`` (first call -> trains) or the dict a prior
    call returned: ``{"centroids", "baseline_err", "generation"}``.
    Returns the (possibly refreshed) state plus per-call telemetry
    ``{"err", "retrained"}``."""
    if state is None:
        cent = train_ivf_centroids(
            corpus, k=k, sample_rows=sample_rows, iters=iters, seed=seed, vec=vec
        )
        base = quantizer_error(
            corpus, cent, sample_rows=err_sample_rows, seed=seed + 1, vec=vec
        )
        return {
            "centroids": cent,
            "baseline_err": base,
            "generation": 0,
            "err": base,
            "retrained": True,
        }
    err = quantizer_error(
        corpus, state["centroids"], sample_rows=err_sample_rows,
        seed=seed + 1, vec=vec,
    )
    if err <= (1.0 + drift_threshold) * state["baseline_err"]:
        return {**state, "err": err, "retrained": False}
    cent = train_ivf_centroids(
        corpus, k=k, sample_rows=sample_rows, iters=iters,
        seed=seed + state["generation"] + 1, vec=vec,
    )
    base = quantizer_error(
        corpus, cent, sample_rows=err_sample_rows, seed=seed + 1, vec=vec
    )
    return {
        "centroids": cent,
        "baseline_err": base,
        "generation": state["generation"] + 1,
        "err": err,
        "retrained": True,
    }


def ivf_assign(
    df: DataFrame, centroids: np.ndarray, vec: str = "embedding", out: str = "list_id"
) -> DataFrame:
    """Nearest-centroid assignment via an Arrow-batched pandas UDF
    (vectorized argmin against the centroid matrix in the UDF closure —
    the k x dim distance matrix per batch stays in numpy)."""
    return df.withColumn(out, _nearest_udf(centroids)(F.col(vec)))


def ivf_probe_udf(centroids: np.ndarray, nprobe: int):
    """Arrow-vectorized query-side probe: embedding -> the ids of its
    ``nprobe`` nearest inverted lists (centroid matrix in the UDF
    closure, batch argsort)."""
    return _nearest_udf(centroids, nprobe)


def _nearest_udf(centroids: np.ndarray, nprobe: int | None = None):
    """embedding -> its nearest centroid id (``nprobe`` None, an int),
    or the ids of its ``nprobe`` nearest centroids (an array<int>).
    The matrix rides in the closure; pyspark broadcasts any pickled
    UDF over 1 MB itself, and centroid matrices are a few KB."""
    cent = np.asarray(centroids, dtype="float64")

    @F.pandas_udf("int" if nprobe is None else "array<int>")
    def nearest(vs: pd.Series) -> pd.Series:
        d2 = _sqdist(np.stack(vs.to_numpy()).astype("float64"), cent)
        if nprobe is None:
            return pd.Series(d2.argmin(axis=1).astype("int32"))
        return pd.Series(list(np.argsort(d2, axis=1)[:, :nprobe].astype("int32")))

    # one evaluation per vector (guide §4.4 — see signature_udf)
    return nearest.asNondeterministic()


def ivf_topk_cosine(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    k: int = 3,
    nprobe: int = 1,
    vec: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF ANN: corpus sharded into inverted lists by nearest
    centroid; each query scores only its ``nprobe`` nearest lists.
    Join is equi-keyed on list id. At 1e9 vectors the assigned corpus
    is written ``partitionBy(list_id)`` once, so probes prune to
    nprobe partitions; recall is tuned by nprobe (and k of the
    quantizer)."""
    return _probe_topk(
        corpus, queries, k, vec, id_col,
        _nearest_udf(centroids)(F.col("cv")),
        ivf_probe_udf(centroids, nprobe)(F.col("qv")),
        probes=lambda lists: lists,
    )


# ---------------------------------------------------------------------------
# Product Quantization (PQ) ANN — the compressed-domain scale path
# ---------------------------------------------------------------------------

def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 16,
    sample_rows: int = 10_000,
    iters: int = 10,
    seed: int = 7,
    vec: str = "embedding",
) -> np.ndarray:
    """Train PQ codebooks (Jégou et al. 2011): split the vector into
    ``m`` subspaces, run Lloyd k-means with ``ksub`` centroids in each
    -> (m, ksub, dim/m) codebooks. Vectors are L2-normalized before
    training so the asymmetric-distance scores approximate COSINE.

    Driver-trains on a seeded uniform sample (bounded collect, never
    the corpus) exactly like the IVF coarse quantizer; at 1e9 vectors
    the same code trains on a 1e5-row sample. Codebook size is
    m * ksub * dsub doubles — a few KB — trivially broadcastable."""
    X = _sample(corpus, vec, sample_rows, seed)
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"m={m} must divide dim={dim}")
    dsub = dim // m
    rng = np.random.default_rng(seed)
    return np.stack(
        [_lloyd(X[:, j * dsub : (j + 1) * dsub], ksub, iters, rng) for j in range(m)]
    )


def fixed_pq_codebooks(m: int = 8, ksub: int = 16, dsub: int = 8) -> np.ndarray:
    """Deterministic, engine-portable PQ codebooks on a dyadic-rational
    grid: entry ``(j, c, d)`` is ``(((j*31 + c*17 + d*7) % 23) - 11) /
    16``. Every value is an exact binary fraction, so the Python float
    and its SQL literal rendering are the SAME real number — which is
    what lets the ADC scoring path run under a DuckDB hash gate
    (``pq_topk_cosine_fixed_sql``). 17 is invertible mod 23 and
    ksub <= 23, so the ``ksub`` centroids of a subspace are pairwise
    distinct. Not a trained quantizer — a gate fixture; the learned
    path (``train_pq_codebooks``) stays rows-only by design."""
    j, c, d = np.ogrid[:m, :ksub, :dsub]
    return (((j * 31 + c * 17 + d * 7) % 23) - 11) / 16.0


def pq_topk_cosine_fixed_sql(
    table: str,
    query_pred: str,
    codebooks: np.ndarray,
    k: int = 3,
    vec: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """DuckDB oracle twin of ``pq_topk_cosine(rerank=None)`` for FIXED
    codebooks passed as literals: encode = per-subspace argmin of
    centroid distance on the L2-normalized vector (``list_distance`` is
    monotone in the squared distance numpy argmins over), ADC score =
    sum over subspaces of ``list_inner_product(chosen centroid,
    normalized query sub-vector)``. This puts the whole compressed-
    domain scoring pipeline — normalize, encode, table-lookup score,
    rank — under the driver's value-hash, the same construction
    ``ivf_ann_fullprobe`` uses for the IVF half."""
    B = np.asarray(codebooks, dtype="float64")
    m, ksub, dsub = B.shape

    def _lst(a: np.ndarray) -> str:
        return "[" + ", ".join(repr(float(x)) for x in a) + "]"

    books_rows = ",\n  ".join(
        f"({j}, [" + ", ".join(_lst(B[j, c]) for c in range(ksub)) + "])"
        for j in range(m)
    )
    norm = (
        f"list_transform({vec}::DOUBLE[], x -> x / "
        f"sqrt(list_inner_product({vec}::DOUBLE[], {vec}::DOUBLE[])))"
    )
    sub = f"[{dsub}*j+1:{dsub}*j+{dsub}]"
    dists = f"list_transform(cents, ce -> list_distance(nv{sub}, ce))"
    return f"""
WITH books(j, cents) AS (VALUES
  {books_rows}),
c AS (SELECT {id_col} AS neighbor_id, {norm} AS nv FROM {table}),
q AS (SELECT {id_col} AS query_id, {norm} AS qv FROM {table} WHERE {query_pred}),
enc AS (
  SELECT neighbor_id, j,
         cents[list_position({dists}, list_min({dists}))] AS cent
  FROM c CROSS JOIN books
),
contrib AS (
  SELECT query_id, neighbor_id,
         list_inner_product(e.cent, q.qv{sub}) AS part
  FROM enc e CROSS JOIN q
  WHERE e.neighbor_id <> q.query_id
),
scored AS (
  SELECT query_id, neighbor_id, round(sum(part), 6) AS adc_score
  FROM contrib GROUP BY query_id, neighbor_id
),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY adc_score DESC, neighbor_id) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, adc_score, rank FROM ranked WHERE rank <= {k}
""".strip()


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    vec: str = "embedding",
    out: str = "codes",
) -> DataFrame:
    """Encode each vector to ``m`` sub-codes (nearest codebook entry
    per subspace of the L2-normalized vector) via one Arrow-batched
    pandas UDF — 64x compression for dim=64/m=8 (8 bytes vs 512).
    At corpus scale the encoded relation is what you persist; the
    float vectors are only re-read for exact re-ranking."""
    B = np.ascontiguousarray(codebooks, dtype="float64")  # (m, ksub, dsub)
    m, _, dsub = B.shape

    @F.pandas_udf("array<int>")
    def _enc(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype=object)
        X = np.stack(vs.to_numpy()).astype("float64")
        X = X / np.linalg.norm(X, axis=1, keepdims=True)
        codes = np.empty((len(X), m), dtype="int32")
        for j in range(m):
            codes[:, j] = _sqdist(X[:, j * dsub : (j + 1) * dsub], B[j]).argmin(axis=1)
        return pd.Series(list(codes))

    # one evaluation per vector (guide §4.4 — see signature_udf)
    return df.withColumn(out, _enc.asNondeterministic()(F.col(vec)))


def _adc_udf(queries: DataFrame, codebooks: np.ndarray, vec: str, id_col: str):
    """ADC (asymmetric distance computation) scorer: each normalized
    query's (m, ksub) table of sub-dot-products against the codebooks
    is built on the driver and rides in the UDF closure; the UDF scores
    a (codes, query_id) row as the sum of its m table lookups."""
    B = np.ascontiguousarray(codebooks, dtype="float64")
    m, _, dsub = B.shape
    qpdf = queries.select(id_col, vec).toPandas()
    tables: dict[int, np.ndarray] = {}
    for qid, v in zip(qpdf[id_col], qpdf[vec]):
        q = np.asarray(v, dtype="float64")
        q = q / np.linalg.norm(q)
        tables[int(qid)] = np.stack([B[j] @ q[j * dsub : (j + 1) * dsub] for j in range(m)])

    @F.pandas_udf("double")
    def _adc(codes: pd.Series, qid: pd.Series) -> pd.Series:
        if not len(codes):
            return pd.Series([], dtype=np.float64)
        C = np.stack(codes.to_numpy())  # (batch, m)
        out = np.empty(len(C))
        sub = np.arange(C.shape[1])
        for q in np.unique(qid.to_numpy()):
            mask = (qid == q).to_numpy()
            out[mask] = tables[int(q)][sub[None, :], C[mask]].sum(axis=1)
        return pd.Series(out)

    # one evaluation per candidate (guide §4.4 — see signature_udf)
    return _adc.asNondeterministic()


def pq_topk_cosine(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 3,
    rerank: int | None = None,
    vec: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """PQ asymmetric-distance top-k: each (normalized) query
    precomputes an (m, ksub) table of sub-dot-products against the
    codebooks on the driver; corpus side is scored by summing m table
    lookups per encoded vector — approximate cosine without touching
    the float vectors.

    ``rerank=L`` adds the production second stage: the ADC scores
    only SELECT an L-deep shortlist per query, and the final top-k is
    exact cosine over the shortlist (an equi-join back to the float
    vectors — L rows per query, not the corpus). On a near-isotropic
    corpus 4-bit sub-codes cannot resolve the top-1 margin by
    themselves (measured here: ADC-only top-3 recall ~1/8 at
    dim=64/m=8/ksub=16, shortlist-100 re-rank 8/8), which is exactly
    why every deployed PQ system re-ranks. Without ``rerank`` the raw
    ADC ordering is returned (column ``adc_score``); with it, exact
    ``cosine``.

    Scale shape: the per-query tables (m * ksub doubles each) ride
    the scorer's UDF closure (:func:`_adc_udf`); the corpus pays one encode pass (or reads persisted
    codes) and one scan per query batch. No shuffle of the corpus;
    the top-k is a per-query window. Production stacks IVF for
    pruning + PQ for in-list scoring (IVFADC) — both halves exist
    here as composable operators."""
    adc = _adc_udf(queries, codebooks, vec, id_col)
    enc = pq_encode(
        corpus.select(F.col(id_col).alias("neighbor_id"), vec), codebooks, vec
    ).drop(vec)
    qids = queries.select(F.col(id_col).alias("query_id"))
    score = F.round(adc(F.col("codes"), F.col("query_id")), 6)
    scored = _probe_join(enc, qids, None, score, "adc_score")
    if rerank is None:
        return _topk(scored, k, "adc_score")
    return _rerank(_topk(scored, rerank, "adc_score"), corpus, queries, k, vec, id_col)


def ivfpq_topk_cosine(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    k: int = 3,
    nprobe: int = 2,
    rerank: int = 50,
    vec: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVFADC — the full production ANN stack (Jégou 2011), composed
    from the two halves implemented above:

    1. IVF prune: corpus sharded into inverted lists by nearest
       coarse centroid; each query probes its ``nprobe`` lists
       (equi-join on list id — at 10^9 vectors the encoded corpus is
       written ``partitionBy(list_id)``, so probing prunes
       partitions).
    2. ADC score: inside probed lists, PQ table-lookup scoring over
       the 8-byte codes — no float vectors touched.
    3. Exact re-rank: the ``rerank``-deep ADC shortlist joins back to
       the float vectors for exact cosine top-k.

    Every stage's data volume shrinks before the next: corpus ->
    nprobe lists -> L shortlist -> k."""
    enc = pq_encode(
        ivf_assign(corpus.select(F.col(id_col).alias("neighbor_id"), vec), centroids, vec=vec),
        codebooks,
        vec=vec,
    ).select("neighbor_id", "list_id", "codes")
    adc = _adc_udf(queries, codebooks, vec, id_col)
    q = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec).alias("_qv"))
        .withColumn("list_id", F.explode(ivf_probe_udf(centroids, nprobe)(F.col("_qv"))))
        .drop("_qv")
    )
    scored = _probe_join(enc, q, "list_id", adc(F.col("codes"), F.col("query_id")), "adc")
    return _rerank(_topk(scored, rerank, "adc"), corpus, queries, k, vec, id_col)


def embedding_neardup_pairs(
    corpus: DataFrame,
    planes: np.ndarray,
    threshold: float = 0.95,
    vec: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs *within LSH buckets*:
    (id_a, id_b, cosine >= threshold). Same bucket-join discipline —
    exact near-dup pairs whose members land in different buckets are
    (documented) recall loss, the standard LSH trade.

    Sizing: with p planes there are 2^p buckets, so the expected
    within-bucket candidate volume is ~n^2 / 2^p. A fixed small p does
    NOT survive corpus growth (8 planes at 1e9 vectors -> ~4M
    rows/bucket -> ~10^12 pair evaluations); p must scale as
    ``p >= log2(n / target_bucket_rows)``. But raising p alone
    collapses recall (P[same bucket] = (1 - theta/pi)^p). The scale
    answer is :func:`embedding_neardup_banded` below, which decouples
    the two: band width sets bucket granularity, band count restores
    recall. This single-bucket form is kept as the oracle-simplest
    variant."""
    sig = signature_udf(planes, 1)
    c = corpus.select(
        F.col(id_col), as_double_array(vec).alias("v")
    ).withColumn("bucket", sig(F.col("v")).getItem(0))
    a, b = c.alias("a"), c.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.col("a.v").alias("va"),
        F.col("b.v").alias("vb"),
    )
    return _verified(pairs, threshold)


def embedding_neardup_sql(
    table: str,
    planes: np.ndarray,
    threshold: float = 0.95,
    vec: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    bsql = bucket_sql("v", planes)
    return f"""
WITH c AS (SELECT {id_col}, {vec}::DOUBLE[] AS v FROM {table}),
cb AS (SELECT {id_col}, v, {bsql} AS bucket FROM c)
SELECT a.{id_col} AS id_a, b.{id_col} AS id_b,
       round(list_dot_product(a.v, b.v) /
             (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
FROM cb a JOIN cb b ON a.bucket = b.bucket AND a.{id_col} < b.{id_col}
WHERE list_dot_product(a.v, b.v) /
      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= {threshold!r}
""".strip()


# ---------------------------------------------------------------------------
# banded (multi-band OR) embedding near-dup — the corpus-scale variant
# ---------------------------------------------------------------------------

def embedding_neardup_banded(
    corpus: DataFrame,
    planes: np.ndarray,
    bands: int = 4,
    threshold: float = 0.95,
    vec: str = "embedding",
    id_col: str = "vec_id",
    broadcast_vectors: bool = False,
) -> DataFrame:
    """Banded hyperplane-LSH near-dup pairs — the same multi-band OR
    construction MinHash uses, applied to SRP sign bits. ``planes``
    holds ``bands * w`` hyperplanes; band ``b`` buckets on the sign
    bits of its own ``w``-plane slice, a pair is a candidate iff it
    agrees on ALL ``w`` bits of >= 1 band, and candidates are verified
    with the exact cosine.

    Why this survives corpus growth where the single-bucket variant
    does not (sizing math, mirrored in SCALING.md):

    - per-band bucket count = 2^w, so expected within-bucket candidate
      volume ~= bands * n^2 / 2^w. Choose
      ``w >= log2(n / target_bucket_rows)`` — e.g. n=1e9,
      target 1e3 rows/bucket -> w = 20.
    - recall for a pair at angle theta (bit-agreement prob
      p = 1 - theta/pi): P[candidate] = 1 - (1 - p^w)^bands —
      raising w sharpens the threshold, raising bands restores recall.
      For cosine 0.95 (p ~= 0.899), w=20, bands=16: P ~= 0.78; bands=32:
      P ~= 0.95. Bands cost one extra explode row per vector each, NOT
      extra verify work (candidates are distinct'd before the verify
      join).

    Joins: candidate generation is equi-keyed on (band, bucket); the
    verify stage re-joins ids to vectors equi-keyed on id. Never
    all-pairs; the vector payload is NOT carried through the bucket
    explode (ids only), so the candidate shuffle stays narrow.

    Signatures and verify cosines are Arrow-vectorized pandas UDFs
    with FOLD-EXACT summation (:func:`_seq_dots_np` — sequential
    ``np.add.accumulate``, never pairwise), so bucket bits and
    rounded cosines are bit-identical to the Column/SQL fold the
    oracle twin renders for DuckDB. The plane matrix rides in the UDF
    closure — the plan stays constant-size at production plane
    budgets (w=20, bands=32 -> 640 planes), and the per-(vector,
    plane) interpreted folds of the relation-join form (measured
    3.1 s at just 2000 x 24) become one numpy batch op."""
    sig = signature_udf(planes, bands)
    c = corpus.select(F.col(id_col), as_double_array(vec).alias("v"))
    cb = c.select(
        F.col(id_col), F.posexplode(sig("v")).alias("band", "bucket")
    )
    a, b = cb.alias("a"), cb.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    va = c.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"))
    vb = c.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"))
    if broadcast_vectors:
        # r11 (sf10 decade finding, SCALING.md): the verify join is
        # candidate-volume-bound — shuffling ~bands*n^2/2^w candidate
        # rows WITH attached vector payloads spills long before the
        # vector table itself is large (measured 755 s at 103M
        # candidates x 64 dims, banded sf10). When the vector relation
        # fits executor memory (n * dim * 8 B — e.g. 200k x 64 =
        # ~100 MB), broadcasting it turns both verify joins into
        # map-side hash lookups and the candidate relation never
        # shuffles at all. Opt-in because at true corpus scale the
        # vector table outgrows the broadcast budget and AQE's
        # size-based choice (the default path) is the right call.
        va, vb = F.broadcast(va), F.broadcast(vb)
    return _verified(cand.join(va, "id_a").join(vb, "id_b"), threshold)


def embedding_neardup_banded_sql(
    table: str,
    planes: np.ndarray,
    bands: int = 4,
    threshold: float = 0.95,
    vec: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """DuckDB oracle twin of :func:`embedding_neardup_banded` — the
    band explode is rendered as a UNION ALL over the (small, fixed)
    band count so both engines form identical candidate sets."""
    nplanes = len(planes)
    if nplanes % bands:
        raise ValueError(f"bands={bands} must divide nplanes={nplanes}")
    w = nplanes // bands
    band_selects = " UNION ALL ".join(
        f"SELECT {id_col}, {b} AS band, "
        f"{bucket_sql('v', planes[b * w : (b + 1) * w])} AS bucket FROM c"
        for b in range(bands)
    )
    cos = (
        "list_dot_product(va.v, vb.v) / "
        "(sqrt(list_dot_product(va.v, va.v)) * sqrt(list_dot_product(vb.v, vb.v)))"
    )
    return f"""
WITH c AS (SELECT {id_col}, {vec}::DOUBLE[] AS v FROM {table}),
cb AS ({band_selects}),
cand AS (
  SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b
  FROM cb a JOIN cb b ON a.band = b.band AND a.bucket = b.bucket AND a.{id_col} < b.{id_col}
)
SELECT cand.id_a, cand.id_b, round({cos}, 6) AS cosine
FROM cand
JOIN c va ON va.{id_col} = cand.id_a
JOIN c vb ON vb.{id_col} = cand.id_b
WHERE {cos} >= {threshold!r}
""".strip()


def pool_embeddings(
    df: DataFrame,
    group: str = "label",
    vec: str = "embedding",
    dp: int = 6,
) -> DataFrame:
    """Mean-pool chunk embeddings per ``group`` — the re-assembly step
    after long documents are chunked for embedding (chunk vectors in,
    one document vector out; mean pooling per Reimers & Gurevych 2019,
    the sentence-transformers default). Emitted in LONG form
    ``(group, pos, pooled, n_vectors)`` — one row per (group,
    dimension), bounded by |groups| x dim — because the long relation
    is the join-ready shape for downstream covariance/ANN indexing and
    keeps the oracle hash order-insensitive (re-assembling arrays from
    a distributed agg would need an order-pinning sort per group).

    Scale shape: posexplode fans each vector into dim rows (the same
    bounded explode the covariance block uses), then ONE groupBy on
    (group, pos) with map-side combine; no UDF, no driver collect.
    The pooled value averages float32 inputs in double and rounds to
    ``dp`` so cross-engine summation order can't leak into the hash."""
    ex = df.select(
        F.col(group), F.posexplode(F.col(vec)).alias("pos", "v")
    )
    return ex.groupBy(group, "pos").agg(
        F.round(F.avg(F.col("v").cast("double")), dp).alias("pooled"),
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
    )


def pool_embeddings_sql(
    table: str,
    group: str = "label",
    vec: str = "embedding",
    dp: int = 6,
) -> str:
    """DuckDB twin of :func:`pool_embeddings`. posexplode renders as
    two same-length unnests zipped positionally (DuckDB semantics);
    generate_subscripts is 1-based, posexplode 0-based — hence -1."""
    return (
        f"SELECT {group}, pos, "
        f"round(avg(CAST(v AS DOUBLE)), {dp}) AS pooled, "
        f"CAST(count(*) AS BIGINT) AS n_vectors "
        f"FROM (SELECT {group}, unnest({vec}) AS v, "
        f"CAST(generate_subscripts({vec}, 1) - 1 AS INTEGER) AS pos "
        f"FROM {table}) ex "
        f"GROUP BY {group}, pos"
    )


def mmr_rerank(
    candidates: DataFrame,
    k: int = 10,
    lam: float = 0.7,
    qid: str = "query_id",
    doc: str = "neighbor_id",
    score: str = "cosine",
    vec: str = "cv",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): per query, greedily pick ``k`` candidates maximizing
    ``lam * relevance - (1 - lam) * max cosine to already-selected`` —
    the diversity pass between retrieval and consumption (dedup'd
    search results, diverse few-shot example selection).

    Scale shape: the greedy is sequential WITHIN a query but queries
    are independent, so this is the canonical ``applyInPandas`` case —
    one Arrow batch per query group, numpy inside, millions of query
    groups in parallel. Candidate lists are retrieval-depth-bounded
    (N ~ tens), so the in-group O(kN) pairwise work is constant-sized;
    nothing here scales with the corpus. Ties resolve to the
    earlier candidate in (score desc, id asc) order, making the
    selection deterministic (pinned by the numpy-replay test).

    Input must carry the candidate vector (``vec``, array<float/double>)
    alongside (qid, doc, score). Output: (qid, doc, mmr_rank,
    mmr_score rounded 6)."""
    out_schema = (
        f"{qid} long, {doc} long, mmr_rank int, mmr_score double"
    )

    def rerank(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            [score, doc], ascending=[False, True], kind="mergesort"
        ).reset_index(drop=True)
        V = np.asarray([np.asarray(v, dtype="float64") for v in pdf[vec]])
        norms = np.linalg.norm(V, axis=1)
        norms[norms == 0] = 1.0
        U = V / norms[:, None]
        sims = U @ U.T
        rel = pdf[score].to_numpy(dtype="float64")
        n = len(pdf)
        selected: list[int] = []
        remaining = np.ones(n, dtype=bool)
        scores_out = []
        for _ in range(min(k, n)):
            if selected:
                max_sim = sims[:, selected].max(axis=1)
            else:
                max_sim = np.zeros(n)
            mmr = lam * rel - (1.0 - lam) * max_sim
            mmr[~remaining] = -np.inf
            i = int(np.argmax(mmr))  # first max -> (score desc, id) tie order
            selected.append(i)
            remaining[i] = False
            scores_out.append(round(float(mmr[i]), 6))
        return pd.DataFrame(
            {
                qid: pdf[qid].iloc[selected].to_numpy(),
                doc: pdf[doc].iloc[selected].to_numpy(),
                "mmr_rank": np.arange(1, len(selected) + 1, dtype="int32"),
                "mmr_score": scores_out,
            }
        )

    return candidates.groupBy(qid).applyInPandas(rerank, schema=out_schema)


def _pround6(c: Column) -> Column:
    """Portable round-half-up to 6 dp: ``floor(x * 1e6 + 0.5) / 1e6``.
    Unlike engine ``round()``, identical input doubles give identical
    results in Spark and DuckDB — their round() implementations
    disagree on half-ulp boundary inputs (Spark rounds the shortest
    decimal repr, DuckDB the binary value; hit by mmr_rerank_oracle
    at sf0.01). Used for decision quantities that must re-sync
    bit-for-bit across the unrolled-CTE oracle."""
    return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)


def mmr_rerank_unrolled(
    candidates: DataFrame,
    k: int = 5,
    lam: float = 0.7,
    qid: str = "query_id",
    doc: str = "neighbor_id",
    score: str = "cosine",
    vec: str = "cv",
) -> DataFrame:
    """Oracle-replayable MMR: the same greedy as :func:`mmr_rerank`
    but with every decision quantity rounded to 6 dp BEFORE the
    argmax, pairwise similarities computed with the left-to-right JVM
    fold (:func:`cosine_expr` — bit-identical to DuckDB's
    ``list_dot_product``), and the k selection steps executed as k
    relational argmax rounds with the (queries x 1)-sized pick set
    re-synced through the driver each step — the kmeans float-sync
    playbook (:func:`mpes_spark.extras.cluster.kmeans_fixed`), so
    :func:`mmr_rerank_unrolled_sql` can unroll the identical k steps
    as chained CTEs and hash-match exactly.

    Scale shape: the candidate relation is retrieval-depth-bounded
    (queries x depth rows), the pairwise sim relation queries x
    depth^2, the per-step driver round-trip queries-sized; nothing
    scales with the corpus. For millions of queries use
    :func:`mmr_rerank` (one applyInPandas group per query, no
    driver sync); this variant exists for cross-engine exactness."""
    spark = candidates.sparkSession
    one_minus = 1.0 - lam
    cand = (
        candidates.select(
            F.col(qid).alias("query_id"),
            F.col(doc).alias("neighbor_id"),
            F.round(F.col(score), 6).alias("rel"),
            as_double_array(vec).alias("cv"),
        )
        # consumed k+1 times (sims + one argmax per step) — pin it
        .localCheckpoint(eager=True)
    )
    a, b = cand.alias("a"), cand.alias("b")
    sims = (
        a.join(
            b,
            (F.col("a.query_id") == F.col("b.query_id"))
            & (F.col("a.neighbor_id") != F.col("b.neighbor_id")),
        )
        .select(
            F.col("a.query_id").alias("query_id"),
            F.col("a.neighbor_id").alias("i"),
            F.col("b.neighbor_id").alias("j"),
            _pround6(
                dot_expr(F.col("a.cv"), F.col("b.cv"))
                / (norm_expr(F.col("a.cv")) * norm_expr(F.col("b.cv")))
            ).alias("s"),
        )
        .localCheckpoint(eager=True)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("mmr").desc(), F.col("rel").desc(), F.col("neighbor_id")
    )
    selected: list[tuple] = []  # (query_id, neighbor_id, rank, mmr)
    for step in range(1, k + 1):
        if not selected:
            scored = cand.select(
                "query_id",
                "neighbor_id",
                "rel",
                _pround6(F.lit(lam) * F.col("rel")).alias("mmr"),
            )
        else:
            sel_vals = ", ".join(
                f"(CAST({q} AS BIGINT), CAST({d} AS BIGINT))"
                for q, d, _, _ in selected
            )
            sel = spark.sql(
                f"SELECT * FROM VALUES {sel_vals} AS sel(query_id, neighbor_id)"
            )
            remaining = cand.join(sel, ["query_id", "neighbor_id"], "left_anti")
            ms = (
                sims.join(
                    F.broadcast(sel.withColumnRenamed("neighbor_id", "j")),
                    ["query_id", "j"],
                )
                .groupBy("query_id", F.col("i").alias("neighbor_id"))
                .agg(F.max("s").alias("maxsim"))
            )
            scored = remaining.join(ms, ["query_id", "neighbor_id"], "left").select(
                "query_id",
                "neighbor_id",
                "rel",
                _pround6(
                    F.lit(lam) * F.col("rel")
                    - F.lit(one_minus) * F.coalesce(F.col("maxsim"), F.lit(0.0))
                ).alias("mmr"),
            )
        picks = (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .collect()
        )
        for r in picks:
            selected.append((r["query_id"], r["neighbor_id"], step, r["mmr"]))
    # the result is a VALUES literal that reads neither pin
    release(cand, sims)
    if not selected:
        # empty candidates (or no rn=1 picks) would otherwise compose
        # `VALUES ` with no tuples — a parse error, not an empty result
        return spark.createDataFrame(
            [], "query_id bigint, neighbor_id bigint, mmr_rank int, mmr_score double"
        )
    out_vals = ", ".join(
        f"(CAST({q} AS BIGINT), CAST({d} AS BIGINT), "
        f"CAST({rk} AS INT), CAST('{m!r}' AS DOUBLE))"
        for q, d, rk, m in selected
    )
    return spark.sql(
        f"SELECT * FROM VALUES {out_vals} "
        "AS mmr(query_id, neighbor_id, mmr_rank, mmr_score)"
    )


def mmr_rerank_unrolled_sql(
    table: str,
    query_pred: str,
    depth: int = 10,
    k: int = 5,
    lam: float = 0.7,
    vec: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """DuckDB twin of :func:`mmr_rerank_unrolled` over cosine top-
    ``depth`` candidates: the same k greedy steps textually unrolled
    as chained CTEs (sel1..selk), decision quantities rounded to 6
    before each argmax, ties resolved (mmr DESC, rel DESC, id)."""
    LAM = f"CAST('{lam!r}' AS DOUBLE)"
    OM = f"CAST('{1.0 - lam!r}' AS DOUBLE)"
    parts = [
        f"WITH c AS (SELECT {id_col}, {vec}::DOUBLE[] AS v FROM {table})",
        f"q AS (SELECT {id_col} AS query_id, v AS qv FROM c WHERE {query_pred})",
        f"scored0 AS (SELECT q.query_id, c.{id_col} AS neighbor_id, c.v AS cv,"
        " round(list_dot_product(q.qv, c.v) /"
        " (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.v, c.v))), 6)"
        f" AS rel FROM c JOIN q ON c.{id_col} <> q.query_id)",
        "cand AS (SELECT query_id, neighbor_id, rel, cv FROM ("
        "SELECT *, row_number() OVER (PARTITION BY query_id"
        " ORDER BY rel DESC, neighbor_id) AS rn FROM scored0) r"
        f" WHERE rn <= {depth})",
        # floor-based half-up round (see _pround6): engine round()
        # disagrees across Spark/DuckDB on half-ulp boundary doubles
        "sims AS (SELECT a.query_id, a.neighbor_id AS i, b.neighbor_id AS j,"
        " floor(list_dot_product(a.cv, b.cv) /"
        " (sqrt(list_dot_product(a.cv, a.cv)) * sqrt(list_dot_product(b.cv, b.cv)))"
        " * 1000000.0 + 0.5) / 1000000.0"
        " AS s FROM cand a JOIN cand b ON a.query_id = b.query_id"
        " AND a.neighbor_id <> b.neighbor_id)",
        f"p1 AS (SELECT query_id, neighbor_id, mmr FROM ("
        f"SELECT query_id, neighbor_id, rel,"
        f" floor({LAM} * rel * 1000000.0 + 0.5) / 1000000.0 AS mmr,"
        " row_number() OVER (PARTITION BY query_id ORDER BY"
        f" floor({LAM} * rel * 1000000.0 + 0.5) / 1000000.0 DESC,"
        " rel DESC, neighbor_id) AS rn"
        " FROM cand) r WHERE rn = 1)",
        "sel1 AS (SELECT query_id, neighbor_id, 1 AS mmr_rank, mmr FROM p1)",
    ]
    for j in range(2, k + 1):
        prev = f"sel{j - 1}"
        parts.append(
            f"p{j} AS (SELECT query_id, neighbor_id, mmr FROM ("
            f"SELECT r.query_id, r.neighbor_id, r.rel,"
            f" floor(({LAM} * r.rel - {OM} * coalesce(ms.maxsim, 0.0))"
            " * 1000000.0 + 0.5) / 1000000.0 AS mmr,"
            " row_number() OVER (PARTITION BY r.query_id ORDER BY"
            f" floor(({LAM} * r.rel - {OM} * coalesce(ms.maxsim, 0.0))"
            " * 1000000.0 + 0.5) / 1000000.0 DESC,"
            " r.rel DESC, r.neighbor_id) AS rn"
            " FROM cand r"
            " LEFT JOIN (SELECT s.query_id, s.i AS neighbor_id, max(s.s) AS maxsim"
            f" FROM sims s JOIN {prev} ON {prev}.query_id = s.query_id"
            f" AND {prev}.neighbor_id = s.j"
            " GROUP BY s.query_id, s.i) ms"
            " ON ms.query_id = r.query_id AND ms.neighbor_id = r.neighbor_id"
            f" WHERE NOT EXISTS (SELECT 1 FROM {prev}"
            f" WHERE {prev}.query_id = r.query_id"
            f" AND {prev}.neighbor_id = r.neighbor_id)) t WHERE rn = 1)"
        )
        parts.append(
            f"sel{j} AS (SELECT * FROM {prev} UNION ALL"
            f" SELECT query_id, neighbor_id, {j} AS mmr_rank, mmr FROM p{j})"
        )
    body = ",\n".join(parts)
    return (
        f"{body}\n"
        "SELECT query_id, neighbor_id, CAST(mmr_rank AS INTEGER) AS mmr_rank,"
        f" mmr AS mmr_score FROM sel{k}"
    )


def contrastive_pairs(
    corpus: DataFrame,
    queries: DataFrame,
    pos_per_anchor: int = 3,
    neg_per_anchor: int = 5,
    vec: str = "embedding",
    id_col: str = "vec_id",
    label: str = "label",
) -> DataFrame:
    """Contrastive training-pair mining: per anchor, the
    ``pos_per_anchor`` most-similar SAME-label candidates (positives)
    and the ``neg_per_anchor`` most-similar DIFFERENT-label candidates
    (hard negatives — the highest-cosine impostors, the pairs that
    actually move a contrastive loss [Robinson et al. 2021, hard
    negative mixing]). Output: (query_id, cand_id, cosine,
    is_positive, pair_rank).

    Plan shape = :func:`topk_cosine` with one extra partition key: the
    anchor set broadcasts against one corpus scan, and the per-anchor
    ranking windows partition on (query_id, is_positive) — millions of
    independent anchor groups, no global sort. Output is bounded by
    |anchors| x (pos + neg)."""
    q_label, c_label, is_positive = _polarity(label)
    c = _vectors(corpus, "c", id_col, vec, c_label)
    q = _vectors(queries, "q", id_col, vec, q_label)
    cosine = cosine_expr(F.col("qv"), F.col("cv"))
    scored = _probe_join(c, q, None, cosine, "cosine", is_positive)
    return _polarity_topk(scored, pos_per_anchor, neg_per_anchor)


def contrastive_pairs_sql(
    table: str,
    query_pred: str,
    pos_per_anchor: int = 3,
    neg_per_anchor: int = 5,
    vec: str = "embedding",
    id_col: str = "vec_id",
    label: str = "label",
) -> str:
    """DuckDB twin of :func:`contrastive_pairs`."""
    return f"""
WITH c AS (SELECT {id_col}, {vec}::DOUBLE[] AS v, {label} FROM {table}),
q AS (SELECT {id_col} AS query_id, v AS qv, {label} AS q_label FROM c WHERE {query_pred}),
scored AS (
  SELECT q.query_id, c.{id_col} AS cand_id,
         round(list_dot_product(q.qv, c.v) /
               (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.v, c.v))), 6) AS cosine,
         CAST(c.{label} = q.q_label AS INTEGER) AS is_positive
  FROM c JOIN q ON c.{id_col} <> q.query_id
),
ranked AS (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY query_id, is_positive
    ORDER BY cosine DESC, cand_id) AS BIGINT) AS pair_rank
  FROM scored
)
SELECT query_id, cand_id, cosine, is_positive, pair_rank FROM ranked
WHERE (is_positive = 1 AND pair_rank <= {pos_per_anchor})
   OR (is_positive = 0 AND pair_rank <= {neg_per_anchor})
""".strip()


def contrastive_pairs_ann(
    corpus: DataFrame,
    queries: DataFrame,
    planes: np.ndarray,
    bands: int = 4,
    pos_per_anchor: int = 3,
    neg_per_anchor: int = 5,
    vec: str = "embedding",
    id_col: str = "vec_id",
    label: str = "label",
) -> DataFrame:
    """ANN-backed contrastive mining — :func:`contrastive_pairs`'s
    escape hatch for anchor sets too large to broadcast: candidates
    come from the banded hyperplane-LSH construction
    (:func:`embedding_neardup_banded`) instead of an anchors x corpus
    product, then the same exact-cosine verify + per-(anchor,
    polarity) ranking. Output schema is identical:
    (query_id, cand_id, cosine, is_positive, pair_rank); ranks are
    over the LSH-surfaced candidate set, which concentrates on
    exactly the high-cosine region contrastive mining wants (the
    top positives and the HARDEST negatives are the highest-cosine
    pairs — the ones banding is tuned to recall).

    Scale shape: both sides compute band signatures once (Arrow
    pandas UDF, plane matrix in the closure); the candidate join is
    equi-keyed on (band, bucket) — a plain shuffle join that
    co-partitions BILLIONS of anchors against the corpus, where
    :func:`contrastive_pairs` requires the anchor relation to fit in
    a broadcast. Vector payloads are not carried through the bucket
    explode; candidates are distinct'd before the verify joins.
    Recall per pair at bit-agreement prob p: 1 - (1 - p^w)^bands —
    size w to bucket-capacity, bands to recall (sizing math in
    :func:`embedding_neardup_banded`). Verified against the exact
    miner in tests/test_extras.py (deterministic recall on the
    seeded plane set)."""
    sig = signature_udf(planes, bands)
    q_label, c_label, is_positive = _polarity(label)
    c = _vectors(corpus, "c", id_col, vec, c_label)
    q = _vectors(queries, "q", id_col, vec, q_label)
    cb = c.select("neighbor_id", F.posexplode(sig("cv")).alias("band", "bucket"))
    qb = q.select("query_id", F.posexplode(sig("qv")).alias("band", "bucket"))
    cand = (
        cb.join(qb, ["band", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    cos = cosine_verify_udf()
    scored = cand.join(q, "query_id").join(c, "neighbor_id").select(
        "query_id",
        "neighbor_id",
        F.round(cos(F.col("qv"), F.col("cv")), 6).alias("cosine"),
        is_positive,
    )
    return _polarity_topk(scored, pos_per_anchor, neg_per_anchor)


def contrastive_pairs_ann_sql(
    table: str,
    query_pred: str,
    planes: np.ndarray,
    bands: int = 4,
    pos_per_anchor: int = 3,
    neg_per_anchor: int = 5,
    vec: str = "embedding",
    id_col: str = "vec_id",
    label: str = "label",
) -> str:
    """DuckDB twin of :func:`contrastive_pairs_ann`: the band explode
    rendered as a UNION ALL over the fixed band count (the
    :func:`embedding_neardup_banded_sql` idiom), then the identical
    candidate join, exact-cosine scoring and (anchor, polarity)
    ranking — both engines form the same candidate set because bucket
    ids are integer sign-bit words of fold-exact dot products."""
    nplanes = len(planes)
    if nplanes % bands:
        raise ValueError(f"bands={bands} must divide nplanes={nplanes}")
    w = nplanes // bands
    band_selects = " UNION ALL ".join(
        f"SELECT {id_col}, {b} AS band, "
        f"{bucket_sql('v', planes[b * w : (b + 1) * w])} AS bucket FROM c"
        for b in range(bands)
    )
    cos = (
        "list_dot_product(q.qv, cc.v) / "
        "(sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(cc.v, cc.v)))"
    )
    return f"""
WITH c AS (SELECT {id_col}, {vec}::DOUBLE[] AS v, {label} FROM {table}),
cb AS ({band_selects}),
q AS (SELECT {id_col} AS query_id, v AS qv, {label} AS q_label FROM c WHERE {query_pred}),
qb AS (SELECT q.query_id, cb.band, cb.bucket FROM cb JOIN q ON cb.{id_col} = q.query_id),
cand AS (
  SELECT DISTINCT qb.query_id, cb.{id_col} AS cand_id
  FROM cb JOIN qb ON cb.band = qb.band AND cb.bucket = qb.bucket
  WHERE cb.{id_col} <> qb.query_id
),
scored AS (
  SELECT cand.query_id, cand.cand_id,
         round({cos}, 6) AS cosine,
         CAST(cc.{label} = q.q_label AS INTEGER) AS is_positive
  FROM cand
  JOIN c cc ON cc.{id_col} = cand.cand_id
  JOIN q ON q.query_id = cand.query_id
),
ranked AS (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY query_id, is_positive
    ORDER BY cosine DESC, cand_id) AS BIGINT) AS pair_rank
  FROM scored
)
SELECT query_id, cand_id, cosine, is_positive, pair_rank FROM ranked
WHERE (is_positive = 1 AND pair_rank <= {pos_per_anchor})
   OR (is_positive = 0 AND pair_rank <= {neg_per_anchor})
""".strip()


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection (embedding compression)
# ---------------------------------------------------------------------------

_JL_SEED = 23


def jl_signs(dim: int, k: int, seed: int = _JL_SEED) -> np.ndarray:
    """Deterministic Rademacher (+-1) projection matrix (k x dim) —
    Achlioptas 2003's database-friendly JL variant: sign entries
    preserve pairwise distances within (1 +- eps) at k = O(ln n /
    eps^2), with no Gaussian sampling and integer-friendly
    arithmetic. Generated driver-side from a fixed seed and inlined
    as literals into BOTH dialects, so the projection is a pure
    engine-independent expression."""
    rs = np.random.RandomState(seed)
    return rs.choice(np.array([-1.0, 1.0]), size=(k, dim))


def jl_project(
    df: DataFrame,
    k: int = 8,
    vec: str = "embedding",
    id_col: str = "vec_id",
    seed: int = _JL_SEED,
    dim: int = 64,
) -> DataFrame:
    """Project embeddings to ``k`` dims: p_j = <v, s_j> / sqrt(k).
    One stateless projection pass — no shuffle, no UDF; each output
    dim is a left-to-right JVM fold (bit-matching DuckDB's sequential
    list_dot_product). The standard pre-step before clustering /
    coarse ANN when the full dim is too wide to shuffle at 100 TB:
    projecting 64->8 dims cuts the downstream k-means / LSH shuffle
    bytes 8x while keeping relative distances within the JL bound."""
    signs = jl_signs(dim, k, seed)
    inv = 1.0 / float(np.sqrt(k))
    v = as_double_array(vec)
    return df.select(
        F.col(id_col),
        *[
            F.round(dot_expr(v, _lit_array(signs[j])) * inv, 6).alias(
                f"p{j}"
            )
            for j in range(k)
        ],
    )


def jl_project_sql(
    table: str = "embeddings",
    k: int = 8,
    vec: str = "embedding",
    id_col: str = "vec_id",
    seed: int = _JL_SEED,
    dim: int = 64,
) -> str:
    signs = jl_signs(dim, k, seed)
    inv = 1.0 / float(np.sqrt(k))
    cols = ", ".join(
        f"round(list_dot_product({vec}::DOUBLE[], {_sql_array(signs[j])}) "
        f"* CAST({inv!r} AS DOUBLE), 6) AS p{j}"
        for j in range(k)
    )
    return f"SELECT {id_col}, {cols} FROM {table}"


# ---------------------------------------------------------------------------
# PCA projection (driver-solved components, literal-inlined projection)
# ---------------------------------------------------------------------------

def pca_components_from_parquet(
    path: str, k: int = 4, vec: str = "embedding", id_col: str = "vec_id"
):
    """Top-``k`` principal axes + column means of the embeddings at
    ``path``, solved DRIVER-SIDE with numpy (pyarrow read, no Spark):
    the covariance is (dim x dim) regardless of corpus size, and its
    eigendecomposition is milliseconds — the same sample-bounded-
    solver discipline as the IVF/PQ quantizers, except here even the
    full gate-scale table is driver-trivial. Rows are sorted by id
    before the moment sums so the float summation ORDER is a function
    of the data, not of read parallelism — the property that lets the
    oracle twin inline bit-identical components. Sign convention:
    each component's largest-|entry| is made positive (eigh returns
    an arbitrary sign). Returns (components (k, dim), mean (dim,))."""
    import pyarrow.parquet as pq

    pdf = (
        pq.read_table(path, columns=[id_col, vec])
        .to_pandas()
        .sort_values(id_col)
    )
    X = np.stack(pdf[vec].to_numpy()).astype("float64")
    mu = X.mean(axis=0)
    Xc = X - mu
    C = (Xc.T @ Xc) / (len(X) - 1)
    _, V = np.linalg.eigh(C)
    comps = V[:, ::-1][:, :k].T.copy()
    for j in range(k):
        i = int(np.abs(comps[j]).argmax())
        if comps[j][i] < 0:
            comps[j] = -comps[j]
    return comps, mu


def pca_project(
    df: DataFrame,
    comps,
    mu,
    vec: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Project embeddings onto literal principal axes:
    p_j = <v, c_j> - <mu, c_j>. Stateless projection pass — no
    shuffle, no UDF; the centering is a SCALAR literal per component
    (never a row-wise vector subtraction), so each output dim is one
    JVM fold + one subtract, bit-matching the DuckDB twin's
    sequential list_dot_product."""
    v = as_double_array(vec)
    return df.select(
        F.col(id_col),
        *[
            F.round(
                dot_expr(v, _lit_array(comps[j]))
                - F.lit(float(np.dot(mu, comps[j]))).cast("double"),
                6,
            ).alias(f"p{j}")
            for j in range(len(comps))
        ],
    )


def pca_project_sql(
    table: str,
    comps,
    mu,
    vec: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """DuckDB twin of :func:`pca_project` — identical literal axes,
    identical scalar centering."""
    cols = ", ".join(
        f"round(list_dot_product({vec}::DOUBLE[], {_sql_array(comps[j])}) "
        f"- CAST({float(np.dot(mu, comps[j]))!r} AS DOUBLE), 6) AS p{j}"
        for j in range(len(comps))
    )
    return f"SELECT {id_col}, {cols} FROM {table}"


# ---------------------------------------------------------------------------
# multi-probe LSH (probe Hamming-1 neighbor buckets; Lv et al. VLDB'07)
# ---------------------------------------------------------------------------

def ann_multiprobe_cosine(
    corpus: DataFrame,
    queries: DataFrame,
    planes: np.ndarray,
    k: int = 3,
    vec: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Multi-probe hyperplane LSH: each query scores its own bucket
    PLUS every bucket at Hamming distance 1 (one sign bit flipped) —
    the Lv et al. trick that buys most of a second hash table's
    recall for zero extra index storage: a near neighbor that landed
    one hyperplane-sign away is recovered by probing that flip. With
    ``p`` planes each query probes ``p + 1`` buckets, so the probe
    volume grows by p+1 while the corpus relation (the big side)
    stays bucketed ONCE — at 1e9 vectors that is p+1 partition reads,
    not a second index build. Each corpus vector has exactly one
    bucket, so the probe union introduces no duplicate (query,
    neighbor) pairs."""
    sig = signature_udf(planes, 1)
    return _probe_topk(
        corpus, queries, k, vec, id_col,
        sig(F.col("cv")).getItem(0), sig(F.col("qv")).getItem(0),
        probes=lambda b: F.array(b, *[b.bitwiseXOR(F.lit(1 << j)) for j in range(len(planes))]),
    )


def ann_multiprobe_cosine_sql(
    table: str,
    query_pred: str,
    planes: np.ndarray,
    k: int = 3,
    vec: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """Oracle twin of :func:`ann_multiprobe_cosine` (same probe set:
    own bucket + every 1-bit flip)."""
    bsql = bucket_sql("v", planes)
    flips = ", ".join(f"xor(b0, {1 << j})" for j in range(len(planes)))
    return f"""
WITH c AS (
  SELECT {id_col}, {vec}::DOUBLE[] AS v FROM {table}
),
cb AS (SELECT {id_col} AS neighbor_id, v, {bsql} AS bucket FROM c),
qb AS (SELECT {id_col} AS query_id, v AS qv, {bsql} AS b0 FROM c WHERE {query_pred}),
qp AS (SELECT query_id, qv, unnest([b0, {flips}]) AS bucket FROM qb),
scored AS (
  SELECT qp.query_id, cb.neighbor_id,
         round(list_dot_product(qp.qv, cb.v) /
               (sqrt(list_dot_product(qp.qv, qp.qv)) * sqrt(list_dot_product(cb.v, cb.v))), 6) AS cosine
  FROM cb JOIN qp USING (bucket)
  WHERE cb.neighbor_id <> qp.query_id
),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {k}
""".strip()
