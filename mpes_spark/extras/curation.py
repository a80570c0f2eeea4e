"""Corpus-curation operators a training-data pipeline runs between
dedup and tokenization: stratified (per-source quota) sampling,
benchmark-contamination detection, and fixed-size token chunking.

Like the rest of ``extras/``, every operator is written once as a
dual-dialect SQL template or as paired Column/SQL builders, so the
DuckDB oracle runs the semantically identical computation and the
driver's value-hash gate applies.

Scale shapes:
- stratified sampling is one window per source partition (rank by a
  deterministic content hash) — shuffle keyed on ``source``; a skewed
  mega-source is AQE's problem, and the hash ordering means no
  secondary sort on a hot column;
- contamination is a shingle semi-join: train-side n-grams against
  the (small) benchmark-side n-gram set, equi-keyed on the shingle —
  never a cross join; the benchmark side is the natural broadcast;
- chunking is a stateless explode (posexplode of token slices) — no
  shuffle at all, fuses into any downstream projection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mpes_spark.pinning import release

# ---------------------------------------------------------------------------
# stratified (per-source quota) sampling
# ---------------------------------------------------------------------------

def stratified_sample(
    df: DataFrame,
    quota: int,
    group: str = "source",
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep at most ``quota`` docs per ``group``, chosen by ranking on
    a deterministic content hash (md5) — a seedless, engine-portable
    stand-in for uniform sampling that both engines reproduce exactly.
    Ties broken by id. Returns (group, id, rank)."""
    w = Window.partitionBy(group).orderBy(F.md5(F.col(text)), F.col(id_col))
    return (
        df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= quota)
        .select(group, id_col, F.col("rank").cast("bigint").alias("rank"))
    )


def stratified_sample_sql(
    table: str,
    quota: int,
    group: str = "source",
    text: str = "text",
    id_col: str = "doc_id",
) -> str:
    return f"""
SELECT {group}, {id_col}, rank FROM (
  SELECT {group}, {id_col},
         CAST(row_number() OVER (PARTITION BY {group}
                                 ORDER BY md5({text}), {id_col}) AS BIGINT) AS rank
  FROM {table}
) r WHERE rank <= {quota}
""".strip()


# ---------------------------------------------------------------------------
# benchmark-contamination detection
# ---------------------------------------------------------------------------

def contamination_sql(
    table: str,
    dialect: str,
    n: int = 8,
    bench_pred: str = "doc_id % 50 = 0",
    group: str = "source",
    id_col: str = "doc_id",
) -> str:
    """Per-``group`` count of train docs sharing >= 1 word ``n``-gram
    with any benchmark doc (``bench_pred`` selects the benchmark
    split) — the standard eval-set decontamination check (n-gram
    collision per GPT-3 appendix C / PaLM). Rendered for both engines
    from one template; the join is equi-keyed on the shingle string,
    and the benchmark shingle set is the small side."""
    from mpes_spark.extras.dedup import _shingle_cte

    train = f"(SELECT {id_col}, {group}, text FROM {table} WHERE NOT ({bench_pred})) tr"
    bench = f"(SELECT {id_col}, text FROM {table} WHERE {bench_pred}) be"
    sh_train = _shingle_cte(train, n, dialect, id_col)
    sh_bench = _shingle_cte(bench, n, dialect, id_col)
    return f"""
WITH sh_tr AS ({sh_train}),
sh_be AS ({sh_bench}),
hits AS (
  SELECT DISTINCT sh_tr.{id_col}
  FROM sh_tr JOIN (SELECT DISTINCT sh FROM sh_be) b ON sh_tr.sh = b.sh
),
tr AS (SELECT {id_col}, {group} FROM {table} WHERE NOT ({bench_pred}))
SELECT tr.{group}, CAST(count(*) AS BIGINT) AS n_train,
       CAST(count(hits.{id_col}) AS BIGINT) AS n_contaminated
FROM tr LEFT JOIN hits ON tr.{id_col} = hits.{id_col}
GROUP BY tr.{group}
""".strip()


def contaminated_docs(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DataFrame-native core: ids of ``train`` docs sharing >= 1 word
    n-gram with ``benchmark`` (left-semi join on the shingle)."""
    from mpes_spark.extras.dedup import shingle_table

    sh_tr = shingle_table(train, text, n, id_col)
    sh_be = shingle_table(benchmark, text, n, id_col).select("sh").distinct()
    return sh_tr.join(sh_be, "sh", "left_semi").select(id_col).distinct()


def contamination_severity(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    partial_max: float = 0.2,
    text: str = "text",
    id_col: str = "doc_id",
    group: str = "source",
) -> DataFrame:
    """Graded decontamination: per train doc, the FRACTION of its
    distinct word ``n``-grams colliding with the benchmark set, and a
    severity verdict — ``clean`` (no hit), ``partial``
    (< ``partial_max``), ``heavy``. The binary any-hit check
    (:func:`contaminated_docs`) treats a doc quoting one benchmark
    sentence the same as a verbatim benchmark copy; decontamination
    policy needs the distinction (drop heavy, scrub-or-keep partial).
    Output: (doc_id, group, n_shingles, n_hits, hit_frac, severity);
    docs shorter than ``n`` tokens have no shingles and report clean
    with n_shingles = 0.

    Scale: same equi-keyed shingle join as the binary check — the
    benchmark shingle set is the natural broadcast side — plus one
    doc-keyed count; the verdict is column math. Boundary
    determinism: hit_frac is an integer ratio compared against the
    same literal on both engines (one IEEE divide), rounded only for
    output."""
    from mpes_spark.extras.dedup import shingle_table

    sh_tr = shingle_table(train, text, n, id_col)
    sh_be = shingle_table(benchmark, text, n, id_col).select("sh").distinct()
    # ONE pass over the train shingle explode (r11, guide §2.4): a
    # LEFT join against the globally-distinct benchmark set marks
    # hits without changing cardinality (each shingle matches at most
    # one benchmark row), so n_shingles and n_hits come out of the
    # SAME doc-keyed aggregation — the previous sizes/hits pair
    # re-executed the corpus-scale explode and shuffled it doc-keyed
    # twice (8 parquet scans / 16 exchanges in the before plan, 6 /
    # 10 after; isolated floor 2.34 -> 2.11 s at sf0.1 — the explode
    # is cheap at gate scale, the removed pass + shuffle is the 100 TB
    # point). The benchmark side still broadcasts.
    stats = (
        sh_tr.join(sh_be.withColumn("hit", F.lit(1)), "sh", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("hit").alias("n_hits"),
        )
    )
    base = (
        train.select(id_col, group)
        .join(stats, id_col, "left")
        .select(
            id_col,
            group,
            F.coalesce(F.col("n_shingles"), F.lit(0))
            .cast("bigint")
            .alias("n_shingles"),
            F.coalesce(F.col("n_hits"), F.lit(0))
            .cast("bigint")
            .alias("n_hits"),
        )
    )
    frac = F.when(F.col("n_shingles") == 0, F.lit(0.0)).otherwise(
        F.col("n_hits") / F.col("n_shingles")
    )
    sev = (
        F.when(F.col("n_hits") == 0, F.lit("clean"))
        .when(frac < partial_max, F.lit("partial"))
        .otherwise(F.lit("heavy"))
    )
    return base.select(
        id_col,
        group,
        "n_shingles",
        "n_hits",
        F.round(frac, 6).alias("hit_frac"),
        sev.alias("severity"),
    )


def contamination_severity_sql(
    table: str,
    dialect: str,
    n: int = 8,
    partial_max: float = 0.2,
    bench_pred: str = "doc_id % 50 = 0",
    group: str = "source",
    id_col: str = "doc_id",
) -> str:
    """Dual-dialect twin of :func:`contamination_severity` with the
    benchmark split selected by ``bench_pred`` from ``table``."""
    from mpes_spark.extras.dedup import _shingle_cte

    train = (
        f"(SELECT {id_col}, {group}, text FROM {table} "
        f"WHERE NOT ({bench_pred})) tr"
    )
    bench = f"(SELECT {id_col}, text FROM {table} WHERE {bench_pred}) be"
    sh_train = _shingle_cte(train, n, dialect, id_col)
    sh_bench = _shingle_cte(bench, n, dialect, id_col)
    t_lit = repr(partial_max)
    return f"""
WITH sh_tr AS ({sh_train}),
sh_be AS (SELECT DISTINCT sh FROM ({sh_bench}) x),
sizes AS (SELECT {id_col}, count(*) AS n_shingles FROM sh_tr GROUP BY {id_col}),
hits AS (
  SELECT sh_tr.{id_col}, count(*) AS n_hits
  FROM sh_tr JOIN sh_be ON sh_tr.sh = sh_be.sh
  GROUP BY sh_tr.{id_col}
),
base AS (
  SELECT t.{id_col}, t.{group},
         CAST(coalesce(z.n_shingles, 0) AS BIGINT) AS n_shingles,
         CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits
  FROM (SELECT {id_col}, {group} FROM {table} WHERE NOT ({bench_pred})) t
  LEFT JOIN sizes z ON z.{id_col} = t.{id_col}
  LEFT JOIN hits h ON h.{id_col} = t.{id_col}
)
SELECT {id_col}, {group}, n_shingles, n_hits,
       round(CASE WHEN n_shingles = 0 THEN 0.0
                  ELSE CAST(n_hits AS DOUBLE) / n_shingles END, 6)
         AS hit_frac,
       CASE WHEN n_hits = 0 THEN 'clean'
            WHEN CAST(n_hits AS DOUBLE) / n_shingles < {t_lit} THEN 'partial'
            ELSE 'heavy' END AS severity
FROM base
""".strip()


# ---------------------------------------------------------------------------
# fixed-size token chunking
# ---------------------------------------------------------------------------

def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each doc's whitespace tokens into consecutive
    ``chunk_tokens``-sized chunks (last chunk ragged):
    (id, chunk_idx, n_tokens, chunk_hash). The chunk content is
    carried as md5 so the relation stays narrow — the typical
    pretokenization shard map. Stateless explode, no shuffle."""
    toks = df.select(F.col(id_col), F.split(F.col(text), " ").alias("toks"))
    nchunks = F.ceil(F.size("toks") / F.lit(chunk_tokens)).cast("int")
    chunks = F.expr(
        f"transform(sequence(0, {_m1('nchunks')}), i -> named_struct("
        f"'chunk_idx', CAST(i AS BIGINT), "
        f"'n_tokens', CAST(size(slice(toks, i * {chunk_tokens} + 1, {chunk_tokens})) AS BIGINT), "
        f"'chunk_hash', md5(concat_ws(' ', slice(toks, i * {chunk_tokens} + 1, {chunk_tokens})))))"
    )
    return (
        toks.withColumn("nchunks", nchunks)
        .filter(F.size("toks") > 0)
        .select(F.col(id_col), F.explode(chunks).alias("c"))
        .select(
            id_col,
            F.col("c.chunk_idx").alias("chunk_idx"),
            F.col("c.n_tokens").alias("n_tokens"),
            F.col("c.chunk_hash").alias("chunk_hash"),
        )
    )


def _m1(col: str) -> str:
    return f"{col} - 1"


# ---------------------------------------------------------------------------
# token-budget (domain-mixing) sampling
# ---------------------------------------------------------------------------

def token_budget_sample(
    df: DataFrame,
    budget_tokens: int,
    group: str = "source",
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Domain-mixing sampler: per ``group``, admit documents (in
    deterministic content-hash order) until the group's token budget
    is spent — the mixture-weight materialization step of a
    pretraining data recipe (each domain's weight becomes a token
    budget). Docs are ranked by md5(text) so the 'random' order is
    engine-portable and seedless; ties broken by id. A doc is kept
    iff the running total THROUGH it stays within budget.

    Scale: one window per group partition (same shape as
    ``stratified_sample``); the running sum is per-group, so no
    global ordering problem — a skewed mega-domain is AQE's to
    handle, and the hash ordering avoids hot-column sorts."""
    w = (
        Window.partitionBy(group)
        .orderBy(F.md5(F.col(text)), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    nt = F.size(F.split(F.col(text), " ")).cast("bigint")
    return (
        df.select(
            F.col(group), F.col(id_col), nt.alias("n_tokens"), F.col(text)
        )
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= budget_tokens)
        .select(group, id_col, "n_tokens", "cum_tokens")
    )


def token_budget_sample_grouped(
    df: DataFrame,
    budgets: DataFrame,
    group: str = "source",
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`token_budget_sample` with a per-group budget relation
    ``(group, budget_tokens)`` instead of one scalar — the
    materialization step of a computed mixture (e.g.
    :func:`temperature_mix_weights`). The budget side is
    ngroups-sized, so the join broadcasts; everything else is the
    same per-group hash-ordered cumulative window."""
    w = (
        Window.partitionBy(group)
        .orderBy(F.md5(F.col(text)), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    nt = F.size(F.split(F.col(text), " ")).cast("bigint")
    return (
        df.select(F.col(group), F.col(id_col), nt.alias("n_tokens"), F.col(text))
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .join(F.broadcast(budgets.select(group, "budget_tokens")), group)
        .filter(F.col("cum_tokens") <= F.col("budget_tokens"))
        .select(group, id_col, "n_tokens", "cum_tokens")
    )


def token_budget_sample_sql(
    table: str,
    budget_tokens: int,
    group: str = "source",
    text: str = "text",
    id_col: str = "doc_id",
) -> str:
    return f"""
SELECT {group}, {id_col}, n_tokens, cum_tokens FROM (
  SELECT {group}, {id_col},
         CAST(len(string_split({text}, ' ')) AS BIGINT) AS n_tokens,
         CAST(sum(CAST(len(string_split({text}, ' ')) AS BIGINT))
           OVER (PARTITION BY {group} ORDER BY md5({text}), {id_col}
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum_tokens
  FROM {table}
) s WHERE cum_tokens <= {budget_tokens}
""".strip()


# ---------------------------------------------------------------------------
# chunk-level corpus dedup (CC-Net paragraph dedup, chunks as paragraphs)
# ---------------------------------------------------------------------------

def chunk_dedup_stats(
    df: DataFrame,
    chunk_tokens: int = 16,
    text: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 1,
) -> DataFrame:
    """CC-Net-style sub-document dedup with fixed token chunks standing
    in for paragraphs: a chunk is *duplicated* when its hash occurs in
    >= 2 distinct docs; per-doc survival stats (n_chunks, n_dup_chunks,
    tokens_kept) for docs that lost at least one chunk.

    Scale shape: chunk explode (stateless) -> groupBy(chunk_hash) with
    map-side combine (16-byte keys, well distributed by construction)
    -> equi-join back on the hash -> groupBy(doc). The duplicated-hash
    relation is corpus-dependent (tiny on clean data, huge on template
    spam), so no broadcast hint — AQE picks the join strategy from the
    runtime size, exactly the verify_jaccard policy (VERDICT r2 #2).

    ``min_tokens`` exempts short (ragged-tail) chunks from dup
    detection — the CC-Net practice of not deduping trivial short
    paragraphs ("home", boilerplate one-liners) that collide without
    being meaningful duplication."""
    ch = chunk_documents(df, chunk_tokens, text, id_col)
    dup = (
        ch.filter(F.col("n_tokens") >= min_tokens)
        .groupBy("chunk_hash")
        .agg(F.countDistinct(id_col).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("chunk_hash", F.lit(1).alias("is_dup"))
    )
    marked = ch.join(dup, "chunk_hash", "left")
    return (
        marked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum(F.when(F.col("is_dup") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_chunks"),
            F.sum(F.when(F.col("is_dup").isNull(), F.col("n_tokens")).otherwise(0))
            .cast("bigint")
            .alias("tokens_kept"),
        )
        .filter(F.col("n_dup_chunks") > 0)
    )


def chunk_dedup_stats_sql(
    table: str,
    chunk_tokens: int = 16,
    text: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 1,
) -> str:
    ch = chunk_documents_sql(table, chunk_tokens, text, id_col)
    return f"""
WITH ch AS ({ch}),
dup AS (
  SELECT chunk_hash FROM ch WHERE n_tokens >= {min_tokens}
  GROUP BY chunk_hash
  HAVING count(DISTINCT {id_col}) >= 2
)
SELECT ch.{id_col},
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN dup.chunk_hash IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       CAST(sum(CASE WHEN dup.chunk_hash IS NULL THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept
FROM ch LEFT JOIN dup ON ch.chunk_hash = dup.chunk_hash
GROUP BY ch.{id_col}
HAVING sum(CASE WHEN dup.chunk_hash IS NOT NULL THEN 1 ELSE 0 END) > 0
""".strip()


# ---------------------------------------------------------------------------
# sequence packing (concat-then-chunk sample packing)
# ---------------------------------------------------------------------------

def pack_sequences(
    df: DataFrame,
    seq_tokens: int = 512,
    text: str = "text",
    id_col: str = "doc_id",
    buckets: int = 32,
) -> DataFrame:
    """Concat-then-chunk sample packing (the GPT-style pretraining
    layout): documents in id order are laid head-to-tail in one global
    token stream; training sequence ``s`` owns tokens
    ``[s*seq_tokens, (s+1)*seq_tokens)``. Emits per doc:
    (id, n_tokens, start_tok, seq_first, seq_last).

    The global running sum is computed in two phases — never a
    single-partition window: docs are bucketed by deterministic id
    ranges, each bucket computes its internal cumulative sum (window
    partitioned BY BUCKET), bucket totals (one row per bucket) are
    prefix-summed on the driver and broadcast back as offsets. At
    100 TB this is a bounded ``buckets``-row collect plus one narrow
    shuffle keyed on the bucket id; the DuckDB oracle is the plain
    global window, asserting the two-phase decomposition is exact."""
    d = df.select(
        F.col(id_col),
        F.size(F.split(F.col(text), " ")).cast("bigint").alias("n_tokens"),
    )
    max_id = d.agg(F.max(id_col)).collect()[0][0]
    if max_id is None:
        return d.select(
            id_col,
            "n_tokens",
            F.lit(None).cast("bigint").alias("start_tok"),
            F.lit(None).cast("bigint").alias("seq_first"),
            F.lit(None).cast("bigint").alias("seq_last"),
        )
    width = max(1, (int(max_id) + buckets) // buckets)
    # integer div (not double /): ids can exceed the 2^53 double range
    d = d.withColumn("bucket", F.expr(f"{id_col} div {width}"))
    w = Window.partitionBy("bucket").orderBy(id_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    d = d.withColumn("cum_in", F.sum("n_tokens").over(w))
    totals = sorted(
        (r.bucket, r.tot)
        for r in d.groupBy("bucket").agg(F.sum("n_tokens").alias("tot")).collect()
    )
    offsets, acc = [], 0
    for b, tot in totals:
        offsets.append((b, acc))
        acc += tot
    off = F.broadcast(
        d.sparkSession.createDataFrame(offsets, f"bucket bigint, offset bigint")
    )
    start = F.col("offset") + F.col("cum_in") - F.col("n_tokens")
    return (
        d.join(off, "bucket")
        .select(
            id_col,
            "n_tokens",
            start.alias("start_tok"),
            F.floor(start / seq_tokens).cast("bigint").alias("seq_first"),
            F.floor((start + F.col("n_tokens") - 1) / seq_tokens)
            .cast("bigint")
            .alias("seq_last"),
        )
    )


def pack_sequences_sql(
    table: str,
    seq_tokens: int = 512,
    text: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin: the plain global running-sum window."""
    return f"""
WITH d AS (
  SELECT {id_col}, CAST(len(string_split({text}, ' ')) AS BIGINT) AS n_tokens
  FROM {table}
),
c AS (
  SELECT {id_col}, n_tokens,
         sum(n_tokens) OVER (ORDER BY {id_col}
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM d
)
SELECT {id_col}, n_tokens,
       CAST(cum - n_tokens AS BIGINT) AS start_tok,
       CAST((cum - n_tokens) // {seq_tokens} AS BIGINT) AS seq_first,
       CAST((cum - 1) // {seq_tokens} AS BIGINT) AS seq_last
FROM c
""".strip()


def chunk_documents_sql(
    table: str,
    chunk_tokens: int = 64,
    text: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`chunk_documents` (1-based inclusive list
    slicing vs Spark's 1-based length slicing is normalized here)."""
    return f"""
WITH tok AS (
  SELECT {id_col}, string_split({text}, ' ') AS toks FROM {table}
  WHERE len(string_split({text}, ' ')) > 0
),
ch AS (
  SELECT {id_col},
         unnest(range(CAST(ceil(len(toks) / {chunk_tokens}.0) AS INT))) AS chunk_idx,
         toks
  FROM tok
)
SELECT {id_col}, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(len(toks[chunk_idx * {chunk_tokens} + 1 : chunk_idx * {chunk_tokens} + {chunk_tokens}]) AS BIGINT) AS n_tokens,
       md5(array_to_string(toks[chunk_idx * {chunk_tokens} + 1 : chunk_idx * {chunk_tokens} + {chunk_tokens}], ' ')) AS chunk_hash
FROM ch
""".strip()


# ---------------------------------------------------------------------------
# adaptive (quantile-based) quality gating
# ---------------------------------------------------------------------------

def quality_quantile_filter(
    df: DataFrame,
    q: float = 0.25,
    group: str = "source",
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group adaptive quality floor: keep docs whose heuristic
    quality score sits at or above the group's ``q``-quantile —
    fixed thresholds over-prune clean sources and under-prune noisy
    ones, so production filters calibrate per domain (CC-Net buckets
    by perplexity tertile the same way).

    Exact quantile via ``percent_rank`` over (score, id) inside each
    group partition — one window per group (parallel across groups,
    deterministic ties), identically expressible in the oracle
    dialect, unlike ``percentile_approx``. Returns the surviving rows
    with their (rounded) score and in-group percentile."""
    from mpes_spark.extras.text import quality_score_expr

    w = Window.partitionBy(group).orderBy(
        quality_score_expr(text), F.col(id_col)
    )
    pr = F.percent_rank().over(w)
    return (
        df.select(
            F.col(id_col),
            F.col(group),
            F.round(quality_score_expr(text), 6).alias("quality"),
            F.round(pr, 6).alias("pctile"),
        )
        .filter(F.col("pctile") >= q)
    )


def quality_quantile_filter_sql(
    table: str,
    q: float = 0.25,
    group: str = "source",
    text: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`quality_quantile_filter`."""
    from mpes_spark.extras.text import quality_score_sql

    score = quality_score_sql(text)
    return f"""
SELECT {id_col}, {group}, round(qscore, 6) AS quality,
       round(pr, 6) AS pctile
FROM (
  SELECT {id_col}, {group}, {score} AS qscore,
         percent_rank() OVER (PARTITION BY {group}
                              ORDER BY {score}, {id_col}) AS pr
  FROM {table}
) r WHERE round(pr, 6) >= {q!r}
""".strip()


# ---------------------------------------------------------------------------
# hashed-feature linear quality classifier (fasttext-like model filter)
# ---------------------------------------------------------------------------

_QC_NBUCKETS = 64
_QC_SEED = 11


def classifier_weights(nbuckets: int = _QC_NBUCKETS, seed: int = _QC_SEED):
    """Deterministic synthetic checkpoint standing in for a trained
    linear head (weights rounded to 6 decimals so both engines parse
    the identical literals). In production the weights ARE an
    artifact — trained offline on labeled quality data and shipped
    with the pipeline — which is why applying them is a pure
    projection here."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return np.round(rng.standard_normal(nbuckets), 6)


def _qc_score_sql(dialect: str, text: str, nbuckets: int, weights) -> str:
    """Hash-kernel linear score in either dialect: token -> seeded
    60-bit md5 hash -> bucket (mod nbuckets) -> weight lookup -> left
    fold sum. The md5 family and an explicit left-to-right fold keep
    the double arithmetic bit-identical across engines."""
    from mpes_spark.extras.dedup import _md5_hash_sql

    h = _md5_hash_sql(_QC_SEED, "t", dialect)
    if dialect == "spark":
        arr = "array(" + ", ".join(f"{float(v)!r}D" for v in weights) + ")"
        return (
            f"aggregate(transform(split({text}, ' '), "
            f"t -> element_at({arr}, CAST({h} % {nbuckets} AS INT) + 1)), "
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )
    arr = "[" + ", ".join(f"CAST({float(v)!r} AS DOUBLE)" for v in weights) + "]"
    return (
        f"list_sum(list_transform(string_split({text}, ' '), "
        f"t -> list_extract({arr}, CAST({h} % {nbuckets} AS BIGINT) + 1)))"
    )


def quality_classifier(
    df: DataFrame,
    nbuckets: int = _QC_NBUCKETS,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Model-based quality filter — the third leg next to heuristic
    rules (`gopher_flags_expr`) and per-source calibration
    (`quality_quantile_filter`): score each doc with a pretrained
    hashed-bag-of-words linear classifier (the fasttext/hash-kernel
    shape: token -> hash bucket -> weight; Weinberger et al. 2009)
    and keep docs with a non-negative mean weight (sigmoid is
    monotone, so thresholding the raw mean at 0 IS thresholding the
    probability at 0.5 — and skipping exp() keeps the oracle
    bit-exact, since libm exp is not cross-engine reproducible).

    Scale shape: a pure per-row projection — no shuffle, no join, no
    UDF; whole-stage codegen over split/transform/aggregate. The
    64-bucket literal array stands in for a real 2^20-bucket head,
    which would ship as a broadcast map-type literal or a bucket ->
    weight broadcast join, with identical plan shape."""
    w = classifier_weights(nbuckets)
    s = F.expr(_qc_score_sql("spark", text, nbuckets, w))
    n = F.size(F.split(F.col(text), " "))
    return df.select(
        F.col(id_col),
        n.cast("bigint").alias("n_tokens"),
        F.round(s / n, 6).alias("score"),
        (s >= 0).alias("keep"),
    )


def quality_classifier_sql(
    table: str,
    nbuckets: int = _QC_NBUCKETS,
    text: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB oracle twin of :func:`quality_classifier`."""
    w = classifier_weights(nbuckets)
    s = _qc_score_sql("duckdb", text, nbuckets, w)
    return f"""
SELECT {id_col},
       CAST(len(string_split({text}, ' ')) AS BIGINT) AS n_tokens,
       round(({s}) / len(string_split({text}, ' ')), 6) AS score,
       ({s}) >= 0 AS keep
FROM {table}
""".strip()


# ---------------------------------------------------------------------------
# DSIR-style importance weighting (data selection for target-domain match)
# ---------------------------------------------------------------------------

_DSIR_NBUCKETS = 64
_DSIR_SEED = 23
_DSIR_ALPHA = 1.0


def dsir_weights(
    df: DataFrame,
    target_pred: str = "lang = 'en'",
    nbuckets: int = _DSIR_NBUCKETS,
    alpha: float = _DSIR_ALPHA,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document importance weight for target-domain data selection
    (the DSIR shape, Xie et al. 2023: hashed n-gram importance
    resampling): estimate bucketed token distributions for the TARGET
    slice and the full SOURCE corpus, then score each doc by the sum
    of per-token log-likelihood ratios
    ``ln(p_target(b)) - ln(p_source(b))`` (add-alpha smoothed).
    High weight = looks like the target domain; downstream selection
    samples/thresholds on it.

    Unlike :func:`quality_classifier` (fixed pretrained weights, pure
    projection), the bucket weights here are ESTIMATED FROM THE DATA
    in the same job: two grid-sized aggregates (nbuckets rows), a
    broadcast of the weight table back onto the token stream, and a
    per-doc sum. Scale shape: explode -> map-side partial count for
    both distributions, nbuckets-row broadcast join (never a shuffle
    of the corpus by bucket), one equi-shuffle on doc_id for the
    per-doc sum. Production hash-space (2^20 buckets) changes the
    broadcast from KBs to ~10 MB — still a broadcast.

    Weights and the final sum are rounded to 6 decimals so the DuckDB
    twin (:func:`dsir_weights_sql`) hash-matches despite libm ln and
    summation-order differences.
    """
    from mpes_spark.extras.dedup import _md5_hash_sql

    b_expr = F.expr(
        f"CAST({_md5_hash_sql(_DSIR_SEED, 't', 'spark')} % {nbuckets} AS BIGINT)"
    )
    tok = df.select(
        F.col(id_col),
        F.expr(target_pred).alias("__tgt"),
        F.explode(F.split(F.col(text), " ")).alias("t"),
    ).select(id_col, "__tgt", b_expr.alias("b"))

    # ONE aggregate pass over the token stream yields both
    # distributions (cs, ct per bucket); the totals re-aggregate the
    # nbuckets-row result, so the corpus is scanned exactly twice —
    # once for the distributions, once to score — the DSIR minimum
    stats = tok.groupBy("b").agg(
        F.count(F.lit(1)).cast("double").alias("cs"),
        F.sum(F.col("__tgt").cast("double")).alias("ct"),
    )
    # totals via a global window OVER THE STATS (nbuckets rows, one
    # partition — trivial): a separate stats.agg() branch would
    # recompute the token aggregate from the raw scan (no exchange
    # reuse across the two consumers), making it three corpus scans
    tot = Window.partitionBy()
    ns, nt = F.sum("cs").over(tot), F.sum("ct").over(tot)
    a, ab = F.lit(float(alpha)), F.lit(float(alpha * nbuckets))
    weights = stats.select(
        "b",
        F.round(
            F.log((F.col("ct") + a) / (nt + ab))
            - F.log((F.col("cs") + a) / (ns + ab)),
            6,
        ).alias("w"),
    )
    return (
        tok.join(F.broadcast(weights), "b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.round(F.sum("w"), 6).alias("weight"),
        )
    )


def dsir_weights_sql(
    table: str,
    target_pred: str = "lang = 'en'",
    nbuckets: int = _DSIR_NBUCKETS,
    alpha: float = _DSIR_ALPHA,
    text: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB oracle twin of :func:`dsir_weights`."""
    from mpes_spark.extras.dedup import _md5_hash_sql

    h = _md5_hash_sql(_DSIR_SEED, "__tok", "duckdb")
    a, ab = float(alpha), float(alpha * nbuckets)
    return f"""
WITH tok AS (
  SELECT {id_col}, ({target_pred}) AS tgt_flag,
         CAST({h} % {nbuckets} AS BIGINT) AS b
  FROM (SELECT *, unnest(string_split({text}, ' ')) AS __tok
        FROM {table})
),
src AS (SELECT b, CAST(count(*) AS DOUBLE) cs FROM tok GROUP BY b),
tgt AS (SELECT b, CAST(count(*) AS DOUBLE) ct FROM tok WHERE tgt_flag GROUP BY b),
tots AS (SELECT CAST(count(*) AS DOUBLE) ns,
                CAST(count(*) FILTER (WHERE tgt_flag) AS DOUBLE) nt FROM tok),
w AS (
  SELECT src.b,
         round(ln((coalesce(ct, 0.0) + {a!r}) / (nt + {ab!r}))
             - ln((cs + {a!r}) / (ns + {ab!r})), 6) AS w
  FROM src LEFT JOIN tgt ON src.b = tgt.b, tots
)
SELECT {id_col}, CAST(count(*) AS BIGINT) AS n_tokens,
       round(sum(w), 6) AS weight
FROM tok JOIN w USING (b) GROUP BY {id_col}
""".strip()


# ---------------------------------------------------------------------------
# URL canonicalization + URL-level dedup (the crawl-curation first stage)
# ---------------------------------------------------------------------------

_TRACKING_PARAMS = ("fbclid", "gclid", "msclkid", "ref")


def url_normalize_expr(url: str | Column) -> Column:
    """Canonical form of a URL as a pure column expression — the
    CCNet / RefinedWeb first-stage dedup key (URL-level dedup happens
    before any content hashing because it needs no document bytes):

    - fragment dropped; scheme and host lowercased; ``www.`` and
      default ``:80``/``:443`` ports stripped; trailing path slashes
      stripped;
    - tracking query params removed (``utm_*`` and
      ``fbclid/gclid/msclkid/ref``), the survivors SORTED so param
      order does not defeat the key.

    No UDF: split/filter/sort/join are all Catalyst array functions,
    so the key computes inside whole-stage codegen at crawl scale.
    """
    u = F.trim(url if isinstance(url, Column) else F.col(url))
    u = F.substring_index(u, "#", 1)
    has_scheme = u.contains("://")
    scheme = F.when(has_scheme, F.lower(F.substring_index(u, "://", 1))).otherwise(
        F.lit("https")
    )
    rest = F.when(has_scheme, F.substring_index(u, "://", -1)).otherwise(u)
    hostport = F.lower(F.substring_index(rest, "/", 1))
    host = F.regexp_replace(
        F.regexp_replace(hostport, "^www\\.", ""), ":(80|443)$", ""
    )
    # path+query = rest minus the hostport prefix
    path_q = rest.substr(F.length(F.substring_index(rest, "/", 1)) + 1, F.lit(1 << 20))
    path = F.regexp_replace(F.substring_index(path_q, "?", 1), "/+$", "")
    query = F.when(
        path_q.contains("?"), F.substring_index(path_q, "?", -1)
    ).otherwise(F.lit(""))
    keep = F.filter(
        F.split(query, "&"),
        lambda p: (p != "")
        & ~p.startswith("utm_")
        & ~F.substring_index(p, "=", 1).isin(*_TRACKING_PARAMS),
    )
    qs = F.array_join(F.array_sort(keep), "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(qs == "", F.lit("")).otherwise(F.concat(F.lit("?"), qs)),
    )


def url_normalize_sql(url_expr: str) -> str:
    """DuckDB twin of :func:`url_normalize_expr` — identical steps so
    the canonical key hash-matches."""
    u = f"split_part(trim({url_expr}), '#', 1)"
    has = f"contains({u}, '://')"
    scheme = f"CASE WHEN {has} THEN lower(split_part({u}, '://', 1)) ELSE 'https' END"
    rest = f"CASE WHEN {has} THEN split_part({u}, '://', 2) ELSE {u} END"
    hostport = f"lower(split_part({rest}, '/', 1))"
    host = (
        f"regexp_replace(regexp_replace({hostport}, '^www\\.', ''), ':(80|443)$', '')"
    )
    path_q = f"substring({rest}, length(split_part({rest}, '/', 1)) + 1)"
    path = f"regexp_replace(split_part({path_q}, '?', 1), '/+$', '')"
    query = f"CASE WHEN contains({path_q}, '?') THEN split_part({path_q}, '?', 2) ELSE '' END"
    keep = (
        f"list_filter(string_split({query}, '&'), p -> p <> '' "
        f"AND NOT starts_with(p, 'utm_') "
        f"AND NOT list_contains({list(_TRACKING_PARAMS)!r}, split_part(p, '=', 1)))"
    )
    # array_to_string of an EMPTY list is NULL in DuckDB (Spark's
    # array_join gives ''): coalesce to keep the twins aligned
    qs = f"coalesce(array_to_string(list_sort({keep}), '&'), '')"
    return (
        f"concat({scheme}, '://', {host}, {path}, "
        f"CASE WHEN {qs} = '' THEN '' ELSE concat('?', {qs}) END)"
    )


def url_dedup(
    df: DataFrame, url: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """URL-level dedup groups: per canonical URL with >= 2 docs, the
    group size and the kept (minimum) doc id. One groupBy on the
    canonical key — at crawl scale this runs before any content op
    and its shuffle carries only (key, id), never document bytes."""
    return (
        df.select(url_normalize_expr(url).alias("canon_url"), F.col(id_col))
        .groupBy("canon_url")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min(id_col).alias("keep_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# ---------------------------------------------------------------------------
# temperature-scaled domain mixing (Lample & Conneau 2019 §3.1:
# multinomial sampling with q_i ∝ p_i^alpha rebalances low-resource
# sources; alpha=1 is proportional, alpha->0 approaches uniform)
# ---------------------------------------------------------------------------


def temperature_mix_weights(
    df: DataFrame,
    alpha: float = 0.3,
    token_budget: int = 1_000_000,
    group: str = "source",
    text: str = "text",
) -> DataFrame:
    """Per-``group`` temperature-scaled sampling weights: with
    ``p_g`` the group's share of corpus tokens, the sampling weight
    is ``q_g = p_g^alpha / sum(p^alpha)`` and the group's slice of
    ``token_budget`` is ``round(q_g * budget)``. The
    temperature-mixing counterpart of the hard per-group caps in
    :func:`token_budget_sample` — production mixes (multilingual
    pretraining, domain reweighting) sample by these weights instead
    of truncating.

    Scale shape: ONE corpus aggregate to nsources rows; the window
    computing the two totals runs over that nsources-row relation
    (unpartitioned by construction — it is already reduced), so
    nothing corpus-sized ever re-shuffles."""
    from mpes_spark.extras.text import token_count_expr

    per = df.groupBy(group).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(token_count_expr(text)).cast("bigint").alias("n_tokens"),
    )
    w = Window.partitionBy()
    p = F.col("n_tokens") / F.sum("n_tokens").over(w)
    q = F.pow(p, F.lit(alpha)) / F.sum(F.pow(p, F.lit(alpha))).over(w)
    return per.select(
        group,
        "n_docs",
        "n_tokens",
        F.round(p, 6).alias("p_tokens"),
        F.round(q, 6).alias("weight"),
        F.round(q * F.lit(float(token_budget))).cast("bigint").alias("budget_tokens"),
    )


def temperature_mix_weights_sql(
    table: str,
    alpha: float = 0.3,
    token_budget: int = 1_000_000,
    group: str = "source",
) -> str:
    """DuckDB twin of :func:`temperature_mix_weights`."""
    from mpes_spark.extras.text import token_count_sql

    return f"""
WITH per AS (
  SELECT {group}, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum({token_count_sql('text')}) AS BIGINT) AS n_tokens
  FROM {table} GROUP BY {group}
),
tot AS (
  SELECT *, n_tokens / sum(n_tokens) OVER () AS p,
         pow(n_tokens / sum(n_tokens) OVER (), {alpha!r}) AS pa
  FROM per
)
SELECT {group}, n_docs, n_tokens,
       round(p, 6) AS p_tokens,
       round(pa / sum(pa) OVER (), 6) AS weight,
       CAST(round(pa / sum(pa) OVER () * {float(token_budget)!r}) AS BIGINT)
         AS budget_tokens
FROM tot
""".strip()


# ---------------------------------------------------------------------------
# weighted sampling without replacement (Efraimidis & Spirakis 2006)
# ---------------------------------------------------------------------------


def weighted_sample(
    df: DataFrame,
    k: int,
    group: str = "source",
    weight: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-``group`` weighted sampling WITHOUT replacement: keep ``k``
    docs per group with inclusion probability proportional to
    ``weight`` (Efraimidis & Spirakis 2006, algorithm A-ES): each row
    draws a key ``u^(1/w)`` for uniform ``u`` and the k largest keys
    win — equivalently rank on ``ln(u)/w``, computed here so one
    ``exp`` per row is saved and the magnitudes stay well-scaled.

    ``u`` is derived from the row id via the md5-prefix integer
    (engine-portable, seedless, uniform on [0, 2^60)) so both engines
    reproduce the draw bit-for-bit — the same determinism device as
    :func:`stratified_sample`, upgraded from uniform to
    weight-proportional. Rows with non-positive weight are excluded
    (they have zero mass; ln(u)/w would flip sign).

    Scale shape: one narrow projection computes the key (pure column
    math, no UDF, no shuffle), then ONE shuffle on ``group`` for the
    per-group row_number window — millions of independent group
    partitions, no global sort. This is the sampling primitive behind
    quality-weighted corpus mixing: weight by a quality or domain
    score and the sample tilts toward it without a resampling pass.
    """
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    u = (h.cast("double") + F.lit(0.5)) / F.lit(float(1 << 60))
    key = F.round(F.log(u) / F.col(weight), 9)
    w = Window.partitionBy(group).orderBy(F.col("skey").desc(), F.col(id_col))
    return (
        df.filter(F.col(weight) > 0)
        .select(
            F.col(group),
            F.col(id_col),
            F.col(weight).cast("bigint").alias("weight"),
            key.alias("skey"),
        )
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def weighted_sample_sql(
    table: str,
    k: int,
    group: str = "source",
    weight: str = "n_chars",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`weighted_sample` (identical md5-prefix
    draw, identical A-ES key)."""
    h = f"CAST(('0x' || substr(md5(CAST({id_col} AS VARCHAR)), 1, 15)) AS BIGINT)"
    key = f"round(ln(({h} + 0.5) / {float(1 << 60)!r}) / {weight}, 9)"
    return f"""
SELECT {group}, {id_col}, weight, skey, rank FROM (
  SELECT {group}, {id_col},
         CAST({weight} AS BIGINT) AS weight,
         {key} AS skey,
         CAST(row_number() OVER (
             PARTITION BY {group}
             ORDER BY {key} DESC, {id_col}) AS INTEGER) AS rank
  FROM {table} WHERE {weight} > 0
) r WHERE rank <= {k}
""".strip()


# ---------------------------------------------------------------------------
# deterministic train/val/test splitting (leakage-free by group key)
# ---------------------------------------------------------------------------


def _split_fractions(fractions) -> list[tuple[str, float]]:
    items = list(fractions.items()) if isinstance(fractions, dict) else list(fractions)
    if not items:
        raise ValueError("fractions must be non-empty")
    total = sum(f for _, f in items)
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    if any(f <= 0 for _, f in items):
        raise ValueError("every fraction must be > 0")
    return items


def dataset_split(
    df: DataFrame,
    fractions=(("train", 0.9), ("val", 0.05), ("test", 0.05)),
    by: str | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic, leakage-free dataset splitting: every row gets a
    ``split`` label drawn from the md5-prefix uniform of its split KEY
    — ``by`` when given (e.g. a url-domain or source column), else the
    row id. Keying on ``by`` is the leakage control: all rows sharing
    the key land in the SAME split, so near-identical documents from
    one origin can never straddle train/test (the contamination mode
    train/test random row splits are blind to). Seedless and
    engine-portable (the same md5-prefix device as
    :func:`stratified_sample` / :func:`weighted_sample`), so the
    assignment is reproducible forever from the data alone — a new
    ingest batch extends each split without reshuffling history.

    Scale shape: one pure-column projection; NO shuffle, NO state —
    the split of 100 TB costs exactly one scan of the key column.
    Fractions are cumulative-threshold CASE arms on the uniform draw
    (expected proportions, exact in distribution, not exact counts —
    quota-exact splitting requires a global sort by construction)."""
    items = _split_fractions(fractions)
    key = F.col(by if by is not None else id_col).cast("string")
    h = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("bigint")
    u = (h.cast("double") + F.lit(0.5)) / F.lit(float(1 << 60))
    expr = F.lit(items[-1][0])
    cum = 0.0
    arms = []
    for name, frac in items[:-1]:
        cum += frac
        arms.append((cum, name))
    for cum_f, name in reversed(arms):
        expr = F.when(u < F.lit(cum_f), F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr)


def dataset_split_sql(
    table: str,
    fractions=(("train", 0.9), ("val", 0.05), ("test", 0.05)),
    by: str | None = None,
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`dataset_split` — identical md5-prefix
    draw, identical cumulative thresholds (Python-precomputed doubles
    inlined via CAST so DECIMAL parsing can't diverge). Returns the
    per-row relation with the ``split`` column appended."""
    items = _split_fractions(fractions)
    key = by if by is not None else id_col
    h = f"CAST(('0x' || substr(md5(CAST({key} AS VARCHAR)), 1, 15)) AS BIGINT)"
    u = f"(({h} + 0.5) / CAST({float(1 << 60)!r} AS DOUBLE))"
    case = "CASE"
    cum = 0.0
    for name, frac in items[:-1]:
        cum += frac
        case += f" WHEN {u} < CAST({cum!r} AS DOUBLE) THEN '{name}'"
    case += f" ELSE '{items[-1][0]}' END"
    return f"SELECT *, {case} AS split FROM {table}"


# ---------------------------------------------------------------------------
# line/segment-level boilerplate detection (CCNet-style cross-doc line dedup)
# ---------------------------------------------------------------------------

def _seg_hash_expr(seed: int, col: Column) -> Column:
    """Engine-portable 60-bit segment key (md5-prefix family,
    extras/dedup._md5_hash_sql): compact enough that the cross-doc
    count shuffles 8-byte keys, never the segment text."""
    inner = F.md5(F.concat(F.lit(f"{seed}|"), col))
    return F.conv(F.substring(inner, 1, 15), 16, 10).cast("bigint")


def token_window_segments_expr(
    seg_tokens: int = 8, text: str | Column = "text"
) -> Column:
    """Segmenter for corpora without newlines: fixed ``seg_tokens``
    token windows, built entirely in Catalyst (split -> sequence ->
    slice -> array_join) — a per-row expression, zero shuffle. Real
    web corpora pass ``F.split(text, '\\n')`` instead; the boilerplate
    operator takes any array<string> segmenter."""
    c = F.col(text) if isinstance(text, str) else text
    toks = F.split(c, " ")
    n_seg = F.ceil(F.size(toks) / F.lit(float(seg_tokens))).cast("int")
    return F.transform(
        F.sequence(F.lit(0), n_seg - 1),
        lambda i: F.array_join(
            F.slice(toks, i * seg_tokens + 1, seg_tokens), " "
        ),
    )


def token_window_segments_sql(seg_tokens: int = 8, text: str = "text") -> str:
    toks = f"string_split({text}, ' ')"
    n_seg = f"CAST(ceil(len({toks}) / {float(seg_tokens)!r}) AS BIGINT)"
    return (
        f"list_transform(range(0, {n_seg}), "
        f"i -> array_to_string({toks}[i*{seg_tokens}+1 : "
        f"i*{seg_tokens}+{seg_tokens}], ' '))"
    )


_BOILER_SEED = 77


def boilerplate_stats(
    docs: DataFrame,
    segments: Column | None = None,
    min_docs: int = 3,
    by: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style boilerplate profiling (Wenzek et al. 2020 §4.1:
    line-level dedup before LM filtering): a segment is boilerplate
    within its ``by`` group (domain/source) when it appears in >=
    ``min_docs`` DISTINCT documents of that group — navigation bars,
    cookie banners, template footers. Returns one row per document:
    total segments, boilerplate segments, and the fraction — the
    column a curation pipeline filters or strips on.

    Scale shape: segments explode to (group, seg_hash, doc) rows; the
    cross-doc count is ONE agg on the 8-byte (group, hash) key with
    map-side combine; the flag joins back on the same key, so AQE
    reuses the exchange; the per-doc rollup is bounded by |docs|.
    Never an all-pairs comparison; the segment TEXT never shuffles
    (hash keys only). Hash collisions (60-bit) conflate unrelated
    segments at ~2^-60 — the CCNet tradeoff."""
    if segments is None:
        segments = token_window_segments_expr()
    seg = docs.select(
        F.col(id_col), F.col(by), F.explode(segments).alias("seg")
    ).select(
        id_col, by, _seg_hash_expr(_BOILER_SEED, F.col("seg")).alias("segkey")
    )
    counts = seg.groupBy(by, "segkey").agg(
        F.countDistinct(id_col).alias("seg_ndocs")
    )
    flagged = seg.join(counts, [by, "segkey"])
    return (
        flagged.groupBy(id_col, by)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_segments"),
            F.sum(
                (F.col("seg_ndocs") >= min_docs).cast("bigint")
            ).alias("n_boiler"),
            F.round(
                F.try_divide(
                    F.sum((F.col("seg_ndocs") >= min_docs).cast("bigint")),
                    F.count(F.lit(1)),
                ),
                6,
            ).alias("boiler_frac"),
        )
        .withColumnRenamed(id_col, "doc_id")
        .withColumnRenamed(by, "grp")
    )


def boilerplate_stats_sql(
    table: str = "documents",
    seg_tokens: int = 8,
    min_docs: int = 3,
    by: str = "source",
    id_col: str = "doc_id",
) -> str:
    from mpes_spark.extras.dedup import _md5_hash_sql

    segs = token_window_segments_sql(seg_tokens)
    h = _md5_hash_sql(_BOILER_SEED, "seg", "duckdb")
    return (
        f"WITH seg AS (SELECT {id_col}, {by}, {h} AS segkey FROM ("
        f"  SELECT {id_col}, {by}, unnest({segs}) AS seg FROM {table}) e), "
        f"cnt AS (SELECT {by}, segkey, "
        f"  CAST(count(DISTINCT {id_col}) AS BIGINT) AS seg_ndocs "
        f"  FROM seg GROUP BY {by}, segkey) "
        f"SELECT s.{id_col} AS doc_id, s.{by} AS grp, "
        f"CAST(count(*) AS BIGINT) AS n_segments, "
        f"CAST(sum(CASE WHEN c.seg_ndocs >= {min_docs} THEN 1 ELSE 0 END) "
        f"  AS BIGINT) AS n_boiler, "
        f"round(sum(CASE WHEN c.seg_ndocs >= {min_docs} THEN 1 ELSE 0 END) "
        f"  / nullif(count(*), 0), 6) AS boiler_frac "
        f"FROM seg s JOIN cnt c ON c.{by} = s.{by} "
        f"AND c.segkey = s.segkey "
        f"GROUP BY s.{id_col}, s.{by}"
    )


# ---------------------------------------------------------------------------
# deterministic global shuffle + sharding (the final export step)
# ---------------------------------------------------------------------------

_SHARD_SEED = 1009


def shuffle_shard(
    docs: DataFrame,
    n_shards: int = 8,
    seed: int = _SHARD_SEED,
    id_col: str = "doc_id",
) -> DataFrame:
    """Seeded deterministic global shuffle + shard assignment — the
    last step before a training run reads the corpus: every document
    gets a (shard, pos) address that is a pure function of (seed,
    id), so re-running the export bit-reproduces the epoch order.
    shard = hash mod n_shards balances shards to ±O(sqrt) without any
    size accounting; pos orders within the shard by a SECOND draw of
    the same hash family (never the ingestion order, which carries
    crawl locality — adjacent docs from one host would otherwise land
    adjacent in the epoch).

    Scale shape: one hash projection (no shuffle) + one window ranked
    inside each shard partition — the sort is per-shard, bounded by
    corpus/n_shards, exactly the partitioning the subsequent
    partitioned write uses, so the exchange serves both."""
    h1 = _seg_hash_expr(seed, F.col(id_col).cast("string"))
    h2 = _seg_hash_expr(seed + 1, F.col(id_col).cast("string"))
    w = Window.partitionBy("shard").orderBy("ord", id_col)
    return (
        docs.select(
            F.col(id_col),
            F.pmod(h1, F.lit(n_shards)).cast("int").alias("shard"),
            h2.alias("ord"),
        )
        .withColumn("pos", (F.row_number().over(w) - 1).cast("bigint"))
        .select(id_col, "shard", "pos")
    )


def shuffle_shard_sql(
    table: str = "documents",
    n_shards: int = 8,
    seed: int = _SHARD_SEED,
    id_col: str = "doc_id",
) -> str:
    from mpes_spark.extras.dedup import _md5_hash_sql

    h1 = _md5_hash_sql(seed, f"CAST({id_col} AS VARCHAR)", "duckdb")
    h2 = _md5_hash_sql(seed + 1, f"CAST({id_col} AS VARCHAR)", "duckdb")
    return (
        f"SELECT {id_col}, shard, CAST(row_number() OVER ("
        f"  PARTITION BY shard ORDER BY ord, {id_col}) - 1 AS BIGINT) AS pos "
        f"FROM (SELECT {id_col}, "
        f"  CAST({h1} % {n_shards} AS INTEGER) AS shard, {h2} AS ord "
        f"  FROM {table}) t"
    )


# ---------------------------------------------------------------------------
# length-bucketed batch packing (padding-efficiency batching)
# ---------------------------------------------------------------------------

_LB_BOUNDS = (32, 64, 128, 256, 512)
_LB_SEED = 4241


def length_bucket_batches(
    docs: DataFrame,
    batch_size: int = 16,
    bounds=_LB_BOUNDS,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Length-bucketed batching: group documents of similar token
    length into fixed-size batches so per-batch padding (to the batch
    max) stays small — the standard seq2seq/encoder batching trick.
    Documents are bucketed by the smallest boundary >= their token
    count (overflow -> top bucket), ordered within the bucket by a
    seeded hash (deterministic, crawl-order-free), and cut into
    batches of ``batch_size``. Output: one row per batch with its
    padding-waste fraction = 1 - sum(tokens)/(n*max(tokens)).

    Scale shape: token count + bucket are per-row expressions; the
    only shuffle keys on the ~|bounds|-ary bucket, and the in-bucket
    sort is the window's per-partition sort. A skewed bucket (most
    of the web is short) is the known hotspot — production splits hot
    buckets by hash-prefix salt; at gate scale AQE handles it."""
    from mpes_spark.extras.text import token_count_expr

    tok = token_count_expr(text)
    bucket = F.lit(bounds[-1])
    for b in reversed(bounds[:-1]):
        bucket = F.when(tok <= b, F.lit(b)).otherwise(bucket)
    h = _seg_hash_expr(_LB_SEED, F.col(id_col).cast("string"))
    w = Window.partitionBy("bucket").orderBy("ord", id_col)
    rows = docs.select(
        F.col(id_col), tok.alias("n_tok"), bucket.alias("bucket"),
        h.alias("ord"),
    ).withColumn(
        "batch_id",
        F.floor((F.row_number().over(w) - 1) / batch_size).cast("bigint"),
    )
    return rows.groupBy("bucket", "batch_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.max("n_tok").cast("bigint").alias("max_tok"),
        F.sum("n_tok").cast("bigint").alias("sum_tok"),
        F.round(
            1
            - F.try_divide(
                F.sum("n_tok"), F.count(F.lit(1)) * F.max("n_tok")
            ),
            6,
        ).alias("pad_waste"),
    )


def length_bucket_batches_sql(
    table: str = "documents",
    batch_size: int = 16,
    bounds=_LB_BOUNDS,
    text: str = "text",
    id_col: str = "doc_id",
) -> str:
    from mpes_spark.extras.dedup import _md5_hash_sql
    from mpes_spark.extras.text import token_count_sql

    tok = token_count_sql(text)
    case = "CASE"
    for b in bounds[:-1]:
        case += f" WHEN {tok} <= {b} THEN {b}"
    case += f" ELSE {bounds[-1]} END"
    h = _md5_hash_sql(_LB_SEED, f"CAST({id_col} AS VARCHAR)", "duckdb")
    return (
        f"WITH rows_ AS (SELECT {id_col}, {tok} AS n_tok, "
        f"  {case} AS bucket, {h} AS ord FROM {table}), "
        f"b AS (SELECT *, CAST(floor((row_number() OVER ("
        f"  PARTITION BY bucket ORDER BY ord, {id_col}) - 1) "
        f"  / {batch_size}) AS BIGINT) AS batch_id FROM rows_) "
        f"SELECT bucket, batch_id, CAST(count(*) AS BIGINT) AS n_docs, "
        f"CAST(max(n_tok) AS BIGINT) AS max_tok, "
        f"CAST(sum(n_tok) AS BIGINT) AS sum_tok, "
        f"round(1 - sum(n_tok) / nullif(count(*) * max(n_tok), 0), 6) "
        f"  AS pad_waste "
        f"FROM b GROUP BY bucket, batch_id"
    )


# ---------------------------------------------------------------------------
# per-domain cardinality cap
# ---------------------------------------------------------------------------

def domain_cap(
    df: DataFrame,
    cap: int,
    group: str = "source",
    priority: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cap each domain's contribution at ``cap`` documents, keeping
    the highest-``priority`` ones (ties to lower id) — the C4/Gopher
    pipeline rule that stops one crawled host from dominating the
    mixture no matter how large it is (temperature reweighting
    rescales domains; the cap additionally bounds the worst case).
    Output: the surviving rows plus their per-domain keep rank.

    One ranking window per domain — millions of independent
    partitions, no global sort; at 100 TB the window shuffle keys on
    the domain and AQE splits skewed hosts."""
    w = Window.partitionBy(group).orderBy(
        F.col(priority).desc(), F.col(id_col)
    )
    return (
        df.withColumn("keep_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("keep_rank") <= cap)
    )


def domain_cap_sql(
    table: str,
    cap: int,
    group: str = "source",
    priority: str = "n_chars",
    id_col: str = "doc_id",
    cols: str = "doc_id, source, n_chars",
) -> str:
    """Oracle twin of :func:`domain_cap` (projected to ``cols``)."""
    return f"""
SELECT {cols}, keep_rank FROM (
  SELECT {cols}, CAST(row_number() OVER (
    PARTITION BY {group} ORDER BY {priority} DESC, {id_col}
  ) AS BIGINT) AS keep_rank
  FROM {table}
) r WHERE keep_rank <= {cap}
""".strip()


# ---------------------------------------------------------------------------
# curation audit: per-doc drop-reason attribution
# ---------------------------------------------------------------------------

#: canonical audit stage order — the verdict is the FIRST failing
#: stage under this order (matching the recipe order a production
#: pipeline runs: exact dedup before quality rules, rules in the
#: Gopher paper's listing order)
AUDIT_STAGES = ("exact_dup", "wordcount", "meanlen", "stopword", "dup2gram")


def curation_audit(
    df: DataFrame, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document drop-reason attribution: for every doc, the FIRST
    stage of the canonical curation recipe that would drop it
    (``exact_dup`` -> the four Gopher rules in order), or ``kept``.
    Output: (doc_id, source, verdict, n_rules_failed).

    At 100 TB "the filter dropped 12% of docs" is not actionable —
    WHICH stage, on WHICH slice, is. This computes the whole
    attribution in ONE pass: the only shuffle is the 16-byte
    fingerprint exchange for the keep-first exact-dup stage (min-id
    window over the content digest); every quality metric is a
    narrow projection computed once and read by name (inlining them
    per-rule bloats codegen — see GOPHER_METRICS_EXPR), and the
    verdict is a CASE cascade, not N passes over the corpus."""
    from mpes_spark.extras import text as TX

    m = {name: fn(text) for name, fn in TX.GOPHER_METRICS_EXPR.items()}
    w = Window.partitionBy(TX.fingerprint_expr(text))
    base = df.select(
        F.col(id_col),
        F.col("source"),
        *[c.alias(n) for n, c in m.items()],
        (F.col(id_col) == F.min(id_col).over(w)).alias("is_canon"),
    )
    fl = TX.gopher_flags_expr(
        F.col("m_ntok"), F.col("m_mwl"), F.col("m_stop"), F.col("m_dup2")
    )
    verdict = F.when(~F.col("is_canon"), F.lit("exact_dup"))
    for stage in AUDIT_STAGES[1:]:
        verdict = verdict.when(~fl[stage], F.lit(stage))
    verdict = verdict.otherwise(F.lit("kept"))
    n_failed = sum(
        (~fl[s]).cast("int") for s in AUDIT_STAGES[1:]
    ) + (~F.col("is_canon")).cast("int")
    return base.select(
        id_col,
        "source",
        verdict.alias("verdict"),
        n_failed.cast("int").alias("n_rules_failed"),
    )


def curation_funnel(
    df: DataFrame, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Aggregated audit: docs per (source, verdict) — the curation
    funnel dashboards read. Output: (source, verdict, n_docs)."""
    return (
        curation_audit(df, text, id_col)
        .groupBy("source", "verdict")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


def curation_audit_sql(
    table: str, text: str = "text", id_col: str = "doc_id"
) -> str:
    """DuckDB oracle twin of :func:`curation_audit` (same stage order,
    same metric SQL builders, fingerprint window)."""
    from mpes_spark.extras import text as TX

    metrics = ", ".join(
        f"{fn(text)} AS {n}" for n, fn in TX.GOPHER_METRICS_SQL.items()
    )
    fl = TX.gopher_flags_sql()
    cases = " ".join(
        f"WHEN NOT {fl[s]} THEN '{s}'" for s in AUDIT_STAGES[1:]
    )
    fails = " + ".join(
        f"CASE WHEN {fl[s]} THEN 0 ELSE 1 END" for s in AUDIT_STAGES[1:]
    )
    return f"""
WITH base AS (
  SELECT {id_col}, source, {metrics},
         {id_col} = min({id_col}) OVER (
           PARTITION BY {TX.fingerprint_sql(text)}
         ) AS is_canon
  FROM {table}
)
SELECT {id_col}, source,
       CASE WHEN NOT is_canon THEN 'exact_dup' {cases} ELSE 'kept' END
         AS verdict,
       CAST(({fails} + CASE WHEN is_canon THEN 0 ELSE 1 END) AS INT)
         AS n_rules_failed
FROM base
""".strip()


def curation_funnel_sql(
    table: str, text: str = "text", id_col: str = "doc_id"
) -> str:
    """Oracle twin of :func:`curation_funnel`."""
    return f"""
SELECT source, verdict, CAST(count(*) AS BIGINT) AS n_docs
FROM ({curation_audit_sql(table, text, id_col)}) a
GROUP BY source, verdict
""".strip()


# ---------------------------------------------------------------------------
# token-balanced shard assignment (serpentine over global size rank)
# ---------------------------------------------------------------------------

def balanced_shards(
    df: DataFrame,
    n_shards: int = 16,
    text: str = "text",
    id_col: str = "doc_id",
    buckets: int = 32,
) -> DataFrame:
    """Assign each doc to one of ``n_shards`` output shards so shard
    TOKEN TOTALS are near-equal — hash sharding balances doc COUNTS,
    and long-doc skew then makes token-heavy shards the stragglers of
    every downstream epoch. Serpentine (boustrophedon) assignment
    over the global (n_tokens DESC, id) rank: rank r goes to shard
    ``pos`` on even passes and ``n_shards-1-pos`` on odd passes
    (pos = (r-1) % n_shards) — each pass pairs large remainders with
    small ones, the classic LPT-flavored layout. Output: (doc_id,
    n_tokens, rank, shard).

    The global rank is computed in TWO PHASES, never a
    single-partition sort (the :func:`pack_sequences` decomposition
    applied to ranking): docs bucket by token-count BAND, each band
    ranks internally (window partitioned by band — ties share a band
    by construction since the band is a function of the sort key),
    band counts (one row per band) prefix-sum on the driver and
    broadcast back as offsets. At 100 TB: one narrow shuffle keyed on
    the band, a ``buckets``-row collect, one broadcast join. The
    DuckDB oracle is the plain global window, asserting the
    decomposition is exact."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    d = df.select(
        F.col(id_col),
        F.size(F.split(F.col(text), " ")).cast("bigint").alias("n_tokens"),
    )
    bounds = d.agg(
        F.min("n_tokens").alias("lo"), F.max("n_tokens").alias("hi")
    ).collect()[0]
    if bounds.lo is None:
        return d.select(
            id_col,
            "n_tokens",
            F.lit(None).cast("bigint").alias("rank"),
            F.lit(None).cast("int").alias("shard"),
        )
    width = max(1, (int(bounds.hi) - int(bounds.lo) + buckets) // buckets)
    # band 0 holds the LARGEST docs so band-rank offsets accumulate in
    # global (n_tokens DESC) order
    d = d.withColumn(
        "band", F.expr(f"CAST(({int(bounds.hi)} - n_tokens) div {width} AS BIGINT)")
    )
    w = Window.partitionBy("band").orderBy(
        F.col("n_tokens").desc(), F.col(id_col)
    )
    d = d.withColumn("rk_in", F.row_number().over(w))
    counts = sorted(
        (r.band, r.n)
        for r in d.groupBy("band").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    offsets, acc = [], 0
    for b, nb in counts:
        offsets.append((b, acc))
        acc += nb
    off = F.broadcast(
        d.sparkSession.createDataFrame(offsets, "band bigint, offset bigint")
    )
    rank = F.col("offset") + F.col("rk_in")
    pos = (rank - 1) % n_shards
    ping = (((rank - 1) / n_shards).cast("bigint") % 2) == 0
    shard = F.when(ping, pos).otherwise(n_shards - 1 - pos)
    return d.join(off, "band").select(
        id_col,
        "n_tokens",
        rank.cast("bigint").alias("rank"),
        shard.cast("int").alias("shard"),
    )


def shard_balance(
    df: DataFrame,
    n_shards: int = 16,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Aggregated shard manifest: (shard, n_docs, total_tokens) — the
    balance evidence. With serpentine assignment max(total) -
    min(total) is bounded by roughly one max-doc per pass pair."""
    return (
        balanced_shards(df, n_shards, text, id_col)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
    )


def balanced_shards_sql(
    table: str,
    n_shards: int = 16,
    text: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB oracle twin of :func:`balanced_shards` — the plain
    global window the two-phase decomposition must equal."""
    return f"""
WITH d AS (
  SELECT {id_col},
         CAST(len(string_split({text}, ' ')) AS BIGINT) AS n_tokens
  FROM {table}
),
rk AS (
  SELECT {id_col}, n_tokens,
         CAST(row_number() OVER (ORDER BY n_tokens DESC, {id_col}) AS BIGINT)
           AS rank
  FROM d
)
SELECT {id_col}, n_tokens, rank,
       CAST(CASE WHEN ((rank - 1) // {n_shards}) % 2 = 0
                 THEN (rank - 1) % {n_shards}
                 ELSE {n_shards} - 1 - (rank - 1) % {n_shards}
            END AS INT) AS shard
FROM rk
""".strip()


def shard_balance_sql(
    table: str,
    n_shards: int = 16,
    text: str = "text",
    id_col: str = "doc_id",
) -> str:
    """Oracle twin of :func:`shard_balance`."""
    return f"""
SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM ({balanced_shards_sql(table, n_shards, text, id_col)}) b
GROUP BY shard
""".strip()


# ---------------------------------------------------------------------------
# vocabulary growth (Heaps-law curve)
# ---------------------------------------------------------------------------

def vocab_growth(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    buckets: int = 32,
) -> DataFrame:
    """Heaps-law vocabulary growth curve: reading the corpus in id
    order, how many NEW word types each doc contributes and the
    running totals — (doc_id, n_tokens, new_types, cum_tokens,
    cum_vocab). Training-data diagnostics read the curve's slope:
    saturating cum_vocab vs cum_tokens signals a template-dominated
    or near-duplicated corpus long before dedup metrics do; a fresh
    crawl tranche should bend the curve back up.

    Scale shape: "cumulative distinct" is NOT computed by scanning
    prefixes — each type's contribution is attributed to its FIRST
    document (min doc id over the type, one map-side-combined agg:
    the novelty owner trick applied to unigrams), reducing the curve
    to two per-doc counts + running sums. The running sums use the
    two-phase decomposition (bucket-partitioned window + driver
    prefix-sum of bucket totals — never a single-partition window);
    the DuckDB oracle is the plain global window, so the gate asserts
    the decomposition exact."""
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.col(text), " ")).alias("tok")
    )
    first = (
        toks.groupBy("tok")
        .agg(F.min(id_col).alias(id_col))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("new_types"))
    )
    sizes = toks.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens")
    )
    d = sizes.join(first, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce(F.col("new_types"), F.lit(0)).cast("bigint").alias(
            "new_types"
        ),
    )
    bounds = d.agg(F.max(id_col).alias("hi")).collect()[0]
    if bounds.hi is None:
        return d.select(
            id_col,
            "n_tokens",
            "new_types",
            F.lit(None).cast("bigint").alias("cum_tokens"),
            F.lit(None).cast("bigint").alias("cum_vocab"),
        )
    width = max(1, (int(bounds.hi) + buckets) // buckets)
    d = d.withColumn("bucket", F.expr(f"{id_col} div {width}"))
    w = Window.partitionBy("bucket").orderBy(id_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    d = d.withColumn("ct_in", F.sum("n_tokens").over(w)).withColumn(
        "cv_in", F.sum("new_types").over(w)
    )
    totals = sorted(
        (r.bucket, r.t, r.v)
        for r in d.groupBy("bucket")
        .agg(
            F.sum("n_tokens").alias("t"), F.sum("new_types").alias("v")
        )
        .collect()
    )
    offs, at, av = [], 0, 0
    for b, tt, vv in totals:
        offs.append((b, at, av))
        at += tt
        av += vv
    off = F.broadcast(
        d.sparkSession.createDataFrame(
            offs, "bucket bigint, t_off bigint, v_off bigint"
        )
    )
    return d.join(off, "bucket").select(
        id_col,
        "n_tokens",
        "new_types",
        (F.col("t_off") + F.col("ct_in")).cast("bigint").alias("cum_tokens"),
        (F.col("v_off") + F.col("cv_in")).cast("bigint").alias("cum_vocab"),
    )


def vocab_growth_sql(
    table: str, text: str = "text", id_col: str = "doc_id"
) -> str:
    """DuckDB oracle twin of :func:`vocab_growth` — plain global
    running-sum windows over the same first-occurrence attribution."""
    return f"""
WITH toks AS (
  SELECT {id_col}, unnest(string_split({text}, ' ')) AS tok FROM {table}
),
first_occ AS (
  SELECT {id_col}, count(*) AS new_types FROM (
    SELECT tok, min({id_col}) AS {id_col} FROM toks GROUP BY tok
  ) f GROUP BY {id_col}
),
sizes AS (
  SELECT {id_col}, CAST(count(*) AS BIGINT) AS n_tokens
  FROM toks GROUP BY {id_col}
),
d AS (
  SELECT s.{id_col}, s.n_tokens,
         CAST(coalesce(f.new_types, 0) AS BIGINT) AS new_types
  FROM sizes s LEFT JOIN first_occ f ON f.{id_col} = s.{id_col}
)
SELECT {id_col}, n_tokens, new_types,
       CAST(sum(n_tokens) OVER (ORDER BY {id_col}) AS BIGINT) AS cum_tokens,
       CAST(sum(new_types) OVER (ORDER BY {id_col}) AS BIGINT) AS cum_vocab
FROM d
""".strip()


# ---------------------------------------------------------------------------
# Trained quality classifier: distributed logistic-regression batch GD
# (r9 late — the TRAINING loop the pretrained `quality_classifier`
# head assumes exists; the whole fit runs as relational algebra)
# ---------------------------------------------------------------------------

_LR_NBUCKETS = 32
_LR_SEED = 4099
_LR_ITERS = 12
_LR_RATE = 4.0
_LR_MARKER = "dup"


def _lr_label_sql(dialect: str) -> str:
    """Planted weak-supervision label: does the doc mention the marker
    token. Linearly realizable in the hashed-presence feature space
    (the marker's bucket is unshared at this seed over the fixture
    vocabulary), so the fit PROVABLY learns — training accuracy beats
    the majority baseline at sf0.001/0.01/0.1 (476/483/4810 vs
    475/475/4750 with the default hyperparameters)."""
    if dialect == "spark":
        return (
            f"CASE WHEN array_contains(ws, '{_LR_MARKER}') "
            "THEN CAST(1000000 AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        )
    return (
        f"CASE WHEN list_contains(ws, '{_LR_MARKER}') "
        "THEN CAST(1000000 AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    )



def lr_train_quality(
    docs: DataFrame,
    nbuckets: int = _LR_NBUCKETS,
    iters: int = _LR_ITERS,
    rate: float = _LR_RATE,
    seed: int = _LR_SEED,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """TRAIN a logistic-regression quality classifier with batch
    gradient descent, entirely in the engine: hashed bag-of-words
    PRESENCE features (token -> seeded md5 bucket, the same
    hash-kernel as :func:`quality_classifier`; x_b = 1 if any doc
    token lands in bucket b), a planted weak-supervision label (see
    :func:`_lr_label_sql` — linearly realizable, so learning is
    measurable), ``iters`` full-batch GD steps at learning rate
    ``rate`` from w = 0. Returns the trained head as rows: feature_id
    0..nbuckets-1 = bucket weights (micro-units / 1e6), nbuckets =
    bias, and feature_id -1 carrying the training-set correct-
    prediction count (an exact integer, ABOVE the majority baseline —
    the gate records a model that demonstrably learned).

    Cross-engine exactness — INTEGER-scaled throughout (the
    cent-BIGINT pattern of `join_ivm_delta_du`, chosen over per-stage
    float quantization after measuring that sums of 1e-6-grid doubles
    land ON the rounding boundaries by construction): weights, bias
    and per-doc probabilities live in micro-units as BIGINTs, so the
    two order-dependent reductions — the per-doc margin sum and the
    per-bucket gradient sum — are EXACT integer aggregations with no
    accumulation order to disagree on. The only float ops are
    single-operation scalars on identical inputs (micro / 1e6,
    sigmoid, rate * G / N), which IEEE rounds identically in every
    engine; libm exp's last-ulp wobble would need the sigmoid to land
    within 1e-16 of a half-micro boundary to flip a value.

    Scale shape: per iteration, a doc-keyed agg for margins over the
    persisted doc-bucket relation (nbuckets-bounded per doc; persisted
    because 12 iterations reuse it — the Spark MLlib training-loop
    convention), an equi-join of the nbuckets-bounded probability
    relation back to it, a bucket-keyed agg to nbuckets + 1 rows, and
    ONE driver collect of nbuckets + 1 integers (the k-means pattern:
    driver traffic is model-sized, never data-sized). At 100 TB with
    2^20 buckets the weight vector ships as a broadcast map instead
    of an array literal; plan shape unchanged. No UDFs anywhere."""
    import math

    from mpes_spark.extras.dedup import _md5_hash_sql

    h = _md5_hash_sql(seed, "t", "spark")
    # One row per doc with its DISTINCT bucket set as an array — built
    # once, persisted across the iterations (the Spark MLlib training-
    # loop convention). Margins then cost a PROJECTION (fold over the
    # array, exact BIGINT adds), not a shuffle; the only per-iteration
    # shuffle is the nbuckets-row gradient aggregation.
    docb = (
        docs.select(F.split(F.col(text), " ").alias("ws"))
        .select(
            F.expr(_lr_label_sql("spark")).alias("ym"),
            F.expr(
                f"array_distinct(transform(ws, t -> CAST({h} % {nbuckets}"
                " AS INT)))"
            ).alias("bs"),
        )
        .persist()
    )
    n_docs = docs.count()
    if n_docs == 0:
        raise ValueError("lr_train_quality: empty training corpus")

    W = [0] * nbuckets  # micro-unit integer weights
    BIAS = 0

    def margins(weights, bias_units):
        warr = (
            "array("
            + ", ".join(f"CAST({int(v)} AS BIGINT)" for v in weights)
            + ")"
        )
        return docb.select(
            "ym",
            "bs",
            F.expr(
                f"CAST({int(bias_units)} AS BIGINT) + aggregate(bs, "
                f"CAST(0 AS BIGINT), (acc, b) -> acc + element_at({warr}, "
                "b + 1))"
            ).alias("mu"),
        )

    for _ in range(iters):
        pdoc = margins(W, BIAS).select(
            "ym",
            "bs",
            F.floor(
                F.lit(1e6)
                / (F.lit(1.0) + F.exp(-(F.col("mu").cast("double") / F.lit(1e6))))
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("pm"),
        )
        # the bias gradient is sum(pm - ym) over ALL docs — identical
        # to giving every doc a pseudo-feature `nbuckets`, so ONE
        # explode + agg computes bucket and bias gradients together
        # (r12: previously a second full pass over pdoc, unioned in)
        gb = (
            pdoc.select(
                "pm",
                "ym",
                F.explode(
                    F.concat("bs", F.array(F.lit(nbuckets).cast("int")))
                ).alias("fid"),
            )
            .groupBy("fid")
            .agg(F.sum(F.col("pm") - F.col("ym")).cast("bigint").alias("g"))
            .collect()
        )
        grads = {r.fid: r.g for r in gb}
        # delta in micro-units: IEEE-identical single ops, then floor
        W = [
            W[b] - math.floor(rate * grads.get(b, 0) / n_docs + 0.5)
            for b in range(nbuckets)
        ]
        BIAS = BIAS - math.floor(rate * grads.get(nbuckets, 0) / n_docs + 0.5)

    correct = (
        margins(W, BIAS)
        .select(
            F.when(
                ((F.col("mu") >= 0) & (F.col("ym") == 1_000_000))
                | ((F.col("mu") < 0) & (F.col("ym") == 0)),
                1,
            )
            .otherwise(0)
            .alias("c")
        )
        .agg(F.sum("c").cast("double").alias("n_correct"))
    )
    spark = docs.sparkSession
    rows = [(b, W[b] / 1e6) for b in range(nbuckets)] + [(nbuckets, BIAS / 1e6)]
    wdf = spark.createDataFrame(rows, "feature_id int, value double").select(
        F.col("feature_id").cast("bigint"), "value"
    )
    acc = correct.select(
        F.lit(-1).cast("bigint").alias("feature_id"),
        F.col("n_correct").alias("value"),
    )
    out = wdf.unionByName(acc)
    release(docb)
    return out


def lr_train_quality_sql(
    table: str = "documents",
    nbuckets: int = _LR_NBUCKETS,
    iters: int = _LR_ITERS,
    rate: float = _LR_RATE,
    seed: int = _LR_SEED,
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`lr_train_quality`: the GD loop unrolled
    as chained MATERIALIZED CTE triples (margins+sigmoid, gradients,
    weight update) — materialization is load-bearing: each iteration
    references its predecessors multiple times and DuckDB's default
    inlining would re-derive the chain combinatorially (the k-core
    oracle lesson). Same micro-unit integer arithmetic as the Spark
    side, so every reduction is exact."""
    from mpes_spark.extras.dedup import _md5_hash_sql

    h = _md5_hash_sql(seed, "t", "duckdb")
    r = repr(rate)
    parts = [
        (
            f"base AS (SELECT {id_col}, string_split(text, ' ') AS ws, "
            f"{_lr_label_sql('duckdb')} AS ym FROM {table})"
        ),
        (
            f"tk AS (SELECT {id_col}, ym, "
            f"CAST(({h}) % {nbuckets} AS BIGINT) AS bucket "
            "FROM base, unnest(ws) u(t))"
        ),
        (
            f"xf AS MATERIALIZED (SELECT DISTINCT {id_col}, ym, bucket "
            "FROM tk)"
        ),
        "nd AS (SELECT count(*) AS N FROM base)",
        (
            f"w0 AS MATERIALIZED (SELECT CAST(unnest(range(0, {nbuckets + 1}))"
            " AS BIGINT) AS fid, CAST(0 AS BIGINT) AS wt)"
        ),
    ]
    for t in range(iters):
        parts.append(
            f"m{t} AS MATERIALIZED (SELECT f.{id_col}, any_value(f.ym) AS ym, "
            f"(SELECT wt FROM w{t} WHERE fid = {nbuckets}) "
            "+ CAST(sum(w.wt) AS BIGINT) AS mu "
            f"FROM xf f JOIN w{t} w ON w.fid = f.bucket "
            f"GROUP BY f.{id_col})"
        )
        parts.append(
            f"p{t} AS MATERIALIZED (SELECT {id_col}, ym, "
            "CAST(floor(1e6 / (1.0 + exp(-(CAST(mu AS DOUBLE) / 1e6))) + 0.5) "
            f"AS BIGINT) AS pm FROM m{t})"
        )
        parts.append(
            f"g{t} AS MATERIALIZED ("
            "SELECT f.bucket AS fid, CAST(sum(p.pm - p.ym) AS BIGINT) AS g "
            f"FROM xf f JOIN p{t} p USING ({id_col}) GROUP BY f.bucket "
            f"UNION ALL SELECT CAST({nbuckets} AS BIGINT), "
            f"CAST(sum(pm - ym) AS BIGINT) FROM p{t})"
        )
        parts.append(
            f"w{t + 1} AS MATERIALIZED (SELECT w.fid, "
            f"w.wt - CAST(floor({r} * coalesce(g.g, 0) "
            "/ (SELECT N FROM nd) + 0.5) AS BIGINT) AS wt "
            f"FROM w{t} w LEFT JOIN g{t} g ON g.fid = w.fid)"
        )
    parts.append(
        f"mf AS (SELECT f.{id_col}, any_value(f.ym) AS ym, "
        f"(SELECT wt FROM w{iters} WHERE fid = {nbuckets}) "
        "+ CAST(sum(w.wt) AS BIGINT) AS mu "
        f"FROM xf f JOIN w{iters} w ON w.fid = f.bucket "
        f"GROUP BY f.{id_col})"
    )
    parts.append(
        "acc AS (SELECT CAST(-1 AS BIGINT) AS feature_id, "
        "CAST(sum(CASE WHEN (mu >= 0) = (ym = 1000000) THEN 1 ELSE 0 END) "
        "AS DOUBLE) AS value FROM mf)"
    )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT fid AS feature_id, CAST(wt AS DOUBLE) / 1e6 AS value "
        f"FROM w{iters} "
        "UNION ALL SELECT feature_id, value FROM acc"
    )
