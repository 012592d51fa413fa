"""Similarity search over the embeddings table (array<float>, 64-dim).

Two tiers (north-star LLM pipeline surface, SURVEY.md §7 step 8):
- ``sim_knn_bruteforce``: exact cosine top-k — broadcast the query set,
  map-side dot products over the corpus (no shuffle of the corpus),
  per-query top-k via ranking window. The baseline every ANN variant
  is measured against.
- ``sim_ivf_knn``: IVF-style 1-probe ANN — k-means-free variant using
  the provided ``label`` column as the coarse quantizer cells:
  centroids = per-label mean vectors, probe = nearest centroid by
  cosine, search only that cell (~1/10th of the corpus). Fully
  relational (posexplode + groupBy), so the oracle checks it end-to-end.

Scale notes (billions of vectors):
- Brute force stays viable exactly as written when the query set is
  small (broadcast joins, partial top-k per partition via the window).
- IVF: centroid computation is one groupBy(label, dim) — shuffle is
  n_cells x dim rows, independent of corpus size; cell search prunes
  the corpus scan by cell id (partition the corpus by cell at write
  time for real partition pruning).
- Exact cosine has two implementations, one per shape, both summing
  the float64 products left to right over the dimensions:
  - ``cosine_pairs`` builds every (query, vector) pair in Catalyst: the
    query rows are broadcast, and the dot product and norms are
    ``zip_with`` + ``aggregate`` folds. The plans that rank or aggregate
    over all pairs use it: ``sim_knn_bruteforce``, ``sim_hard_negatives``,
    ``sim_matryoshka_recall``, ``sim_hard_negative_mining``,
    ``eval_retrieval_ranking``, ``multivector.sim_rerank_maxsim`` and
    ``retrieval.sim_hybrid_rrf``.
  - ``cosine_block`` is the same arithmetic in NumPy, run inside a
    ``mapInArrow``/``mapInPandas`` kernel. ``_topk_candidates`` uses it
    to emit a candidate superset of each query's top k
    (``ml_knn_loo_accuracy``, ``projection.sim_abtt_recall``), and
    ``dedup.dd_embedding_neardup_pairs`` uses it to score all pairs.
    Rounding and the final order stay JVM expressions either way.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import register

N_QUERIES = 10  # vec_id < 10 are the query vectors
TOP_K = 5


def _dot(a: str, b: str):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: str):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_pairs(emb: DataFrame, is_query: Column, labels: bool = False) -> DataFrame:
    """Every (query, neighbor) pair of `emb` with its exact cosine,
    self-pairs excluded: ``query_id, [query_label,] neighbor_id,
    [neighbor_label,] cosine``.

    `emb` has ``vec_id`` and ``embedding`` (and ``label`` when `labels`);
    the rows matching `is_query` are the queries. The query side is
    broadcast, so the corpus is scanned map-side and never shuffled.
    Norms are projected below the join, once per vector rather than once
    per pair. ``cosine`` is ``round(dot / (qn * vn), 6)``, the oracles'
    formula."""
    carry = ["vec_id", "label"] if labels else ["vec_id"]
    q_names = ["query_id", "query_label"][: len(carry)]
    v_names = ["neighbor_id", "neighbor_label"][: len(carry)]
    queries = emb.filter(is_query).select(
        *[F.col(c).alias(n) for c, n in zip(carry, q_names)],
        F.col("embedding").alias("qe"),
        _norm("embedding").alias("qn"),
    )
    corpus = emb.select(
        *[F.col(c).alias(n) for c, n in zip(carry, v_names)],
        F.col("embedding").alias("ve"),
        _norm("embedding").alias("vn"),
    )
    return (
        F.broadcast(queries)
        .crossJoin(corpus)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            *q_names,
            *v_names,
            F.round(_dot("qe", "ve") / (F.col("qn") * F.col("vn")), 6).alias("cosine"),
        )
    )


def cosine_order() -> list[Column]:
    """The oracles' neighbor order: cosine descending, then neighbor_id."""
    return [F.col("cosine").desc(), F.col("neighbor_id")]


def cosine_rank() -> Column:
    """Each neighbor's 1-based rank within its query under :func:`cosine_order`."""
    return F.row_number().over(W.partitionBy("query_id").orderBy(*cosine_order()))


def cosine_block(Q, V):
    """Raw cosine matrix (float64, ``len(Q) x len(V)``) of the rows of `Q`
    against the rows of `V`, bit-identical to the Catalyst
    ``_dot(q, v) / (_norm(q) * _norm(v))`` before rounding.

    Bit-exactness: the Catalyst expression is
    ``aggregate(zip_with(q, v, (x, y) -> double(x) * double(y)), 0.0, +)
    / (sqrt(fold q*q) * sqrt(fold v*v))``. This loop replays its IEEE
    operation order. Each step of ``acc += Q[:, d] * V[:, d]`` is one
    multiply and one add, left to right over the dimensions, starting
    from 0.0 as the fold does (``0.0 + t == t``). Each NumPy ufunc rounds
    per element, and no BLAS call reorders the sum. float32 -> float64
    widening is exact and ``np.sqrt`` is correctly rounded. Then comes one
    multiply for the norm product and one division. A zero-norm row gives
    nan or inf where Catalyst gives null. Pinned by
    tests/test_properties.py::test_cosine_block_matches_catalyst."""
    import numpy as np

    dot = np.zeros((Q.shape[0], V.shape[0]), dtype=np.float64)
    qn = np.zeros(Q.shape[0], dtype=np.float64)
    vn = np.zeros(V.shape[0], dtype=np.float64)
    for d in range(Q.shape[1]):
        dot += Q[:, d][:, None] * V[:, d][None, :]
        qn += Q[:, d] * Q[:, d]
        vn += V[:, d] * V[:, d]
    return dot / (np.sqrt(qn)[:, None] * np.sqrt(vn)[None, :])


# --------------------------------------------------------------------------
# exact brute-force cosine top-k.
# --------------------------------------------------------------------------
_BRUTE_ORACLE = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    pairs AS (
      SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
             round(list_dot_product(q.emb, v.emb) /
                   (sqrt(list_dot_product(q.emb, q.emb)) *
                    sqrt(list_dot_product(v.emb, v.emb))), 6) AS cosine
      FROM e q JOIN e v ON q.vec_id < {N_QUERIES} AND q.vec_id != v.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cosine,
             CAST(row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
      FROM pairs
    )
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {TOP_K}
    """


@register("sim_knn_bruteforce", oracle=_BRUTE_ORACLE)
def sim_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    pairs = cosine_pairs(emb, F.col("vec_id") < N_QUERIES)
    return pairs.withColumn("rank", cosine_rank()).filter(F.col("rank") <= TOP_K)


# --------------------------------------------------------------------------
# IVF-style ANN with label cells as the coarse quantizer. Parameterized
# over the probe count: 1-probe searches only the nearest cell (fastest,
# lowest recall); multi-probe unions the P nearest cells — the standard
# IVF recall knob (cells are disjoint, so the candidate union needs no
# dedup and candidate volume is ~P/n_cells of the corpus).
# --------------------------------------------------------------------------
def _ivf_oracle(probes: int) -> str:
    return f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
    expl AS (
      SELECT vec_id, label, emb, unnest(generate_series(1, len(emb))) AS dim
      FROM e
    ),
    flat AS (SELECT vec_id, label, dim, emb[dim] AS val FROM expl),
    centroid AS (
      SELECT label, dim, round(avg(val), 9) AS cval
      FROM flat GROUP BY label, dim
    ),
    cnorm AS (SELECT label, sqrt(sum(cval * cval)) AS cn FROM centroid GROUP BY label),
    qflat AS (SELECT vec_id, dim, val FROM flat WHERE vec_id < {N_QUERIES}),
    qnorm AS (SELECT vec_id, sqrt(sum(val * val)) AS qn FROM qflat GROUP BY vec_id),
    qc AS (
      SELECT q.vec_id, c.label,
             round(sum(q.val * c.cval) / (max(n.qn) * max(cn.cn)), 6) AS ccos
      FROM qflat q
      JOIN centroid c ON q.dim = c.dim
      JOIN qnorm n ON q.vec_id = n.vec_id
      JOIN cnorm cn ON c.label = cn.label
      GROUP BY q.vec_id, c.label
    ),
    probe AS (
      SELECT vec_id AS query_id, label AS probe_label
      FROM (
        SELECT vec_id, label,
               row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, label) AS rn
        FROM qc
      ) t WHERE rn <= {probes}
    ),
    cand AS (
      SELECT p.query_id, p.probe_label, v.vec_id AS neighbor_id,
             round(list_dot_product(q.emb, v.emb) /
                   (sqrt(list_dot_product(q.emb, q.emb)) *
                    sqrt(list_dot_product(v.emb, v.emb))), 6) AS cosine
      FROM probe p
      JOIN e q ON q.vec_id = p.query_id
      JOIN e v ON v.label = p.probe_label AND v.vec_id != p.query_id
    )
    SELECT query_id, probe_label, neighbor_id, cosine, rank
    FROM (
      SELECT query_id, probe_label, neighbor_id, cosine,
             CAST(row_number() OVER (
                 PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
      FROM cand
    ) t WHERE rank <= {TOP_K}
    """


def _ivf_knn(spark: SparkSession, sf_dir: str, probes: int) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")

    # centroids: posexplode -> groupBy(label, dim) avg. Rounded to 9dp so
    # cross-engine summation-order noise cannot leak into the output.
    flat = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim0", "val_f")
    ).select(
        "vec_id",
        "label",
        (F.col("dim0") + 1).alias("dim"),
        F.col("val_f").cast("double").alias("val"),
    )
    # referenced twice (query-centroid join + cnorm) and dimension-sized
    # (cells x dims) — persist so the full-corpus centroid aggregation
    # runs once.
    centroid = flat.groupBy("label", "dim").agg(
        F.round(F.avg("val"), 9).alias("cval")
    ).persist()
    cnorm = centroid.groupBy("label").agg(F.sqrt(F.sum(F.col("cval") * F.col("cval"))).alias("cn"))

    qflat = flat.filter(F.col("vec_id") < N_QUERIES).select("vec_id", "dim", "val")
    qnorm = qflat.groupBy("vec_id").agg(F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("qn"))

    qc = (
        qflat.join(F.broadcast(centroid), "dim")
        .join(F.broadcast(qnorm), "vec_id")
        .join(F.broadcast(cnorm), "label")
        .groupBy("vec_id", "label")
        .agg(
            F.round(
                F.sum(F.col("val") * F.col("cval")) / (F.max("qn") * F.max("cn")), 6
            ).alias("ccos")
        )
    )
    wp = W.partitionBy("vec_id").orderBy(F.col("ccos").desc(), F.col("label"))
    probe = (
        qc.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= probes)
        .select(F.col("vec_id").alias("query_id"), F.col("label").alias("probe_label"))
    )

    q = emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
    v = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("vlabel"),
        F.col("embedding").alias("ve"),
    )
    cand = (
        F.broadcast(probe)
        .join(F.broadcast(q), "query_id")
        .join(v, (F.col("vlabel") == F.col("probe_label")) & (F.col("neighbor_id") != F.col("query_id")))
        .select(
            "query_id",
            "probe_label",
            "neighbor_id",
            F.round(_dot("qe", "ve") / (_norm("qe") * _norm("ve")), 6).alias("cosine"),
        )
    )
    return cand.withColumn("rank", cosine_rank()).filter(F.col("rank") <= TOP_K)


N_PROBES = 2  # multi-probe recall knob


@register("sim_ivf_knn", oracle=_ivf_oracle(1))
def sim_ivf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-probe IVF ANN: search only the cell whose centroid is nearest
    the query (candidates ~ corpus / n_cells)."""
    return _ivf_knn(spark, sf_dir, probes=1)


@register("sim_ivf_multiprobe", oracle=_ivf_oracle(N_PROBES))
def sim_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF ANN: union the {N_PROBES} nearest cells before the
    exact-cosine rerank — the standard recall/latency trade. Cells are
    disjoint so the union needs no dedup; candidate volume scales
    linearly in the probe count and the rerank stays a per-query top-k
    window over ~{N_PROBES}/n_cells of the corpus."""
    return _ivf_knn(spark, sf_dir, probes=N_PROBES)


# --------------------------------------------------------------------------
# Hard-negative mining: for each query vector, the nearest neighbors
# whose LABEL DIFFERS — the contrastive-training pair-generation step
# (high-similarity wrong-label examples are the informative negatives).
# Same broadcast-query / shuffle-free corpus scan as the kNN above;
# the label predicate lands in the join filter, so candidates of the
# query's own class are dropped before ranking, not after.
# --------------------------------------------------------------------------
@register(
    "sim_hard_negatives",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
    pairs AS (
      SELECT q.vec_id AS query_id, q.label AS query_label,
             v.vec_id AS negative_id, v.label AS negative_label,
             round(list_dot_product(q.emb, v.emb) /
                   (sqrt(list_dot_product(q.emb, q.emb)) *
                    sqrt(list_dot_product(v.emb, v.emb))), 6) AS cosine
      FROM e q JOIN e v ON q.vec_id < {N_QUERIES} AND q.label <> v.label
    ),
    ranked AS (
      SELECT query_id, query_label, negative_id, negative_label, cosine,
             CAST(row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY cosine DESC, negative_id) AS INTEGER) AS rank
      FROM pairs
    )
    SELECT query_id, query_label, negative_id, negative_label, cosine, rank
    FROM ranked WHERE rank <= {TOP_K}
    """,
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOP_K} highest-cosine wrong-label vectors per query."""
    emb = table(spark, sf_dir, "embeddings")
    pairs = cosine_pairs(emb, F.col("vec_id") < N_QUERIES, labels=True).filter(
        F.col("query_label") != F.col("neighbor_label")
    )
    return (
        pairs.withColumn("rank", cosine_rank())
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "query_label",
            F.col("neighbor_id").alias("negative_id"),
            F.col("neighbor_label").alias("negative_label"),
            "cosine",
            "rank",
        )
    )


# --------------------------------------------------------------------------
# ANN quality evaluation: recall@k of the IVF variants against the
# exact brute-force ground truth. The "measure, don't guess" harness
# for the probe-count knob: before shipping an index configuration at
# corpus scale you want its recall measured on a held-out query set,
# not assumed. Ground truth and both IVF runs reuse the registered
# pipelines; hits are integer counts (join + groupBy), so the whole
# eval is bit-deterministic — no float aggregation anywhere.
#
# Scale: the eval joins are keyed on (query_id, neighbor_id) over
# |queries| x k rows — tiny regardless of corpus size; the expensive
# inputs are the searches themselves, which keep their own scale
# stories (broadcast query side; cell-pruned scans).
# --------------------------------------------------------------------------
@register(
    "sim_ivf_recall_at_k",
    oracle=f"""
    WITH brute AS (SELECT * FROM ({_BRUTE_ORACLE}) t),
    ivf1 AS (SELECT * FROM ({_ivf_oracle(1)}) t),
    ivf2 AS (SELECT * FROM ({_ivf_oracle(N_PROBES)}) t),
    h1 AS (
      SELECT b.query_id, count(*) AS c
      FROM brute b JOIN ivf1 i
        ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
      GROUP BY b.query_id
    ),
    h2 AS (
      SELECT b.query_id, count(*) AS c
      FROM brute b JOIN ivf2 i
        ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
      GROUP BY b.query_id
    )
    SELECT q.query_id,
           CAST(COALESCE(h1.c, 0) AS BIGINT) AS hits_1probe,
           CAST(COALESCE(h2.c, 0) AS BIGINT) AS hits_multiprobe,
           round(COALESCE(h1.c, 0) / CAST({TOP_K} AS DOUBLE), 6) AS recall_1probe,
           round(COALESCE(h2.c, 0) / CAST({TOP_K} AS DOUBLE), 6) AS recall_multiprobe
    FROM (SELECT DISTINCT query_id FROM brute) q
    LEFT JOIN h1 ON q.query_id = h1.query_id
    LEFT JOIN h2 ON q.query_id = h2.query_id
    """,
)
def sim_ivf_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@{TOP_K} of 1-probe and multi-probe IVF vs the
    exact brute-force top-k (pure integer hit counts; one final exact
    division per recall column)."""
    # referenced three times (both hit joins + the query list) and only
    # queries x TOP_K rows — persist so the brute-force chain runs once.
    brute = (
        sim_knn_bruteforce(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .persist()
    )
    ivf1 = _ivf_knn(spark, sf_dir, probes=1).select("query_id", "neighbor_id")
    ivf2 = _ivf_knn(spark, sf_dir, probes=N_PROBES).select("query_id", "neighbor_id")

    h1 = (
        brute.join(ivf1, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    h2 = (
        brute.join(ivf2, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    qs = brute.select("query_id").distinct()
    return (
        qs.join(h1, "query_id", "left")
        .join(h2, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("c1", F.lit(0)).cast("bigint").alias("hits_1probe"),
            F.coalesce("c2", F.lit(0)).cast("bigint").alias("hits_multiprobe"),
            F.round(
                F.coalesce("c1", F.lit(0)) / F.lit(float(TOP_K)), 6
            ).alias("recall_1probe"),
            F.round(
                F.coalesce("c2", F.lit(0)) / F.lit(float(TOP_K)), 6
            ).alias("recall_multiprobe"),
        )
    )


# --------------------------------------------------------------------------
# Matryoshka truncation eval: recall@{TOP_K} of cosine search using
# only the FIRST MRL_DIMS dimensions vs the full-dimension ground
# truth. Matryoshka-style embeddings are trained so prefixes are
# usable sub-embeddings; serving at a truncated dimension cuts memory
# and compute 4x here — this harness measures exactly what that
# truncation costs in recall (per query + integer hit counts), the
# same ships-with-its-eval policy as sim_ivf_recall_at_k.
#
# Shape: two broadcast-query scans (truncated slice + full), hit
# counting via an integer (query, neighbor) equi-join.
# --------------------------------------------------------------------------
MRL_DIMS = 16


@register(
    "sim_matryoshka_recall",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    t AS (SELECT vec_id, list_slice(emb, 1, {MRL_DIMS}) AS emb FROM e),
    full_pairs AS (
      SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
             round(list_dot_product(q.emb, v.emb) /
                   (sqrt(list_dot_product(q.emb, q.emb)) *
                    sqrt(list_dot_product(v.emb, v.emb))), 6) AS cosine
      FROM e q JOIN e v ON q.vec_id < {N_QUERIES} AND q.vec_id != v.vec_id
    ),
    truth AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rank
        FROM full_pairs) WHERE rank <= {TOP_K}
    ),
    tr_pairs AS (
      SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
             round(list_dot_product(q.emb, v.emb) /
                   (sqrt(list_dot_product(q.emb, q.emb)) *
                    sqrt(list_dot_product(v.emb, v.emb))), 6) AS cosine
      FROM t q JOIN t v ON q.vec_id < {N_QUERIES} AND q.vec_id != v.vec_id
    ),
    approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rank
        FROM tr_pairs) WHERE rank <= {TOP_K}
    )
    SELECT t.query_id,
           CAST(count(a.neighbor_id) AS INTEGER) AS n_hits,
           round(CAST(count(a.neighbor_id) AS DOUBLE) / {TOP_K}, 6)
               AS recall_at_{TOP_K}
    FROM truth t
    LEFT JOIN approx a
      ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
    GROUP BY t.query_id
    """,
)
def sim_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@{TOP_K} of first-{MRL_DIMS}-dim cosine search against the
    full-dimension ground truth, per query."""
    emb = table(spark, sf_dir, "embeddings")
    trunc = emb.select(
        "vec_id", F.expr(f"slice(embedding, 1, {MRL_DIMS})").alias("embedding")
    )

    def topk(source: DataFrame) -> DataFrame:
        return (
            cosine_pairs(source, F.col("vec_id") < N_QUERIES)
            .withColumn("rank", cosine_rank())
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "neighbor_id")
        )

    truth = topk(emb)
    approx = topk(trunc).withColumnRenamed("neighbor_id", "a_neighbor")
    joined = truth.join(
        approx,
        (truth["query_id"] == approx["query_id"])
        & (truth["neighbor_id"] == approx["a_neighbor"]),
        "left",
    ).select(truth["query_id"].alias("qid"), approx["a_neighbor"])
    return joined.groupBy(F.col("qid").alias("query_id")).agg(
        F.count("a_neighbor").cast("int").alias("n_hits"),
        F.round(F.count("a_neighbor").cast("double") / TOP_K, 6).alias(
            f"recall_at_{TOP_K}"
        ),
    )


# --------------------------------------------------------------------------
# Hard-negative mining — the contrastive-training data prep step: for
# each query vector, the highest-cosine neighbors of a DIFFERENT label
# (the negatives the model most confuses), plus the nearest same-label
# positive and the margin between them. Rows with margin <= 0 are the
# queries whose hardest negative outranks their best positive — the
# exact examples a triplet/InfoNCE fine-tune needs.
#
# Scale shape: identical to the brute kNN harness — the bounded query
# side broadcasts, norms project below the join, corpus never
# shuffles. At open-ended query counts the same mining runs over the
# IVF cell join (sim_ivf_knn) instead of the cross join; the ranking +
# margin logic is unchanged.
# --------------------------------------------------------------------------
_HARDNEG_ORACLE = f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
    pairs AS (
      SELECT q.vec_id AS query_id, q.label AS query_label,
             v.vec_id AS neighbor_id, v.label AS neighbor_label,
             round(list_dot_product(q.emb, v.emb) /
                   (sqrt(list_dot_product(q.emb, q.emb)) *
                    sqrt(list_dot_product(v.emb, v.emb))), 6) AS cosine
      FROM e q JOIN e v ON q.vec_id < {N_QUERIES} AND q.vec_id != v.vec_id
    ),
    neg AS (
      SELECT query_id, query_label, neighbor_id, cosine,
             CAST(row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS neg_rank
      FROM pairs WHERE neighbor_label <> query_label
    ),
    pos AS (
      SELECT query_id, max(cosine) AS best_pos_cosine
      FROM pairs WHERE neighbor_label = query_label
      GROUP BY query_id
    )
    SELECT n.query_id, n.query_label,
           n.neighbor_id AS hard_neg_id, n.cosine AS neg_cosine, n.neg_rank,
           p.best_pos_cosine,
           round(p.best_pos_cosine - n.cosine, 6) AS margin
    FROM neg n JOIN pos p USING (query_id)
    WHERE n.neg_rank <= {TOP_K}
    """


@register("sim_hard_negative_mining", oracle=_HARDNEG_ORACLE)
def sim_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOP_K} cross-label hard negatives per query vector with the
    best same-label positive cosine and the positive-negative margin."""
    emb = table(spark, sf_dir, "embeddings")
    pairs = cosine_pairs(emb, F.col("vec_id") < N_QUERIES, labels=True)
    neg = (
        pairs.filter(F.col("neighbor_label") != F.col("query_label"))
        .withColumn("neg_rank", cosine_rank().cast("int"))
        .filter(F.col("neg_rank") <= TOP_K)
    )
    pos = (
        pairs.filter(F.col("neighbor_label") == F.col("query_label"))
        .groupBy("query_id")
        .agg(F.max("cosine").alias("best_pos_cosine"))
    )
    return neg.join(F.broadcast(pos), "query_id").select(
        "query_id",
        "query_label",
        F.col("neighbor_id").alias("hard_neg_id"),
        F.col("cosine").alias("neg_cosine"),
        "neg_rank",
        "best_pos_cosine",
        F.round(F.col("best_pos_cosine") - F.col("cosine"), 6).alias("margin"),
    )


# --------------------------------------------------------------------------
# Binary (sign) quantization + Hamming ANN, with measured recall —
# the 1-bit-per-dimension compression modern vector stores ship
# (64 dims -> 8 bytes, 32x smaller than float32; distance = popcount
# of an XOR). Signatures pack into TWO 32-bit words per vector
# (shifts stay < 32, so the packing is identical signed-BIGINT
# arithmetic in both engines); Hamming distance is
# bit_count(lo XOR lo') + bit_count(hi XOR hi').
#
# Ships with its recall eval (same policy as IVF/PQ/Matryoshka): the
# Hamming top-k per query is compared against the exact float cosine
# top-k, so the compression's cost is a measured number, not a claim.
# Candidate ranking is (hamming asc, vec_id) — a total order, so both
# engines select identical neighbor sets.
#
# Scale shape: signatures are one map-side posexplode + bit_or
# aggregate per vector (map-side combining); the query side broadcasts
# as in the brute harness; at open query counts the signature join
# would bucket on a signature prefix (the LSH band pattern) instead.
# --------------------------------------------------------------------------
_SIG_SQL_DUCK = f"""
sig AS (
  SELECT vec_id,
         bit_or(CASE WHEN i <= 32 AND e >= 0
                     THEN 1::BIGINT << (i - 1) ELSE 0 END) AS sig_lo,
         bit_or(CASE WHEN i > 32 AND e >= 0
                     THEN 1::BIGINT << (i - 33) ELSE 0 END) AS sig_hi
  FROM (SELECT vec_id, unnest(embedding::DOUBLE[]) AS e,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings)
  GROUP BY vec_id
)
"""


@register(
    "sim_binary_hamming_recall",
    oracle=f"""
    WITH {_SIG_SQL_DUCK},
    ham AS (
      SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
             bit_count(xor(q.sig_lo, v.sig_lo))
             + bit_count(xor(q.sig_hi, v.sig_hi)) AS hamming
      FROM sig q JOIN sig v
        ON q.vec_id < {N_QUERIES} AND q.vec_id != v.vec_id
    ),
    topk AS (
      SELECT query_id, neighbor_id, hamming,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY hamming, neighbor_id) AS rnk
      FROM ham
    ),
    brute AS (SELECT * FROM ({_BRUTE_ORACLE}) t),
    hits AS (
      SELECT b.query_id, count(*) AS c
      FROM brute b JOIN topk t
        ON b.query_id = t.query_id AND b.neighbor_id = t.neighbor_id
       AND t.rnk <= {TOP_K}
      GROUP BY b.query_id
    )
    SELECT q.query_id,
           CAST(COALESCE(h.c, 0) AS BIGINT) AS hits,
           round(COALESCE(h.c, 0) / CAST({TOP_K} AS DOUBLE), 6)
               AS recall_at_{TOP_K}
    FROM (SELECT DISTINCT query_id FROM brute) q
    LEFT JOIN hits h ON q.query_id = h.query_id
    """,
)
def sim_binary_hamming_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOP_K} of sign-quantized Hamming search vs exact float
    cosine, per query vector."""
    emb = table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "e")
    )
    # two longs per vector, referenced by the query side AND the full
    # search side — persist so the sign-quantization aggregation runs
    # once.
    sig = exploded.groupBy("vec_id").agg(
        F.expr(
            "bit_or(CASE WHEN pos < 32 AND e >= 0 "
            "THEN shiftleft(CAST(1 AS BIGINT), pos) "
            "ELSE CAST(0 AS BIGINT) END)"
        ).alias("sig_lo"),
        F.expr(
            "bit_or(CASE WHEN pos >= 32 AND e >= 0 "
            "THEN shiftleft(CAST(1 AS BIGINT), pos - 32) "
            "ELSE CAST(0 AS BIGINT) END)"
        ).alias("sig_hi"),
    ).persist()
    q = sig.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("sig_lo").alias("qlo"),
        F.col("sig_hi").alias("qhi"),
    )
    ham = (
        F.broadcast(q)
        .crossJoin(sig)
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                F.bit_count(
                    F.col("qlo").bitwiseXOR(F.col("sig_lo"))
                )
                + F.bit_count(F.col("qhi").bitwiseXOR(F.col("sig_hi")))
            ).alias("hamming"),
        )
    )
    w = W.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    topk = ham.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= TOP_K
    )
    brute = sim_knn_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    hits = (
        brute.join(topk, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        brute.select("query_id")
        .distinct()
        .join(F.broadcast(hits), "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("hits"),
            F.round(
                F.coalesce(F.col("c"), F.lit(0)) / float(TOP_K), 6
            ).alias(f"recall_at_{TOP_K}"),
        )
    )


# --------------------------------------------------------------------------
# Retrieval ranking evaluation — NDCG@K, MRR, and precision@K per
# query over the exact cosine ranking, with same-label neighbors as
# the relevance ground truth. This is the eval harness a retrieval
# pipeline runs after every index build: the ANN variants report
# recall vs the brute ranking, this reports the RANKING's own quality
# against labels, which is what actually moves end-task metrics.
#
# Exactness: ranks come from the rounded-cosine + id tie-break
# ordering (same as sim_knn_bruteforce); every gain is quantized to
# an exact BIGINT micro-unit floor(1e6 / log2(r+1)) BEFORE summation
# (log2(r+1) for r in 1..10 is either exactly representable or far
# from an integer boundary, so floor agrees cross-engine), and NDCG
# is a ratio of two integer sums — no unordered float summation.
# Per-query output rows avoid a float mean across queries entirely.
#
# Scale: the query side is bounded and broadcast (the documented
# harness pattern); corpus-side work is one map-side dot product per
# (query, vector) plus a per-query top ranking — the same plan as the
# brute baseline it evaluates.
# --------------------------------------------------------------------------
RETR_N_QUERIES = 50
RETR_K = 10


@register(
    "eval_retrieval_ranking",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb
               FROM embeddings),
    pairs AS (
      SELECT q.vec_id AS query_id, q.label AS q_label,
             v.vec_id AS neighbor_id,
             (v.label = q.label) AS relevant,
             round(list_dot_product(q.emb, v.emb) /
                   (sqrt(list_dot_product(q.emb, q.emb)) *
                    sqrt(list_dot_product(v.emb, v.emb))), 6) AS cosine
      FROM e q JOIN e v
        ON q.vec_id < {RETR_N_QUERIES} AND q.vec_id != v.vec_id
    ),
    ranked AS (
      SELECT query_id, q_label, relevant,
             CAST(row_number() OVER (
                 PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
      FROM pairs
    ),
    gains AS (
      SELECT CAST(r AS BIGINT) AS r,
             CAST(floor(1e6 / log2(r + 1.0)) AS BIGINT) AS g
      FROM (SELECT unnest(range(1, {RETR_K} + 1)) AS r)
    ),
    per_q AS (
      SELECT query_id, q_label,
             CAST(sum(CASE WHEN relevant THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_relevant,
             CAST(sum(CASE WHEN relevant AND rank <= {RETR_K}
                           THEN 1 ELSE 0 END) AS BIGINT) AS hits_at_k,
             min(CASE WHEN relevant THEN rank END) AS first_rel_rank
      FROM ranked GROUP BY 1, 2
    ),
    dcg AS (
      SELECT r.query_id, CAST(sum(g.g) AS BIGINT) AS dcg_ppm
      FROM ranked r JOIN gains g ON g.r = r.rank
      WHERE r.relevant AND r.rank <= {RETR_K}
      GROUP BY 1
    ),
    idcg AS (
      SELECT p.query_id, CAST(sum(g.g) AS BIGINT) AS idcg_ppm
      FROM per_q p JOIN gains g
        ON g.r <= least(p.n_relevant, {RETR_K})
      GROUP BY 1
    )
    SELECT p.query_id, CAST(p.q_label AS BIGINT) AS label,
           p.n_relevant, p.hits_at_k,
           CAST(coalesce(d.dcg_ppm, 0) AS BIGINT) AS dcg_ppm,
           CAST(coalesce(i.idcg_ppm, 0) AS BIGINT) AS idcg_ppm,
           CASE WHEN coalesce(i.idcg_ppm, 0) > 0
                THEN round(coalesce(d.dcg_ppm, 0)
                           / CAST(i.idcg_ppm AS DOUBLE), 6) END AS ndcg,
           CAST(p.first_rel_rank AS BIGINT) AS first_rel_rank,
           CASE WHEN p.first_rel_rank IS NOT NULL
                THEN CAST(1000000 // p.first_rel_rank AS BIGINT) END AS rr_ppm
    FROM per_q p
    LEFT JOIN dcg d USING (query_id)
    LEFT JOIN idcg i USING (query_id)
    """,
)
def eval_retrieval_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query NDCG@{RETR_K}, MRR, and precision hits over the exact
    cosine ranking with same-label relevance (micro-unit integer
    gains; NDCG is a ratio of exact BIGINT sums)."""
    emb = table(spark, sf_dir, "embeddings")
    ranked = cosine_pairs(emb, F.col("vec_id") < RETR_N_QUERIES, labels=True).select(
        "query_id",
        F.col("query_label").alias("q_label"),
        (F.col("neighbor_label") == F.col("query_label")).alias("relevant"),
        cosine_rank().cast("bigint").alias("rank"),
    )
    gains = spark.range(1, RETR_K + 1).select(
        F.col("id").alias("r"),
        F.floor(F.lit(1e6) / F.log2(F.col("id") + 1.0)).cast("bigint").alias("g"),
    )
    per_q = ranked.groupBy("query_id", "q_label").agg(
        F.sum(F.col("relevant").cast("bigint")).cast("bigint").alias("n_relevant"),
        F.sum((F.col("relevant") & (F.col("rank") <= RETR_K)).cast("bigint"))
        .cast("bigint")
        .alias("hits_at_k"),
        F.min(F.when(F.col("relevant"), F.col("rank"))).alias("first_rel_rank"),
    )
    dcg = (
        ranked.filter(F.col("relevant") & (F.col("rank") <= RETR_K))
        .join(F.broadcast(gains), ranked.rank == gains.r)
        .groupBy("query_id")
        .agg(F.sum("g").cast("bigint").alias("dcg_ppm"))
    )
    idcg = (
        per_q.select("query_id", F.least(F.col("n_relevant"), F.lit(RETR_K)).alias("rk"))
        .join(F.broadcast(gains), F.col("r") <= F.col("rk"))
        .groupBy("query_id")
        .agg(F.sum("g").cast("bigint").alias("idcg_ppm"))
    )
    out = (
        per_q.join(dcg, "query_id", "left")
        .join(idcg, "query_id", "left")
        .select(
            "query_id",
            F.col("q_label").cast("bigint").alias("label"),
            "n_relevant",
            "hits_at_k",
            F.coalesce("dcg_ppm", F.lit(0)).cast("bigint").alias("dcg_ppm"),
            F.coalesce("idcg_ppm", F.lit(0)).cast("bigint").alias("idcg_ppm"),
            F.when(
                F.coalesce("idcg_ppm", F.lit(0)) > 0,
                F.round(
                    F.coalesce("dcg_ppm", F.lit(0))
                    / F.col("idcg_ppm").cast("double"),
                    6,
                ),
            ).alias("ndcg"),
            F.col("first_rel_rank").cast("bigint").alias("first_rel_rank"),
            F.when(
                F.col("first_rel_rank").isNotNull(),
                F.floor(F.lit(1000000) / F.col("first_rel_rank")),
            )
            .cast("bigint")
            .alias("rr_ppm"),
        )
    )
    return out


# --------------------------------------------------------------------------
# Leave-one-out 1-NN label accuracy — the standard embedding-quality
# eval (kNN-probe): for a deterministic eval subset (every 4th
# vec_id), find the exact cosine 1-NN among all OTHER vectors and
# score whether its label matches. High LOO accuracy = the embedding
# space clusters by label = it will transfer.
#
# Scale shape: the eval subset is collected into the task closure of a
# map-only candidate kernel over the corpus (the bounded-query-side
# brute pattern; the corpus is never self-joined or shuffled), and the
# per-query top-1 is a max_by on the (rounded-cosine, neighbor_id) total
# order. At production scale the same statistic runs over the IVF cells
# (sim_ivf_recall_at_k measures that substitution's recall cost).
# --------------------------------------------------------------------------
LOO_EVERY = 10  # vec_id % 10 == 0 -> fixed-fraction eval subset

# Candidate margin for the top-k kernel: round to 6 decimals moves a
# value by <= 5.0e-7 + one double ulp each way, so a row whose raw cosine
# is more than 1.02e-6 below the k-th best raw has k rows strictly above
# it after rounding. Keeping everything within 2.5e-6 of each batch's
# k-th best raw is therefore a strict superset of every possible
# rounded-order top k and its rounding ties.
_TOPK_MARGIN = 2.5e-6


def _topk_candidates(corpus: DataFrame, qrows, k: int, labels: bool = False) -> DataFrame:
    """Map-only near-top-k candidate generation for exact-cosine kNN
    (partition-local top-k; the JVM does the global merge).

    Emits ``query_id, neighbor_id, cos_raw`` (plus ``q_label, n_label``
    when `labels`) for every non-self pair whose raw cosine is within
    _TOPK_MARGIN of the batch's k-th best raw for that query. The k-th
    largest raw over the whole corpus is >= the batch's, so the rows are a
    strict superset of the global top-k under the
    (round(cosine, 6) DESC, neighbor_id ASC) order and of its rounding
    ties. ``cos_raw`` comes from :func:`cosine_block`, bit-identical to
    the Catalyst fold, so rounding and ranking the candidates in the JVM
    selects exactly the rows the all-pairs plan selects.

    `corpus` has ``vec_id`` and ``emb`` (and ``label`` when `labels`);
    `qrows` are collected rows of the SAME relation."""
    from typing import Iterator

    import numpy as np
    import pyarrow as pa

    qrows = sorted(qrows, key=lambda r: r.vec_id)
    Q = np.array([[float(v) for v in r.emb] for r in qrows], dtype=np.float64)
    qid = np.array([r.vec_id for r in qrows], dtype=np.int64)
    cols = ["vec_id", "label", "emb"] if labels else ["vec_id", "emb"]
    schema = "query_id long, neighbor_id long, cos_raw double"
    if labels:
        qlab = np.array([r.label for r in qrows], dtype=np.int32)
        schema += ", q_label int, n_label int"

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            if b.num_rows == 0:
                continue
            nid = np.asarray(b.column("vec_id"), dtype=np.int64)
            V = np.asarray(b.column("emb").flatten(), dtype=np.float64)
            cos = cosine_block(Q, V.reshape(-1, Q.shape[1]))
            self_mask = qid[:, None] == nid[None, :]
            masked = np.where(self_mask, -np.inf, cos)
            if masked.shape[1] > k:
                kth = np.partition(masked, -k, axis=1)[:, -k]
            else:
                kth = np.full(masked.shape[0], -np.inf)
            # ~self_mask guards batches with fewer than k other rows
            # (kth = -inf would otherwise keep the self rows too).
            keep = (masked >= (kth[:, None] - _TOPK_MARGIN)) & ~self_mask
            qi, vi = np.nonzero(keep)
            arrays = [
                pa.array(qid[qi], type=pa.int64()),
                pa.array(nid[vi], type=pa.int64()),
                pa.array(cos[qi, vi], type=pa.float64()),
            ]
            names = ["query_id", "neighbor_id", "cos_raw"]
            if labels:
                nlab = np.asarray(b.column("label"), dtype=np.int32)
                arrays += [pa.array(qlab[qi], type=pa.int32()), pa.array(nlab[vi], type=pa.int32())]
                names += ["q_label", "n_label"]
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return corpus.select(*cols).mapInArrow(kernel, schema)


@register(
    "ml_knn_loo_accuracy",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
    pairs AS (
      SELECT q.vec_id AS query_id, q.label AS q_label,
             v.label AS n_label, v.vec_id AS neighbor_id,
             round(list_dot_product(q.emb, v.emb) /
                   (sqrt(list_dot_product(q.emb, q.emb)) *
                    sqrt(list_dot_product(v.emb, v.emb))), 6) AS cosine
      FROM e q JOIN e v ON q.vec_id % {LOO_EVERY} = 0 AND q.vec_id != v.vec_id
    ),
    nn AS (
      SELECT query_id, q_label, n_label,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rk
      FROM pairs
    )
    SELECT CAST(q_label AS INTEGER) AS label,
           CAST(count(*) AS BIGINT) AS n_eval,
           CAST(sum(CASE WHEN n_label = q_label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST(sum(CASE WHEN n_label = q_label THEN 1 ELSE 0 END)
                AS BIGINT) * 1000000
             // count(*) AS accuracy_ppm
    FROM nn WHERE rk = 1
    GROUP BY q_label
    """,
)
def ml_knn_loo_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label leave-one-out 1-NN classification accuracy over the
    embedding space (deterministic eval subset, exact cosine).

    Round-11 optimization (guide §4.2): the cosine of every
    (query, corpus) pair was a Catalyst `aggregate(zip_with(...))`
    fold — CodegenFallback, interpreted per array element — under a
    broadcast nested-loop join (~queries x corpus x 3 folds). The
    scoring now runs as a map-only `mapInArrow` kernel over the corpus
    with the query block in the task closure (the same bounded-query
    posture the broadcast join had): per Arrow batch it computes the
    cosines with `cosine_block` and emits only the near-argmax
    candidates (`_topk_candidates` with k=1); the
    exact `round(..., 6)` + `max_by` tie rule then runs in the JVM on
    that dimension-sized candidate relation, so the 1-NN per query is
    bit-identical to the all-pairs plan (pinned by
    tests/test_properties.py::test_loo_candidate_kernel_matches_pairs).
    """
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").alias("emb")
    )
    qrows = emb.filter(F.col("vec_id") % LOO_EVERY == 0).collect()
    cand = _topk_candidates(emb, qrows, 1, labels=True)
    # top-1 via max_by partial aggregation (map-side combinable), not a
    # ranking window: the pair relation never hits a per-query sort.
    # max over (cosine, -neighbor_id) == rank 1 of (cosine DESC, id ASC).
    nn = cand.groupBy("query_id", "q_label").agg(
        F.max_by(
            "n_label",
            F.struct(
                F.round(F.col("cos_raw"), 6).alias("c"),
                (-F.col("neighbor_id")).alias("nid"),
            ),
        ).alias("n_label")
    )
    hit = F.when(F.col("n_label") == F.col("q_label"), 1).otherwise(0)
    return nn.groupBy(F.col("q_label").cast("int").alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_eval"),
        F.sum(hit).cast("bigint").alias("n_correct"),
        F.expr(
            "CAST(sum(CASE WHEN n_label = q_label THEN 1 ELSE 0 END) AS BIGINT)"
            " * CAST(1000000 AS BIGINT) DIV count(*)"
        ).alias("accuracy_ppm"),
    )


# --------------------------------------------------------------------------
# MIPS-to-cosine reduction check — the standard trick for serving
# maximum-inner-product search on a cosine/L2 ANN index: augment every
# corpus vector with an extra coordinate sqrt(M^2 - |v|^2) (M = max
# corpus norm) and zero-pad queries; cosine ranking in the augmented
# space provably equals inner-product ranking in the original space.
# This query runs BOTH rankings for the eval queries and reports
# per-query top-K set agreement — the transform's correctness
# certificate on this corpus (expected: agreement == K everywhere,
# up to rounded-cosine ties).
#
# Scale shape: same bounded-query brute pattern as the kNN family
# (broadcast query side, map-side scores, max_by/top-k per query);
# the augmentation itself is one map-side column.
# --------------------------------------------------------------------------
@register(
    "sim_mips_transform_check",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    nm AS (SELECT vec_id, emb, list_dot_product(emb, emb) AS sq FROM e),
    mx AS (SELECT max(sq) AS m2 FROM nm),
    mips AS (
      SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
             round(list_dot_product(q.emb, v.emb), 6) AS ip
      FROM e q JOIN e v ON q.vec_id < {N_QUERIES} AND q.vec_id != v.vec_id
    ),
    mips_rk AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY ip DESC, neighbor_id) AS rk
      FROM mips
    ),
    aug AS (
      SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
             round(list_dot_product(q.emb, v.emb)
                   / (sqrt(q.sq) * sqrt(v.sq + (mx.m2 - v.sq))), 6) AS cosy
      FROM nm q JOIN nm v ON q.vec_id < {N_QUERIES} AND q.vec_id != v.vec_id
      CROSS JOIN mx
    ),
    aug_rk AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosy DESC, neighbor_id) AS rk
      FROM aug
    )
    SELECT m.query_id,
           CAST(count(*) AS BIGINT) AS n_agree
    FROM mips_rk m JOIN aug_rk a
      ON a.query_id = m.query_id AND a.neighbor_id = m.neighbor_id
     AND m.rk <= {TOP_K} AND a.rk <= {TOP_K}
    GROUP BY m.query_id
    """,
)
def sim_mips_transform_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOP_K} agreement between direct inner-product ranking and
    the augmented-dimension cosine ranking (the MIPS->cosine serving
    transform), per eval query."""
    emb = table(spark, sf_dir, "embeddings")
    nm = emb.select(
        "vec_id",
        "embedding",
        _dot("embedding", "embedding").alias("sq"),
    )
    mx = nm.agg(F.max("sq").alias("m2"))
    q = nm.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("sq").alias("qsq"),
    )
    v = nm.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ve"),
        F.col("sq").alias("vsq"),
    )
    pairs = (
        F.broadcast(q)
        .crossJoin(v)
        .crossJoin(F.broadcast(mx))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(_dot("qe", "ve"), 6).alias("ip"),
            F.round(
                _dot("qe", "ve")
                / (
                    F.sqrt(F.col("qsq"))
                    * F.sqrt(F.col("vsq") + (F.col("m2") - F.col("vsq")))
                ),
                6,
            ).alias("cosy"),
        )
        .persist()
    )
    wm = W.partitionBy("query_id").orderBy(F.desc("ip"), "neighbor_id")
    wa = W.partitionBy("query_id").orderBy(F.desc("cosy"), "neighbor_id")
    mips_rk = pairs.withColumn("rk", F.row_number().over(wm)).filter(
        F.col("rk") <= TOP_K
    ).select("query_id", "neighbor_id")
    aug_rk = pairs.withColumn("rk", F.row_number().over(wa)).filter(
        F.col("rk") <= TOP_K
    ).select(
        F.col("query_id").alias("a_q"), F.col("neighbor_id").alias("a_n")
    )
    return (
        mips_rk.join(
            aug_rk,
            (F.col("query_id") == F.col("a_q"))
            & (F.col("neighbor_id") == F.col("a_n")),
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_agree"))
    )
