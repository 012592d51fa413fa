"""Late-interaction (MaxSim) multi-vector retrieval.

ColBERT-style scoring [Khattab & Zaharia, SIGIR '20]: a document is
represented by a *set* of vectors (here: the 64-dim embedding split
into 8 contiguous 8-dim sub-vectors, standing in for per-token
vectors); the relevance of doc d to query q is

    MaxSim(q, d) = sum over query sub-vectors q_i of
                   max over doc sub-vectors d_j of  <q_i, d_j>

i.e. every query facet matches its best-matching doc facet. This is
the retrieval operator single-vector cosine kNN cannot express — it
rewards documents that cover *all* aspects of the query.

Spark-first shape and the 100 TB argument:
- Sub-vectors come from one in-row ``transform(sequence(...), slice)``
  (narrow, codegen) + posexplode — corpus side becomes 8x rows, each
  an 8-dim array, i.e. the same bytes as before.
- The query side (a handful of query docs x 8 sub-vectors) is
  broadcast; the join is map-side against the corpus scan — no corpus
  shuffle at any scale.
- The two reductions (max over doc facets, then sum over the 8 query
  facets) run as partial aggregates; the final sum is spelled as 8
  conditional-max columns added in a fixed order, so the plan is ONE
  groupBy on (query, doc) after the map-side join, and the arithmetic
  is order-independent (max) + fixed-order (the 8-term sum) — exactly
  reproducible across engines and partitionings.
- Top-k per query is TakeOrderedAndProject-shaped (rank window over a
  50-row-per-query aggregate, negligible).

At real scale the corpus side would first be pruned by an ANN stage
(operators/similarity.py IVF / operators/pq.py IVF-PQ) and MaxSim
re-ranks the survivors — the standard two-stage late-interaction
pipeline; this operator is that re-rank stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import register

MV_M = 8  # sub-vectors per embedding
MV_SUB = 8  # dims per sub-vector (MV_M * MV_SUB = 64)
MV_QUERIES = 5  # vec_id < MV_QUERIES are the queries
MV_TOPK = 10

# Explicit 8-term dot product — identical left-to-right double
# arithmetic in both engines (no sum-over-unnest reordering).
_DOT_SQL = " + ".join(f"q.sv[{i}] * d.sv[{i}]" for i in range(1, MV_SUB + 1))
_SUM_SQL = " + ".join(f"m{i}" for i in range(MV_M))
_PIVOT_SQL = ", ".join(
    f"max(CASE WHEN qm = {i} THEN mx END) AS m{i}" for i in range(MV_M)
)

_MAXSIM_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
ms AS (SELECT unnest(generate_series(0, {MV_M - 1})) AS m),
sub AS (
  SELECT e.vec_id, ms.m,
         list_slice(e.emb, ms.m * {MV_SUB} + 1, ms.m * {MV_SUB} + {MV_SUB}) AS sv
  FROM e CROSS JOIN ms
),
dots AS (
  SELECT q.vec_id AS query_id, q.m AS qm, d.vec_id AS neighbor_id,
         {_DOT_SQL} AS dot
  FROM sub q JOIN sub d
    ON q.vec_id < {MV_QUERIES} AND d.vec_id <> q.vec_id
),
mx AS (
  SELECT query_id, qm, neighbor_id, max(dot) AS mx
  FROM dots GROUP BY 1, 2, 3
),
sc AS (
  SELECT query_id, neighbor_id, {_PIVOT_SQL}
  FROM mx GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, neighbor_id, {_SUM_SQL} AS s,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY {_SUM_SQL} DESC, neighbor_id) AS rank
  FROM sc
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank,
       round(s, 6) AS maxsim_score
FROM ranked WHERE rank <= {MV_TOPK}
"""


@register("sim_maxsim_multivector", oracle=_MAXSIM_ORACLE)
def sim_maxsim_multivector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 late-interaction (MaxSim) matches for each query doc."""
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    sub = emb.select(
        "vec_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {MV_M - 1}), "
                f"m -> transform(slice(embedding, m * {MV_SUB} + 1, {MV_SUB}), "
                "x -> CAST(x AS DOUBLE)))"
            )
        ).alias("m", "sv"),
    )
    q = sub.filter(F.col("vec_id") < MV_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("m").alias("qm"), F.col("sv").alias("qv")
    )
    d = sub.select(
        F.col("vec_id").alias("neighbor_id"), F.col("m").alias("dm"), F.col("sv").alias("dv")
    )
    dot = None
    for i in range(MV_SUB):
        term = F.col("qv").getItem(i) * F.col("dv").getItem(i)
        dot = term if dot is None else dot + term
    dots = (
        d.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "qm", "neighbor_id", dot.alias("dot"))
    )
    mx = dots.groupBy("query_id", "qm", "neighbor_id").agg(F.max("dot").alias("mx"))
    sc = mx.groupBy("query_id", "neighbor_id").agg(
        *[
            F.max(F.when(F.col("qm") == i, F.col("mx"))).alias(f"m{i}")
            for i in range(MV_M)
        ]
    )
    s = None
    for i in range(MV_M):
        s = F.col(f"m{i}") if s is None else s + F.col(f"m{i}")
    ranked = sc.select("query_id", "neighbor_id", s.alias("s")).withColumn(
        "rank",
        F.row_number().over(
            W.partitionBy("query_id").orderBy(F.col("s").desc(), "neighbor_id")
        ),
    )
    return ranked.filter(F.col("rank") <= MV_TOPK).select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("int").alias("rank"),
        F.round("s", 6).alias("maxsim_score"),
    )


# --------------------------------------------------------------------------
# Two-stage retrieval: single-vector cosine candidate generation ->
# MaxSim late-interaction re-rank — the production serving shape
# (cheap recall stage prunes the corpus, expensive interaction model
# re-scores a shortlist). At 100 TB the candidate stage is IVF/IVF-PQ
# (operators/similarity.py, operators/pq.py); here it is exact cosine
# so the whole pipeline stays oracle-checkable end-to-end.
#
# The re-rank cost is bounded by CAND_K per query regardless of corpus
# size: sub-vector expansion happens AFTER the shortlist join, so the
# interaction stage touches |queries| x CAND_K x M^2 facet pairs, not
# the corpus.
# --------------------------------------------------------------------------
MV_CAND_K = 50  # cosine shortlist per query
MV_RERANK_K = 10

_RERANK_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
cos AS (
  SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
         round(list_dot_product(q.emb, v.emb) /
               (sqrt(list_dot_product(q.emb, q.emb)) *
                sqrt(list_dot_product(v.emb, v.emb))), 6) AS cosine
  FROM e q JOIN e v ON q.vec_id < {MV_QUERIES} AND q.vec_id != v.vec_id
),
cand AS (
  SELECT query_id, neighbor_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS INTEGER)
           AS cand_rank
  FROM cos QUALIFY cand_rank <= {MV_CAND_K}
),
ms AS (SELECT unnest(generate_series(0, {MV_M - 1})) AS m),
sub AS (
  SELECT e.vec_id, ms.m,
         list_slice(e.emb, ms.m * {MV_SUB} + 1, ms.m * {MV_SUB} + {MV_SUB}) AS sv
  FROM e CROSS JOIN ms
),
dots AS (
  SELECT c.query_id, q.m AS qm, c.neighbor_id, c.cosine, c.cand_rank,
         {_DOT_SQL} AS dot
  FROM cand c
  JOIN sub d ON d.vec_id = c.neighbor_id
  JOIN sub q ON q.vec_id = c.query_id
),
mx AS (
  SELECT query_id, qm, neighbor_id, max(cosine) AS cosine,
         max(cand_rank) AS cand_rank, max(dot) AS mx
  FROM dots GROUP BY 1, 2, 3
),
sc AS (
  SELECT query_id, neighbor_id, max(cosine) AS cosine,
         max(cand_rank) AS cand_rank, {_PIVOT_SQL}
  FROM mx GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, neighbor_id, cosine, cand_rank, {_SUM_SQL} AS s,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY {_SUM_SQL} DESC, neighbor_id) AS rerank
  FROM sc
)
SELECT query_id, neighbor_id, CAST(rerank AS INTEGER) AS rerank,
       round(s, 6) AS maxsim_score, cosine,
       CAST(cand_rank AS INTEGER) AS cand_rank
FROM ranked WHERE rerank <= {MV_RERANK_K}
"""


@register("sim_rerank_maxsim", oracle=_RERANK_ORACLE)
def sim_rerank_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-{MV_CAND_K} shortlist re-ranked by MaxSim; output
    carries both scores and both ranks so the re-ordering the
    interaction model introduces is directly visible."""
    from .similarity import cosine_pairs, cosine_rank

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cand = (
        cosine_pairs(emb, F.col("vec_id") < MV_QUERIES)
        .withColumn("cand_rank", cosine_rank().cast("int"))
        .filter(F.col("cand_rank") <= MV_CAND_K)
    )

    sub = emb.select(
        "vec_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {MV_M - 1}), "
                f"m -> transform(slice(embedding, m * {MV_SUB} + 1, {MV_SUB}), "
                "x -> CAST(x AS DOUBLE)))"
            )
        ).alias("m", "sv"),
    )
    d_sub = sub.select(
        F.col("vec_id").alias("neighbor_id"), F.col("m").alias("dm"), F.col("sv").alias("dv")
    )
    q_sub = sub.select(
        F.col("vec_id").alias("query_id"), F.col("m").alias("qm"), F.col("sv").alias("qv")
    ).filter(F.col("query_id") < MV_QUERIES)
    dot = None
    for i in range(MV_SUB):
        term = F.col("qv").getItem(i) * F.col("dv").getItem(i)
        dot = term if dot is None else dot + term
    dots = (
        cand.join(d_sub, "neighbor_id")
        .join(F.broadcast(q_sub), "query_id")
        .select("query_id", "qm", "neighbor_id", "cosine", "cand_rank", dot.alias("dot"))
    )
    mx = dots.groupBy("query_id", "qm", "neighbor_id").agg(
        F.max("cosine").alias("cosine"),
        F.max("cand_rank").alias("cand_rank"),
        F.max("dot").alias("mx"),
    )
    sc = mx.groupBy("query_id", "neighbor_id").agg(
        F.max("cosine").alias("cosine"),
        F.max("cand_rank").alias("cand_rank"),
        *[
            F.max(F.when(F.col("qm") == i, F.col("mx"))).alias(f"m{i}")
            for i in range(MV_M)
        ],
    )
    s = None
    for i in range(MV_M):
        s = F.col(f"m{i}") if s is None else s + F.col(f"m{i}")
    ranked = sc.select(
        "query_id", "neighbor_id", "cosine", "cand_rank", s.alias("s")
    ).withColumn(
        "rerank",
        F.row_number().over(
            W.partitionBy("query_id").orderBy(F.col("s").desc(), "neighbor_id")
        ),
    )
    return ranked.filter(F.col("rerank") <= MV_RERANK_K).select(
        "query_id",
        "neighbor_id",
        F.col("rerank").cast("int").alias("rerank"),
        F.round("s", 6).alias("maxsim_score"),
        "cosine",
        F.col("cand_rank").cast("int").alias("cand_rank"),
    )


# --------------------------------------------------------------------------
# Recall-vs-interaction agreement — the eval harness for the two-stage
# retrieval above (same ships-with-its-eval policy as dd_lsh_eval /
# sim_ivf_recall_at_k / eval_classifier_auc): per query, how much does
# the MaxSim re-rank actually change the cosine ordering?
#   n_overlap_top10  — how many of the final top-10 were already in the
#                      cosine top-10 (10 = the interaction model agrees
#                      with the recall stage; low = it matters)
#   top1_cand_rank   — where the final #1 sat in the cosine ordering
# Pure integer counters over the re-rank output; one dimension-sized
# aggregate.
# --------------------------------------------------------------------------
@register(
    "sim_rerank_agreement",
    oracle=f"""
    WITH rr AS ({_RERANK_ORACLE.strip()})
    SELECT query_id,
           CAST(sum(CASE WHEN cand_rank <= {MV_RERANK_K} THEN 1 ELSE 0 END)
                AS INTEGER) AS n_overlap_top10,
           CAST(max(CASE WHEN rerank = 1 THEN cand_rank END) AS INTEGER)
               AS top1_cand_rank
    FROM rr GROUP BY query_id
    """,
)
def sim_rerank_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query agreement between the cosine shortlist ordering and
    the MaxSim re-rank (overlap@{MV_RERANK_K}, final-top1 provenance)."""
    rr = sim_rerank_maxsim(spark, sf_dir)
    return rr.groupBy("query_id").agg(
        F.sum(F.when(F.col("cand_rank") <= MV_RERANK_K, 1).otherwise(0))
        .cast("int")
        .alias("n_overlap_top10"),
        F.max(F.when(F.col("rerank") == 1, F.col("cand_rank")))
        .cast("int")
        .alias("top1_cand_rank"),
    )
