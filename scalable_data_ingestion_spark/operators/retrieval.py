"""BM25 keyword retrieval over the documents corpus.

The lexical-retrieval baseline every RAG / retrieval-augmented training
pipeline runs before (or alongside) the embedding stack: Okapi BM25
with Lucene's non-negative idf ``ln(1 + (N - df + 0.5)/(df + 0.5))``,
k1 = 1.2, b = 0.75, scored for a fixed multi-term query and reduced to
a global top-k.

Spark-first shape (100 TB corpus):
- The query-term filter lands **before** the explode aggregation, so
  the per-(doc, term) tf relation is |matching docs| x |query terms| —
  the corpus-sized token stream never shuffles (partial aggregation on
  (doc_id, tok) keys drawn from a ~|query| dictionary).
- Corpus statistics (N, avgdl, per-term df) are one-row / query-sized
  aggregates broadcast back onto the tf relation — no second corpus
  pass beyond the doc-length scan.
- The per-document term sum is spelled as FIXED-ORDER conditional-max
  columns (t0 + t1 + ...), not an order-dependent float ``sum()``, so
  the score is bit-identical across engines and partitionings (same
  policy as the MaxSim facet sum, operators/multivector.py).
- The final top-k is a TakeOrderedAndProject-shaped reduction with a
  (score desc, doc_id) total order.

No reference counterpart (the reference has no text retrieval at all);
this extends SURVEY.md §2's north-star text family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.ranking import take_ordered_ranked
from ..registry import register
from .text import tokens_col

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ("spark", "vector", "stream", "dup")
BM25_TOPK = 25

_TOKENS_SQL = r"string_split_regex(trim(text), '\s+')"
_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_TERMS)


def _contrib_sql(i: int) -> str:
    """Per-term BM25 contribution, pivoted to a fixed column order."""
    t = BM25_TERMS[i]
    return (
        f"coalesce(max(CASE WHEN tok = '{t}' THEN "
        f"idf * tf * ({BM25_K1} + 1.0) / "
        f"(tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl / avgdl)) END), 0.0)"
    )


_BM25_ORACLE = f"""
WITH docs AS (
  SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
),
dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM docs),
corpus AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_dl
  FROM dl
),
tok AS (
  SELECT doc_id, unnest(toks) AS tok FROM docs
),
tf AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
  FROM tok WHERE tok IN ({_TERMS_SQL}) GROUP BY doc_id, tok
),
df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
scored AS (
  SELECT t.doc_id, t.tok, t.tf, d.dl,
         CAST(c.total_dl AS DOUBLE) / c.n_docs AS avgdl,
         ln(1.0 + (c.n_docs - f.df + 0.5) / (f.df + 0.5)) AS idf
  FROM tf t
  JOIN df f USING (tok)
  JOIN dl d USING (doc_id)
  CROSS JOIN corpus c
),
per_doc AS (
  SELECT doc_id,
         {" + ".join(_contrib_sql(i) for i in range(len(BM25_TERMS)))} AS score
  FROM scored GROUP BY doc_id
),
ranked AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id) AS rank
  FROM per_doc
)
SELECT CAST(rank AS INTEGER) AS rank, doc_id, round(score, 6) AS bm25_score
FROM ranked WHERE rank <= {BM25_TOPK}
"""


@register("txt_bm25_topk", oracle=_BM25_ORACLE)
def txt_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global BM25 top-{BM25_TOPK} for the fixed query {BM25_TERMS}."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", tokens_col().alias("toks")
    )
    dl = docs.select("doc_id", F.size("toks").cast("bigint").alias("dl"))
    corpus = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("total_dl"),
    )
    tok = docs.select("doc_id", F.explode("toks").alias("tok")).filter(
        F.col("tok").isin(*BM25_TERMS)
    )
    tf = tok.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    scored = (
        tf.join(F.broadcast(df), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .select(
            "doc_id",
            "tok",
            "tf",
            "dl",
            (F.col("total_dl").cast("double") / F.col("n_docs")).alias("avgdl"),
            F.log(
                1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ).alias("idf"),
        )
    )
    contrib = (
        F.col("idf")
        * F.col("tf")
        * (BM25_K1 + 1.0)
        / (
            F.col("tf")
            + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    per_term = [
        F.coalesce(
            F.max(F.when(F.col("tok") == t, contrib)), F.lit(0.0)
        ).alias(f"t{i}")
        for i, t in enumerate(BM25_TERMS)
    ]
    per_doc = scored.groupBy("doc_id").agg(*per_term)
    score = None
    for i in range(len(BM25_TERMS)):
        score = F.col(f"t{i}") if score is None else score + F.col(f"t{i}")
    # TakeOrderedAndProject top-k; only the K survivors see a window
    # (VERDICT r3 #3 — no single-partition ranking of the corpus).
    ranked = take_ordered_ranked(
        per_doc.select("doc_id", score.alias("score")),
        [F.col("score").desc(), F.col("doc_id")],
        BM25_TOPK,
    )
    return ranked.select(
        F.col("rank").cast("int").alias("rank"),
        "doc_id",
        F.round("score", 6).alias("bm25_score"),
    )


# --------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion (RRF, Cormack et al. '09)
# of the BM25 lexical ranking and a dense cosine ranking — the
# standard two-tower serving pattern (sparse recall ∪ dense recall ->
# rank-level fusion, no score calibration needed because RRF only
# consumes RANKS). Embeddings index documents by id here (vec_id ==
# doc_id in the fixture), query = vector 0.
#
#   rrf(d) = 1/(K + rank_bm25(d)) + 1/(K + rank_dense(d))
#
# with absent-from-one-list contributing 0. The two reciprocal terms
# combine in a FIXED order, so the fused score is bit-identical
# cross-engine; the fused list carries both source ranks for
# observability.
# --------------------------------------------------------------------------
RRF_K = 60
RRF_TOPK = 20
RRF_DENSE_QUERY = 0  # vec_id of the dense query vector
RRF_POOL = 25  # depth of each source ranking

_RRF_ORACLE = f"""
WITH bm AS ({_BM25_ORACLE.strip()}),
e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
q AS (SELECT emb FROM e WHERE vec_id = {RRF_DENSE_QUERY}),
cos AS (
  SELECT v.vec_id AS doc_id,
         round(list_dot_product(q.emb, v.emb) /
               (sqrt(list_dot_product(q.emb, q.emb)) *
                sqrt(list_dot_product(v.emb, v.emb))), 6) AS cosine
  FROM e v CROSS JOIN q WHERE v.vec_id != {RRF_DENSE_QUERY}
),
dense AS (
  SELECT doc_id, CAST(rnk AS INTEGER) AS dense_rank FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY cosine DESC, doc_id) AS rnk
    FROM cos) WHERE rnk <= {RRF_POOL}
),
fused AS (
  SELECT coalesce(bm.doc_id, dense.doc_id) AS doc_id,
         bm.rank AS bm25_rank, dense.dense_rank,
         coalesce(1.0 / ({RRF_K} + bm.rank), 0.0)
           + coalesce(1.0 / ({RRF_K} + dense.dense_rank), 0.0) AS s
  FROM bm FULL OUTER JOIN dense ON dense.doc_id = bm.doc_id
)
SELECT CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS INTEGER) AS fused_rank,
       doc_id, round(s, 6) AS rrf_score, bm25_rank, dense_rank
FROM fused
QUALIFY fused_rank <= {RRF_TOPK}
"""


@register("sim_hybrid_rrf", oracle=_RRF_ORACLE)
def sim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{RRF_TOPK} hybrid ranking: RRF fusion of the BM25 top-{RRF_POOL}
    and the dense cosine top-{RRF_POOL}."""
    from .similarity import cosine_order, cosine_pairs

    bm = txt_bm25_topk(spark, sf_dir).select(
        "doc_id", F.col("rank").alias("bm25_rank")
    )
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cos = cosine_pairs(e, F.col("vec_id") == RRF_DENSE_QUERY)
    dense = take_ordered_ranked(cos, cosine_order(), RRF_POOL, "dense_rank").select(
        F.col("neighbor_id").alias("doc_id"),
        F.col("dense_rank").cast("int").alias("dense_rank"),
    )
    fused = bm.join(dense, "doc_id", "full_outer").select(
        "doc_id",
        "bm25_rank",
        "dense_rank",
        (
            F.coalesce(1.0 / (RRF_K + F.col("bm25_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (RRF_K + F.col("dense_rank")), F.lit(0.0))
        ).alias("s"),
    )
    return (
        take_ordered_ranked(
            fused, [F.col("s").desc(), F.col("doc_id")], RRF_TOPK, "fused_rank"
        )
        .withColumn("fused_rank", F.col("fused_rank").cast("int"))
        .select(
            "fused_rank", "doc_id", F.round("s", 6).alias("rrf_score"),
            "bm25_rank", "dense_rank",
        )
    )
