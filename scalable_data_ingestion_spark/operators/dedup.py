"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash
(north-star LLM pipeline surface, SURVEY.md §7 step 8).

Cache lifecycle: builders here persist()/cache() multi-referenced
relations and deliberately never unpersist (the returned plan still
references them) — consumers own the drop via ``registry.cache_scope``
/ ``spark.catalog.clearCache()``; see the registry module docstring.

Design for 100 TB:
- Exact dedup: md5-fingerprint groupBy — one shuffle keyed on a
  16-byte hash, never on the document body.
- Jaccard: inverted-index self-join on distinct shingles. The join key
  is the shingle, so common shingles fan out; at scale, drop
  ultra-frequent shingles (document-frequency cap) before the join —
  implemented here as DF_CAP.
- MinHash-LSH: signatures are k independent min-hashes implemented as
  ``min(md5(seed || shingle))`` — deterministic, engine-portable (md5
  exists in DuckDB too, so the whole LSH pipeline is oracle-checked,
  unlike hash-seeded implementations). Banding turns O(n^2) pair
  generation into an equi-join on (band_index, band_hash): exactly the
  shuffle pattern that scales to billions of docs. Candidates are then
  verified with true Jaccard.
- SimHash: 16-bit signatures from per-token md5 high-bits; near-dup =
  Hamming distance <= HAMMING_MAX via bit_count(xor). Candidate pairs
  come from a pigeonhole band equi-join (HAMMING_MAX+1 bands — at
  least one band must match exactly for any pair within the distance
  bound), so recall is exact and the shuffle is keyed on small band
  ints, never O(n^2) pairs.

Spark plans use only built-ins (split/explode/md5/min/bit ops) — no
Python UDFs anywhere.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table, widen_if_narrow
from ..registry import register

SHINGLE_N = 3
MINHASH_K = 12  # total min-hash functions
LSH_BANDS = 4  # bands of r = K/BANDS rows each
JACCARD_THRESHOLD = 0.6
MINHASH_VERIFY_THRESHOLD = 0.5
HAMMING_MAX = 3
DF_CAP = 1000  # drop shingles appearing in more docs than this (join-skew guard)

_TOKENS = r"string_split_regex(trim(text), '\s+')"

_SHINGLES_CTE = f"""
tok AS (
  SELECT doc_id, {_TOKENS} AS t FROM documents
  WHERE len({_TOKENS}) >= {SHINGLE_N}
),
idx AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t) - {SHINGLE_N - 1})) AS i FROM tok
),
shingle_all AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh FROM idx
),
shingle AS (
  SELECT doc_id, sh FROM shingle_all
  WHERE sh IN (SELECT sh FROM shingle_all GROUP BY sh HAVING count(*) <= {DF_CAP})
),
sizes AS (SELECT doc_id, count(*) AS n FROM shingle GROUP BY doc_id)
"""


def shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct word-{3}-gram shingles per doc, with a document-frequency
    cap on pathological shingles (inverted-index skew guard)."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    sh = (
        docs.select("doc_id", toks.alias("t"))
        .filter(F.size("t") >= SHINGLE_N)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(t) - {SHINGLE_N}), "
                    "i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"
                )
            ).alias("sh"),
        )
        .distinct()
    )
    # document-frequency cap via a count window over sh — one pass over
    # the shingle relation instead of a second groupBy + anti-join
    # (the subtree would otherwise be computed twice).
    from pyspark.sql import Window as W

    df_count = F.count(F.lit(1)).over(W.partitionBy("sh"))
    return sh.withColumn("_df", df_count).filter(F.col("_df") <= DF_CAP).drop("_df")


def _jaccard_pairs(sh: DataFrame, threshold: float) -> DataFrame:
    """Inverted-index self-join -> intersection counts -> Jaccard."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).persist()  # doc-sized; referenced by both join sides (round 11: the agg over the shingle cache ran once per reference)
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))).alias("j"),
        )
    )
    return jac.filter(F.col("j") >= threshold).select(
        "doc_a", "doc_b", F.round("j", 6).alias("jaccard")
    )


# --------------------------------------------------------------------------
# exact dedup by content hash (with injected duplicates so the operator
# has real work at any SF: every 20th doc appears twice).
# --------------------------------------------------------------------------
@register(
    "dd_exact_dedup",
    oracle=r"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 20 = 0
    )
    SELECT md5(text) AS fingerprint,
           CAST(min(doc_id) AS BIGINT) AS kept_doc_id,
           count(*) AS n_copies
    FROM corpus
    GROUP BY md5(text)
    """,
)
def dd_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    dupes = docs.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(dupes)
    return corpus.groupBy(F.md5("text").alias("fingerprint")).agg(
        F.min("doc_id").cast("bigint").alias("kept_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


# --------------------------------------------------------------------------
# n-gram Jaccard near-dup pairs (full inverted-index join).
# --------------------------------------------------------------------------
@register(
    "dd_ngram_jaccard_pairs",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM shingle a JOIN shingle b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD}
    """,
)
def dd_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cache: the shingle relation feeds the join twice + the size agg
    # (small: one row per distinct (doc, shingle)).
    return _jaccard_pairs(shingles(spark, sf_dir).cache(), JACCARD_THRESHOLD)


# --------------------------------------------------------------------------
# MinHash-LSH: banded signatures -> candidate pairs -> Jaccard verify.
# --------------------------------------------------------------------------
def _minhash_sig(sh: DataFrame) -> DataFrame:
    # 12 hash functions from 3 md5 evaluations: each md5 yields four
    # independent 8-hex (32-bit) chunks. 4x less hashing per shingle on
    # the hot path; Catalyst's subexpression elimination computes each
    # distinct md5 once per row.
    aggs = []
    for k in range(MINHASH_K):
        grp, off = divmod(k, 4)
        aggs.append(
            F.min(
                F.substring(
                    F.md5(F.concat(F.lit(f"s{grp}|"), F.col("sh"))), off * 8 + 1, 8
                )
            ).alias(f"h{k}")
        )
    return sh.groupBy("doc_id").agg(*aggs)


def _bands(sig: DataFrame) -> DataFrame:
    # one explode over an inline band array — a UNION of per-band selects
    # would recompute the signature aggregation once per band.
    r = MINHASH_K // LSH_BANDS
    band_structs = [
        F.struct(
            F.lit(band).alias("band"),
            F.md5(F.concat(*[F.col(f"h{band * r + j}") for j in range(r)])).alias("bh"),
        )
        for band in range(LSH_BANDS)
    ]
    return sig.select("doc_id", F.explode(F.array(*band_structs)).alias("b")).select(
        "doc_id", "b.band", "b.bh"
    )


@register(
    "dd_minhash_lsh_pairs",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sig AS (
      SELECT doc_id,
             {", ".join(
                 f"min(substr(md5('s{k // 4}|' || sh), {(k % 4) * 8 + 1}, 8)) AS h{k}"
                 for k in range(MINHASH_K)
             )}
      FROM shingle GROUP BY doc_id
    ),
    bands AS (
      {" UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({cat}) AS bh FROM sig".format(
            b=b,
            cat=" || ".join(f"h{b * (MINHASH_K // LSH_BANDS) + j}"
                            for j in range(MINHASH_K // LSH_BANDS)),
        )
        for b in range(LSH_BANDS)
      )}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    ),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS i
      FROM cand c
      JOIN shingle a ON a.doc_id = c.doc_a
      JOIN shingle b ON b.doc_id = c.doc_b AND b.sh = a.sh
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b,
           round(CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON i.doc_a = sa.doc_id
    JOIN sizes sb ON i.doc_b = sb.doc_id
    WHERE CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i) >= {MINHASH_VERIFY_THRESHOLD}
    """,
)
def dd_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate generation + exact-Jaccard verification.

    Recall is probabilistic (a true near-dup pair can miss every band);
    determinism is exact — both engines compute identical signatures,
    so the oracle checks the full pipeline.
    """
    # cache: the shingle relation feeds signatures, the verify join (2x)
    # and the size agg — without it the scan+explode+distinct runs 4x.
    sh = shingles(spark, sf_dir).cache()
    # sig persists too (round 11): both sides of the band self-join
    # derive from it, and the 12-min-hash aggregate (3 md5 evaluations
    # per shingle row) is the pipeline's heaviest map work — uncached
    # it runs twice, once per join side (same duplicated-subtree class
    # as the mm_phash round-10 fix; dd_bbit_minhash_eval already
    # persists its signature relation for the same reason).
    sig = _minhash_sig(sh).persist()
    bands = _bands(sig)
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sha = sh.select(F.col("doc_id").alias("da"), F.col("sh").alias("sh_a"))
    shb = sh.select(F.col("doc_id").alias("db"), F.col("sh").alias("sh_b"))
    inter = (
        cand.join(sha, F.col("doc_a") == F.col("da"))
        .join(shb, (F.col("doc_b") == F.col("db")) & (F.col("sh_a") == F.col("sh_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).persist()  # doc-sized; referenced by both join sides (round 11: the agg over the shingle cache ran once per reference)
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))).alias("j"),
        )
    )
    return jac.filter(F.col("j") >= MINHASH_VERIFY_THRESHOLD).select(
        "doc_a", "doc_b", F.round("j", 6).alias("jaccard")
    )


# --------------------------------------------------------------------------
# SimHash: 16-bit signature from token md5 high-bits; Hamming pairs.
# --------------------------------------------------------------------------
_HIGH_HEX = ("8", "9", "a", "b", "c", "d", "e", "f")


def _simhash_sql() -> str:
    bit_terms = ", ".join(
        f"sum(CASE WHEN substr(md5(tok), {j + 1}, 1) IN {_HIGH_HEX} THEN 1 ELSE -1 END) AS s{j}"
        for j in range(16)
    )
    fp = " + ".join(f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(16))
    return f"""
    tok AS (
      SELECT doc_id, unnest({_TOKENS}) AS tok FROM documents
    ),
    bits AS (SELECT doc_id, {bit_terms} FROM tok GROUP BY doc_id),
    sig AS (SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM bits)
    """


@register(
    "dd_simhash_signatures",
    oracle=f"WITH {_simhash_sql()} SELECT doc_id, simhash FROM sig",
)
def dd_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok")
    )
    bit_aggs = [
        F.sum(
            F.when(F.substring(F.md5("tok"), j + 1, 1).isin(*_HIGH_HEX), 1).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(16)
    ]
    bits = toks.groupBy("doc_id").agg(*bit_aggs)
    fp = None
    for j in range(16):
        term = F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(0)
        fp = term if fp is None else fp + term
    return bits.select("doc_id", fp.cast("bigint").alias("simhash"))


@register(
    "dd_simhash_near_pairs",
    oracle=f"""
    WITH {_simhash_sql()}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_MAX}
    """,
)
def dd_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-pairs via banded candidate generation + exact verify.

    Pigeonhole banding: split the 16-bit signature into HAMMING_MAX + 1
    = 4 bands of 4 bits. Any pair within Hamming distance 3 must agree
    EXACTLY on at least one band, so the (band, band-bits) equi-join has
    perfect recall — unlike MinHash banding this is a guarantee, not a
    probability, which is why the all-pairs SQL oracle still matches
    exactly. The join shuffles on two small ints (never O(n^2) pairs);
    candidates are then verified with bit_count(xor) <= 3. This replaces
    the round-1 broadcast nested-loop `doc_a < doc_b` self-join.
    """
    n_bands = HAMMING_MAX + 1  # 4 bands x 4 bits over the 16-bit signature
    band_bits = 16 // n_bands
    sig = dd_simhash_signatures(spark, sf_dir).cache()  # feeds bands + verify
    band_structs = [
        F.struct(
            F.lit(bnd).alias("band"),
            F.shiftright("simhash", bnd * band_bits)
            .bitwiseAND(F.lit((1 << band_bits) - 1))
            .alias("bits"),
        )
        for bnd in range(n_bands)
    ]
    bands = sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("b")
    ).select("doc_id", "b.band", "b.bits")
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bits") == F.col("b.bits"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    ha = sig.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"))
    hb = sig.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"))
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        cand.join(ha, "doc_a")
        .join(hb, "doc_b")
        .filter(ham <= HAMMING_MAX)
        .select("doc_a", "doc_b", ham.cast("int").alias("hamming"))
    )


# --------------------------------------------------------------------------
# embedding-cosine near-dup: every 25th vector gets a slightly-perturbed
# copy injected (first component +0.05); pairs at cosine >= 0.99 are the
# planted near-dups (natural max in this corpus is ~0.51).
# --------------------------------------------------------------------------
EMB_NEARDUP_THRESHOLD = 0.99


def _emb_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings plus planted near-dups (every 25th vector re-appears
    with +0.05 on its first component under vec_id+1e6)."""
    emb = widen_if_narrow(
        table(spark, sf_dir, "embeddings").select(
            "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb")
        )
    )
    perturbed = emb.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.concat(
            F.array(F.col("emb")[0] + 0.05), F.slice("emb", 2, 1000)
        ).alias("emb"),
    )
    return emb.unionByName(perturbed)


# SQL twin of _emb_corpus (DuckDB 1-based list slicing).
_EMB_CORPUS_CTE = """
e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
corpus AS (
  SELECT vec_id, emb FROM e
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id,
         list_concat([emb[1] + 0.05], emb[2:]) AS emb
  FROM e WHERE vec_id % 25 = 0
)
"""


def _load_emb_index(emb_path: str):
    """Executor-side index build for the brute-force scorer: read the
    embeddings parquet directly in the Python worker (pyarrow) and
    mirror ``_emb_corpus``'s transformation (float64 widening + the
    planted every-25th perturbed copy) in numpy. Called once per task.
    A plain function, so it travels to the worker by value with the
    package; an ``lru_cache`` wrapper would be pickled by name and need
    the package importable on the worker. The driver never holds the
    matrix, and building the query plan triggers no Spark job."""
    import numpy as np
    import pyarrow.parquet as pq

    tbl = pq.read_table(emb_path, columns=["vec_id", "embedding"])
    ids = tbl.column("vec_id").to_numpy()
    emb = np.vstack(
        [np.asarray(v, dtype=np.float64) for v in tbl.column("embedding").to_pylist()]
    )
    mask = ids % 25 == 0
    pert = emb[mask].copy()
    pert[:, 0] += 0.05
    return np.concatenate([ids, ids[mask] + 1000000]), np.vstack([emb, pert])


@register(
    "dd_embedding_neardup_pairs",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    corpus AS (
      SELECT vec_id, emb FROM e
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id,
             list_concat([emb[1] + 0.05], emb[2:]) AS emb
      FROM e WHERE vec_id % 25 = 0
    ),
    pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             round(list_dot_product(a.emb, b.emb) /
                   (sqrt(list_dot_product(a.emb, a.emb)) *
                    sqrt(list_dot_product(b.emb, b.emb))), 6) AS cosine
      FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, cosine FROM pairs WHERE cosine >= {EMB_NEARDUP_THRESHOLD}
    """,
)
def dd_embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate detection.

    Brute-force all-pairs cosine, but with the pair kernel vectorized:
    each Arrow batch of "a" vectors is scored in numpy (mapInPandas)
    against an index matrix the WORKER builds from the embeddings
    parquet (``_load_emb_index``) — no driver-side collect, no job at
    plan-construction time. A Catalyst higher-order-function dot
    product per pair interprets 64 lambda steps per pair (~20x slower);
    this is the one hot loop where the Pandas-UDF escape hatch
    genuinely wins. The scores come from `similarity.cosine_block`, so
    every double is bit-identical to the Catalyst
    `aggregate(zip_with(...))` formulation. Rounding and the final
    threshold stay Spark-side expressions.

    This is the documented exact baseline: the index side is O(n) per
    worker, so it is bounded to corpora that fit one machine. At
    corpus scale the same verify kernel runs over LSH candidate pairs —
    ``dd_embedding_lsh_pairs`` below is that scale path.
    """
    import numpy as np
    import pandas as pd

    from .similarity import cosine_block

    corpus = _emb_corpus(spark, sf_dir)
    emb_path = f"{sf_dir}/embeddings.parquet"

    # Raw-cosine prefilter with slack; the authoritative round(.,6) >=
    # threshold happens in Spark below, so kernel/engine rounding modes
    # never enter the result.
    raw_cut = EMB_NEARDUP_THRESHOLD - 5e-7 - 1e-12

    def score(batches):
        ids_all, b_all = _load_emb_index(emb_path)
        for batch in batches:
            if not len(batch):
                continue
            ids_a = batch["vec_id"].to_numpy()
            cos = cosine_block(np.vstack(batch["emb"].to_numpy()), b_all)
            keep = (cos >= raw_cut) & (ids_a[:, None] < ids_all[None, :])
            ai, bi = np.nonzero(keep)
            yield pd.DataFrame(
                {"vec_a": ids_a[ai], "vec_b": ids_all[bi], "cosine_raw": cos[ai, bi]}
            )

    scored = corpus.mapInPandas(score, "vec_a long, vec_b long, cosine_raw double")
    return scored.select(
        "vec_a", "vec_b", F.round("cosine_raw", 6).alias("cosine")
    ).filter(F.col("cosine") >= EMB_NEARDUP_THRESHOLD)


# --------------------------------------------------------------------------
# Near-duplicate clustering: connected components over the Jaccard pair
# graph — the step that turns pairwise near-dup hits into dedup groups
# (keep one canonical doc per component). Spark side is an iterative
# min-label propagation (the scalable shape: each round is one shuffle
# join + aggregate; labels only decrease, so equal label-sums certify
# the fixpoint). The oracle is a recursive CTE — the rare case where
# DuckDB can value-check a genuinely iterative Spark algorithm.
#
# Hybrid strategy (round 7): the near-dup EDGE relation is tiny relative
# to the corpus — it holds only the pairs that survived the Jaccard
# threshold, i.e. the duplicates themselves, not the documents. When it
# fits comfortably on the driver (<= FAST_CC_EDGE_CAP edges, the same
# kind of explicit smallness bound as a broadcast-join threshold), a
# driver-side union-find computes the identical min-label components in
# microseconds instead of paying 2+ distributed rounds of fixed job
# overhead. Above the cap — a corpus whose duplicate graph alone
# outgrows driver memory — the distributed min-label loop runs
# unchanged. Both paths produce byte-identical labels (min doc_id per
# component; union-by-min keeps the minimum as root) and the pytest
# suite asserts their equality on the same pair set.
# --------------------------------------------------------------------------
FAST_CC_EDGE_CAP = int(os.environ.get("SPARK_GRAFT_FAST_CC_CAP", "200000"))


def _components_unionfind(pair_rows) -> list[tuple[int, int, int]]:
    """Min-label connected components of an edge list via union-find
    (union-by-min + path compression). Returns (doc_id, component_id,
    component_size) rows for every node that appears in an edge."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for a, b in pair_rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    members: dict[int, list[int]] = {}
    for node in parent:
        members.setdefault(find(node), []).append(node)
    return [
        (node, root, len(nodes))
        for root, nodes in members.items()
        for node in nodes
    ]


def _components_distributed(spark: SparkSession, pairs: DataFrame) -> DataFrame:
    """Iterative distributed min-label propagation over the pair graph
    (the > FAST_CC_EDGE_CAP path; each round = one shuffle join + agg)."""
    edges = (
        pairs.union(pairs.select(F.col("doc_b"), F.col("doc_a")))
        .toDF("src", "dst")
        .cache()
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("lab", F.col("doc_id"))
        .cache()
    )
    prev_sum = labels.agg(F.sum("lab")).first()[0]
    max_rounds = 50  # >= graph diameter of any near-dup cluster we accept
    converged = False
    for _ in range(max_rounds):
        neighbor_min = (
            edges.join(labels, edges.src == labels.doc_id)
            .groupBy(F.col("dst").alias("n_doc"))
            .agg(F.min("lab").alias("nlab"))
        )
        prev_labels = labels
        labels = (
            labels.join(neighbor_min, labels.doc_id == F.col("n_doc"), "left")
            .select(
                "doc_id",
                F.least(F.col("lab"), F.coalesce("nlab", F.col("lab"))).alias("lab"),
            )
            .cache()
        )
        cur_sum = labels.agg(F.sum("lab")).first()[0]  # materializes new cache
        prev_labels.unpersist()  # superseded generation: release executor memory
        if cur_sum == prev_sum:  # labels only decrease => fixpoint reached
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        # A silent wrong answer is worse than a loud failure: a component
        # with diameter > max_rounds would return non-minimal labels that
        # diverge from the recursive-CTE oracle.
        raise RuntimeError(
            f"near-dup connected components did not reach a fixpoint in "
            f"{max_rounds} min-label rounds (graph diameter too large)"
        )
    # final labels cache is materialized by the last sum action, so the
    # edge relation can be released now.
    edges.unpersist()
    from pyspark.sql import Window as W

    size_w = W.partitionBy("component_id")
    comp = labels.select("doc_id", F.col("lab").alias("component_id"))
    return comp.withColumn(
        "component_size", F.count(F.lit(1)).over(size_w).cast("bigint")
    )


@register(
    "dd_neardup_components",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM shingle a JOIN shingle b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
      WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD}
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS doc_id FROM edges),
    walk(doc_id, lab) AS (
      SELECT doc_id, doc_id FROM nodes
      UNION
      SELECT e.b, w.lab FROM walk w JOIN edges e ON e.a = w.doc_id
      WHERE w.lab < e.b
    ),
    comp AS (SELECT doc_id, min(lab) AS component_id FROM walk GROUP BY doc_id)
    SELECT doc_id, component_id,
           CAST(count(*) OVER (PARTITION BY component_id) AS BIGINT)
             AS component_size
    FROM comp
    """,
)
def dd_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dd_ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b").cache()
    n_edges = pairs.count()  # materializes the cache either path reuses
    if n_edges <= FAST_CC_EDGE_CAP:
        rows = _components_unionfind(
            (r["doc_a"], r["doc_b"]) for r in pairs.collect()
        )
        pairs.unpersist()
        return spark.createDataFrame(
            rows, schema="doc_id long, component_id long, component_size long"
        )
    out = _components_distributed(spark, pairs)
    pairs.unpersist()
    return out


# --------------------------------------------------------------------------
# Survivorship: collapse each near-dup cluster to its canonical (min
# doc_id) member — the "drop the duplicates, keep one" step that
# follows pair/component detection in a real curation pipeline.
# --------------------------------------------------------------------------
@register(
    "dd_neardup_survivors",
    oracle=f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM shingle a JOIN shingle b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
      WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD}
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS doc_id FROM edges),
    walk(doc_id, lab) AS (
      SELECT doc_id, doc_id FROM nodes
      UNION
      SELECT e.b, w.lab FROM walk w JOIN edges e ON e.a = w.doc_id
      WHERE w.lab < e.b
    ),
    comp AS (SELECT doc_id, min(lab) AS component_id FROM walk GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(coalesce(c.component_id, d.doc_id) AS BIGINT) AS canonical_id,
           CAST(c.doc_id IS NULL OR c.component_id = d.doc_id AS BOOLEAN) AS keep
    FROM documents d LEFT JOIN comp c USING (doc_id)
    ORDER BY doc_id
    """,
)
def dd_neardup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map every document to its canonical near-dup representative.

    Reuses the connected-components labeling (min doc_id per cluster);
    docs outside any cluster are their own canonical. ``keep`` marks the
    one survivor per cluster — `filter(keep)` is the dedup'd corpus.
    The join back to `documents` is broadcast-sized at test SF; at
    corpus scale components are a tiny fraction of docs, so the same
    broadcast holds (only docs that appear in a near-dup pair carry a
    label at all).
    """
    comp = dd_neardup_components(spark, sf_dir).select("doc_id", "component_id")
    docs = table(spark, sf_dir, "documents").select("doc_id")
    return (
        docs.join(F.broadcast(comp), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component_id", "doc_id").cast("bigint").alias("canonical_id"),
            (
                F.col("component_id").isNull()
                | (F.col("component_id") == F.col("doc_id"))
            ).alias("keep"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Embedding near-dup, the bucketed scale path: sign-random-projection
# LSH. Hyperplane signs derive from md5(h:d), so both engines build the
# identical signatures and the whole pipeline — projection, banding,
# candidate join, exact-cosine verify — is value-checked end to end.
# --------------------------------------------------------------------------
# 24 bits in 3 bands of 8: 256 bucket values per band keeps candidate
# volume collision-bound (~tens of pairs per bucket) instead of the
# ~2M pairs a 4-bit band yields on a 2k-vector corpus, while band
# recall for a 0.99-cosine pair stays ~97% (1 - (1-(1-.045)^8)^3).
EMB_LSH_PLANES = 24  # signature bits
EMB_LSH_BANDS = 3  # bands of r = PLANES/BANDS bits

# STRING is a VARCHAR alias in BOTH engines (Spark rejects bare
# VARCHAR; DuckDB accepts STRING) — the sign expression is shared, with
# the plane/dimension references parameterized per surrounding lambda.
def _plane_sign(h_expr: str, d_expr: str) -> str:
    return (
        f"CASE WHEN substr(md5(CAST({h_expr} AS STRING) || ':' || "
        f"CAST({d_expr} AS STRING)), 1, 1) >= '8' "
        "THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END"
    )


@functools.lru_cache(maxsize=1)
def _plane_signs_py() -> list[list[float]]:
    """The 24 x 64 ±1.0 plane-sign matrix, precomputed in Python —
    hashlib.md5 over the identical "h:d" bytes with the identical
    lowercase-hex first-char >= '8' comparison as the SQL CASE above
    (value-pinned by tests/test_lsh_literal_signs.py).

    Round-10 (guide §4.1/§1.2): the Spark-side projection fold used to
    evaluate the CASE's md5 PER ROW — 24 planes x 64 dims = 1536
    interpreted md5 calls per vector on the signature hot path. The
    signs are a pure function of the literal (h, d), so they now ride
    as one constant-folded array-of-arrays literal; the fold itself
    (shape, seed, order) is unchanged, so projections are bit-exact.
    """
    import hashlib

    return [
        [
            1.0
            if hashlib.md5(f"{h}:{d}".encode()).hexdigest()[0] >= "8"
            else -1.0
            for d in range(64)
        ]
        for h in range(EMB_LSH_PLANES)
    ]


@functools.lru_cache(maxsize=1)
def _plane_signs_sql() -> str:
    """array(array(...)) literal of the sign matrix ('D' suffix: a bare
    1.0 parses as DECIMAL in Spark SQL). ConstantFolding collapses it to
    a single Literal node, so the expression tree stays tiny (the fully
    unrolled arithmetic chain was measured to cost seconds of
    analysis/codegen per plan — the clustering._cb_sql lesson).
    lru_cached (round-10 advice): pure functions of module constants —
    the 1536 hashlib.md5 calls and the ~10 KB literal build run once
    per process, not once per expression construction."""
    return (
        "array("
        + ",".join(
            "array(" + ",".join(f"{v}D" for v in row) + ")"
            for row in _plane_signs_py()
        )
        + ")"
    )


_EMB_LSH_R = EMB_LSH_PLANES // EMB_LSH_BANDS


@register(
    "dd_embedding_lsh_pairs",
    oracle=f"""
    WITH {_EMB_CORPUS_CTE},
    proj AS (
      SELECT vec_id,
             list_transform(range(0, {EMB_LSH_PLANES}), h ->
               list_reduce(
                 list_transform(range(1, 65), i ->
                   emb[i] * ({_plane_sign("h", "i - 1")})),
                 (acc, x) -> acc + x)) AS projs
      FROM corpus
    ),
    sig AS (
      SELECT vec_id, b AS band,
             list_reduce(
               list_transform(range(0, {_EMB_LSH_R}), j ->
                 CASE WHEN projs[b * {_EMB_LSH_R} + j + 1] > 0
                      THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END),
               (acc, x) -> acc + x) AS bsig
      FROM proj, unnest(generate_series(0, {EMB_LSH_BANDS - 1})) AS tb(b)
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM sig a JOIN sig b
        ON a.band = b.band AND a.bsig = b.bsig AND a.vec_id < b.vec_id
    ),
    verified AS (
      SELECT vec_a, vec_b,
             round(list_dot_product(ca.emb, cb.emb) /
                   (sqrt(list_dot_product(ca.emb, ca.emb)) *
                    sqrt(list_dot_product(cb.emb, cb.emb))), 6) AS cosine
      FROM cand
      JOIN corpus ca ON vec_a = ca.vec_id
      JOIN corpus cb ON vec_b = cb.vec_id
    )
    SELECT vec_a, vec_b, cosine FROM verified
    WHERE cosine >= {EMB_NEARDUP_THRESHOLD}
    """,
)
def dd_embedding_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-random-projection LSH near-dup detection — the shape that
    replaces the brute all-pairs scan at corpus scale.

    Pipeline: per-vector 24-bit signature (sign of the dot product with
    24 md5-seeded ±1 hyperplanes), banded into 3 x 8-bit keys; the
    candidate join is an equi-join on (band, band-signature) — the
    shuffle is keyed on 2 small ints, never on vectors, and its volume
    is bucket-collision-bound rather than O(n^2). Candidates are then
    verified with the exact cosine (Catalyst left-fold dot product with
    hoisted per-vector norms, bit-identical to DuckDB's
    list_dot_product). Recall is probabilistic by design (a 0.99-cosine
    pair flips a given bit with p = acos(.99)/pi ~ 4.5%; three 8-bit
    bands catch ~97% of such pairs, ~99.97% at the planted pairs'
    ~0.9996 cosine); determinism is exact, so the oracle checks the
    full pipeline.

    The projection p = sum_d emb[d]*sign(h,d) is an ORDERED left fold
    over the dimension index in both engines (Spark `aggregate`, DuckDB
    `list_reduce`), so IEEE summation order — and therefore the sign
    bit of a projection near 0 — can never diverge between them. It is
    also computed per-row with no shuffle: the round-1 version joined
    an exploded dims relation against a planes table and grouped, which
    both shuffled the corpus x 64 dims and summed in partition order.
    """
    corpus = _emb_corpus(spark, sf_dir)
    r = _EMB_LSH_R
    # round-10: literal sign matrix replaces the per-row md5 CASE (1536
    # md5 calls per vector eliminated); same fold, same seed, same order
    # -> bit-identical projections (see _plane_signs_py).
    projs_expr = (
        f"transform(sequence(0, {EMB_LSH_PLANES - 1}), h -> "
        f"aggregate(sequence(0, 63), CAST(0.0 AS DOUBLE), (acc, d) -> "
        f"acc + emb[d] * element_at(element_at({_plane_signs_sql()}, h + 1), d + 1)))"
    )
    bsig_expr = (
        f"transform(sequence(0, {EMB_LSH_BANDS - 1}), b -> "
        f"aggregate(sequence(0, {r - 1}), CAST(0 AS BIGINT), (acc, j) -> "
        f"acc + (CASE WHEN projs[b * {r} + j] > 0 "
        f"THEN shiftleft(CAST(1 AS BIGINT), CAST(j AS INT)) "
        f"ELSE CAST(0 AS BIGINT) END)))"
    )
    sig = (
        corpus.withColumn("projs", F.expr(projs_expr))
        .select("vec_id", F.posexplode(F.expr(bsig_expr)).alias("band", "bsig"))
        # feeds both sides of the candidate self-join; uncached, the
        # 24x64 projection fold (the expensive subtree) runs twice.
        .cache()
    )
    a = sig.alias("a")
    b = sig.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bsig") == F.col("b.bsig"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    # Norms hoisted below the join: once per vector, not per pair.
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )
    ca = corpus.select(
        F.col("vec_id").alias("vec_a"), F.col("emb").alias("ea"), norm("emb").alias("na")
    )
    cb = corpus.select(
        F.col("vec_id").alias("vec_b"), F.col("emb").alias("eb"), norm("emb").alias("nb")
    )
    dot = F.aggregate(
        F.zip_with("ea", "eb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    return (
        cand.join(ca, "vec_a")
        .join(cb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.round(dot / (F.col("na") * F.col("nb")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= EMB_NEARDUP_THRESHOLD)
    )


# --------------------------------------------------------------------------
# Directional containment: |A ∩ B| / |A| — catches documents that are
# mostly CONTAINED in another (quote-and-extend, boilerplate-plus-body),
# which symmetric Jaccard under-scores when |B| >> |A|.
# --------------------------------------------------------------------------
CONTAINMENT_THRESHOLD = 0.7


@register(
    "dd_containment_pairs",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM shingle a JOIN shingle b ON a.sh = b.sh AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(CAST(i AS DOUBLE) / sa.n, 6) AS containment
    FROM inter JOIN sizes sa ON doc_a = sa.doc_id
    WHERE CAST(i AS DOUBLE) / sa.n >= {CONTAINMENT_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
)
def dd_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle containment of doc_a within doc_b (directional, so both
    (a,b) and (b,a) can appear with different scores). Same inverted
    -index join shape as Jaccard — one shuffle keyed on the shingle,
    DF-capped against fan-out — but normalized by the LEFT side only,
    so a small doc swallowed by a large one still scores ~1.0."""
    sh = shingles(spark, sf_dir).cache()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).persist()  # doc-sized; referenced by both join sides (round 11: the agg over the shingle cache ran once per reference)
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") != F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("i").cast("double") / F.col("na"), 6).alias("containment"),
        )
        .filter(F.col("containment") >= CONTAINMENT_THRESHOLD)
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# LSH quality evaluation: banding recall / candidate precision of the
# MinHash-LSH pipeline against exact inverted-index Jaccard ground
# truth, plus the signature estimator's error. The "measure, don't
# guess" harness for the (K, bands) knobs: before committing an LSH
# configuration to a 100 TB dedup run, its recall is measured at a
# small SF, not assumed from the S-curve formula.
#
# All three counters are integers; the signature MAE is kept exact by
# integer cross-multiplication — |m/K - i/u| aggregated as
# sum(|m*u - K*i|) / (K * sum(u)), in parts-per-million — so the whole
# eval is bit-deterministic with no float summation anywhere.
#
# Scale: ground truth is the one quadratic-ish piece (inverted-index
# self-join, DF-capped); at corpus scale you run this eval on a
# sampled slice, which is exactly how the query composes (its input
# relations are ordinary DataFrames).
# --------------------------------------------------------------------------
_SIG_MATCH_SQL = " + ".join(
    f"(CASE WHEN sa.h{k} = sb.h{k} THEN 1 ELSE 0 END)" for k in range(MINHASH_K)
)

_LSH_EVAL_BANDS_SQL = " UNION ALL ".join(
    "SELECT doc_id, {b} AS band, md5({cat}) AS bh FROM sig".format(
        b=b,
        cat=" || ".join(
            f"h{b * (MINHASH_K // LSH_BANDS) + j}"
            for j in range(MINHASH_K // LSH_BANDS)
        ),
    )
    for b in range(LSH_BANDS)
)


@register(
    "dd_lsh_eval",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sig AS (
      SELECT doc_id,
             {", ".join(
                 f"min(substr(md5('s{k // 4}|' || sh), {(k % 4) * 8 + 1}, 8)) AS h{k}"
                 for k in range(MINHASH_K)
             )}
      FROM shingle GROUP BY doc_id
    ),
    bands AS ({_LSH_EVAL_BANDS_SQL}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    ),
    inter_all AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM shingle a JOIN shingle b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT t.doc_a, t.doc_b, t.i, sa.n + sb.n - t.i AS u
      FROM inter_all t
      JOIN sizes sa ON t.doc_a = sa.doc_id
      JOIN sizes sb ON t.doc_b = sb.doc_id
      WHERE CAST(t.i AS DOUBLE) / (sa.n + sb.n - t.i)
            >= {MINHASH_VERIFY_THRESHOLD}
    ),
    ver AS (
      SELECT v.doc_a, v.doc_b, v.i, v.u,
             ({_SIG_MATCH_SQL}) AS m
      FROM truth v
      JOIN cand c ON v.doc_a = c.doc_a AND v.doc_b = c.doc_b
      JOIN sig sa ON sa.doc_id = v.doc_a
      JOIN sig sb ON sb.doc_id = v.doc_b
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_verified,
             CAST(COALESCE(sum(abs(m * u - {MINHASH_K} * i)), 0) AS BIGINT)
                 AS err_num,
             CAST(COALESCE(sum(u), 0) AS BIGINT) AS u_sum
      FROM ver
    )
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_true,
      (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
      agg.n_verified,
      round(agg.n_verified /
            CAST(NULLIF((SELECT count(*) FROM truth), 0) AS DOUBLE), 6)
          AS band_recall,
      round(agg.n_verified /
            CAST(NULLIF((SELECT count(*) FROM cand), 0) AS DOUBLE), 6)
          AS candidate_precision,
      CAST(round(1000000.0 * agg.err_num /
                 ({MINHASH_K} * CAST(NULLIF(agg.u_sum, 0) AS DOUBLE)))
           AS BIGINT) AS sig_mae_ppm
    FROM agg
    """,
)
def dd_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding recall, candidate precision, and signature-estimator MAE
    of the MinHash-LSH pipeline vs exact Jaccard truth at the verify
    threshold (one summary row, pure integer arithmetic)."""
    sh = shingles(spark, sf_dir).cache()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).persist()  # doc-sized; referenced by both join sides (round 11: the agg over the shingle cache ran once per reference)

    a = sh.alias("a")
    b = sh.alias("b")
    inter_all = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    truth = (
        inter_all.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .select(
            "doc_a", "doc_b", "i", (F.col("na") + F.col("nb") - F.col("i")).alias("u")
        )
        .filter(F.col("i").cast("double") / F.col("u") >= MINHASH_VERIFY_THRESHOLD)
        .cache()
    )

    sig = _minhash_sig(sh).cache()
    bands = _bands(sig)
    ba = bands.alias("ba")
    bb = bands.alias("bb")
    cand = (
        ba.join(
            bb,
            (F.col("ba.band") == F.col("bb.band"))
            & (F.col("ba.bh") == F.col("bb.bh"))
            & (F.col("ba.doc_id") < F.col("bb.doc_id")),
        )
        .select(F.col("ba.doc_id").alias("doc_a"), F.col("bb.doc_id").alias("doc_b"))
        .distinct()
        .cache()
    )

    siga = sig.select(
        F.col("doc_id").alias("doc_a"), *[F.col(f"h{k}").alias(f"ah{k}") for k in range(MINHASH_K)]
    )
    sigb = sig.select(
        F.col("doc_id").alias("doc_b"), *[F.col(f"h{k}").alias(f"bh{k}") for k in range(MINHASH_K)]
    )
    m = sum(
        (F.col(f"ah{k}") == F.col(f"bh{k}")).cast("long") for k in range(MINHASH_K)
    )
    ver = (
        truth.join(cand, ["doc_a", "doc_b"])
        .join(F.broadcast(siga), "doc_a")
        .join(F.broadcast(sigb), "doc_b")
        .select("doc_a", "doc_b", "i", "u", m.alias("m"))
    )

    agg = ver.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_verified"),
        F.coalesce(
            F.sum(F.abs(F.col("m") * F.col("u") - MINHASH_K * F.col("i"))), F.lit(0)
        )
        .cast("bigint")
        .alias("err_num"),
        F.coalesce(F.sum("u"), F.lit(0)).cast("bigint").alias("u_sum"),
    )
    n_true = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_true"))
    n_cand = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))

    return (
        agg.crossJoin(n_true)
        .crossJoin(n_cand)
        .select(
            "n_true",
            "n_candidates",
            "n_verified",
            F.round(
                F.col("n_verified")
                / F.when(F.col("n_true") > 0, F.col("n_true")).cast("double"),
                6,
            ).alias("band_recall"),
            F.round(
                F.col("n_verified")
                / F.when(F.col("n_candidates") > 0, F.col("n_candidates")).cast(
                    "double"
                ),
                6,
            ).alias("candidate_precision"),
            F.round(
                F.lit(1000000.0)
                * F.col("err_num")
                / (
                    MINHASH_K
                    * F.when(F.col("u_sum") > 0, F.col("u_sum")).cast("double")
                )
            )
            .cast("bigint")
            .alias("sig_mae_ppm"),
        )
    )


# --------------------------------------------------------------------------
# Shingle document-frequency profile — the measured evidence behind
# DF_CAP: log2-binned histogram of how many documents each distinct
# shingle appears in, with the shingle-type and posting mass above the
# cap. The inverted-index join's cost is sum(df^2) over shingles, so
# this table IS the join's cost model — and shows what fraction of
# postings the skew guard actually drops.
#
# Scale: one grouped count over the shingle relation (partial-
# aggregating), one log2 bin projection, a bin-sized rollup.
# --------------------------------------------------------------------------
@register(
    "dd_shingle_df_profile",
    oracle=f"""
    WITH {_SHINGLES_CTE.replace("shingle AS (", "shingle_capped AS (")},
    df AS (
      SELECT sh, CAST(count(*) AS BIGINT) AS df
      FROM shingle_all GROUP BY sh
    )
    SELECT CAST(length(bin(df)) - 1 AS INTEGER) AS bin_log2,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(df) AS BIGINT) AS postings,
           CAST(sum(df * df) AS BIGINT) AS join_cost,
           CAST(sum(CASE WHEN df > {DF_CAP} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_capped
    FROM df GROUP BY 1
    """,
)
def dd_shingle_df_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2 document-frequency histogram of distinct shingles with
    posting mass, quadratic join cost, and above-cap counts."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    sh_all = (
        docs.select("doc_id", toks.alias("t"))
        .filter(F.size("t") >= SHINGLE_N)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(t) - {SHINGLE_N}), "
                    "i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"
                )
            ).alias("sh"),
        )
        .distinct()
    )
    df = sh_all.groupBy("sh").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    return df.groupBy(
        (F.length(F.bin("df")) - 1).cast("int").alias("bin_log2")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
        F.sum("df").cast("bigint").alias("postings"),
        F.sum(F.col("df") * F.col("df")).cast("bigint").alias("join_cost"),
        F.sum((F.col("df") > DF_CAP).cast("int")).cast("bigint").alias("n_capped"),
    )


# --------------------------------------------------------------------------
# SRP-LSH banding curve — the tuning table behind dd_embedding_lsh_pairs'
# fixed 3x8 choice: the SAME 24-plane signature banded as 1x24, 2x12,
# 3x8, and 4x6, with measured candidate volume, recall, and precision
# against the exact all-pairs truth. Finer bands (more, shorter) raise
# recall AND candidate volume; this emits the whole trade-off as one
# oracle-checked relation instead of a code-comment probability claim.
#
# Scale: signatures are map-side projections (shared 24-fold compute,
# cached); each config's candidate join is the same (band, bsig)
# equi-join shape as the production pipeline. The truth side is the
# documented bounded-corpus brute kernel (dd_embedding_neardup_pairs);
# at real corpus scale one would sample truth — here the corpus IS the
# sample.
# --------------------------------------------------------------------------
_LSH_CURVE_CONFIGS = (1, 2, 3, 4)  # band counts over the 24-bit signature


@register(
    "dd_lsh_bands_curve",
    oracle=f"""
    WITH {_EMB_CORPUS_CTE},
    proj AS (
      SELECT vec_id,
             list_transform(range(0, {EMB_LSH_PLANES}), h ->
               list_reduce(
                 list_transform(range(1, 65), i ->
                   emb[i] * ({_plane_sign("h", "i - 1")})),
                 (acc, x) -> acc + x)) AS projs
      FROM corpus
    ),
    sig AS (
      SELECT cfg.nb AS n_bands, p.vec_id, tb.b AS band,
             list_reduce(
               list_transform(range(0, {EMB_LSH_PLANES} // cfg.nb), j ->
                 CASE WHEN p.projs[tb.b * ({EMB_LSH_PLANES} // cfg.nb) + j + 1] > 0
                      THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT) END),
               (acc, x) -> acc + x) AS bsig
      FROM proj p,
           (SELECT unnest([{", ".join(str(c) for c in _LSH_CURVE_CONFIGS)}]) AS nb) cfg,
           unnest(generate_series(0, cfg.nb - 1)) AS tb(b)
    ),
    cand AS (
      SELECT DISTINCT a.n_bands, a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM sig a JOIN sig b
        ON a.n_bands = b.n_bands AND a.band = b.band AND a.bsig = b.bsig
           AND a.vec_id < b.vec_id
    ),
    truth AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
      WHERE round(list_dot_product(a.emb, b.emb) /
                  (sqrt(list_dot_product(a.emb, a.emb)) *
                   sqrt(list_dot_product(b.emb, b.emb))), 6)
            >= {EMB_NEARDUP_THRESHOLD}
    ),
    nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM truth),
    per_cfg AS (
      SELECT c.n_bands,
             CAST(count(*) AS BIGINT) AS n_candidates,
             CAST(sum(CASE WHEN t.vec_a IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_hits
      FROM cand c
      LEFT JOIN truth t ON t.vec_a = c.vec_a AND t.vec_b = c.vec_b
      GROUP BY 1
    )
    SELECT CAST(p.n_bands AS INTEGER) AS n_bands,
           CAST({EMB_LSH_PLANES} // p.n_bands AS INTEGER) AS bits_per_band,
           p.n_candidates, nt.n_true, p.n_hits,
           round(p.n_hits * 1.0 / nt.n_true, 6) AS recall,
           round(p.n_hits * 1.0 / p.n_candidates, 6) AS precision
    FROM per_cfg p CROSS JOIN nt
    """,
)
def dd_lsh_bands_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate volume, recall, and precision of the 24-bit SRP
    signature under 1/2/3/4-band splits, vs exact all-pairs truth."""
    corpus = _emb_corpus(spark, sf_dir)
    # round-10: literal sign matrix (no per-row md5) — same rewrite as
    # dd_embedding_lsh_pairs, bit-identical projections.
    projs_expr = (
        f"transform(sequence(0, {EMB_LSH_PLANES - 1}), h -> "
        f"aggregate(sequence(0, 63), CAST(0.0 AS DOUBLE), (acc, d) -> "
        f"acc + emb[d] * element_at(element_at({_plane_signs_sql()}, h + 1), d + 1)))"
    )
    proj = corpus.withColumn("projs", F.expr(projs_expr)).select(
        "vec_id", "projs"
    ).persist()
    sigs = None
    for nb in _LSH_CURVE_CONFIGS:
        r = EMB_LSH_PLANES // nb
        bsig_expr = (
            f"transform(sequence(0, {nb - 1}), b -> "
            f"aggregate(sequence(0, {r - 1}), CAST(0 AS BIGINT), (acc, j) -> "
            f"acc + (CASE WHEN projs[b * {r} + j] > 0 "
            f"THEN shiftleft(CAST(1 AS BIGINT), CAST(j AS INT)) "
            f"ELSE CAST(0 AS BIGINT) END)))"
        )
        s = proj.select(
            F.lit(nb).alias("n_bands"),
            "vec_id",
            F.posexplode(F.expr(bsig_expr)).alias("band", "bsig"),
        )
        sigs = s if sigs is None else sigs.unionByName(s)
    a = sigs.alias("a")
    b = sigs.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.n_bands") == F.col("b.n_bands"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bsig") == F.col("b.bsig"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.n_bands").alias("n_bands"),
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        )
        .distinct()
    )
    truth = (
        dd_embedding_neardup_pairs(spark, sf_dir)
        .select("vec_a", "vec_b", F.lit(1).alias("is_true"))
        .persist()
    )
    nt = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_true"))
    per_cfg = (
        cand.join(truth, ["vec_a", "vec_b"], "left")
        .groupBy("n_bands")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            F.sum(F.coalesce("is_true", F.lit(0))).cast("bigint").alias("n_hits"),
        )
    )
    return per_cfg.crossJoin(F.broadcast(nt)).select(
        F.col("n_bands").cast("int").alias("n_bands"),
        (F.lit(EMB_LSH_PLANES) / F.col("n_bands")).cast("int").alias("bits_per_band"),
        "n_candidates",
        "n_true",
        "n_hits",
        F.round(F.col("n_hits") * 1.0 / F.col("n_true"), 6).alias("recall"),
        F.round(F.col("n_hits") * 1.0 / F.col("n_candidates"), 6).alias("precision"),
    )


# --------------------------------------------------------------------------
# b-bit MinHash eval (Li & Koenig 2010) — keep only the LOWEST BIT of
# each of the 12 minhash values (a 12-bit sketch, 32x smaller than
# the 8-hex signatures) and measure what the compression costs: MAE
# of the 1-bit estimator J1 = 2*(matches/K) - 1 vs the full-width
# estimator m/K, both against exact Jaccard, over the ground-truth
# near-dup pairs. The sketch-budget decision (full-width vs b-bit at
# 32x the K) made measurable instead of assumed — the dd_lsh_eval
# philosophy applied to sketch WIDTH.
#
# Exactness: both MAEs aggregate by integer cross-multiplication in
# parts-per-million (|m*u - K*i| and |(2*m1 - K)*u - K*i| summed as
# BIGINTs against K*sum(u)) — no float summation anywhere.
# --------------------------------------------------------------------------
BBIT_PAIR_THRESHOLD = 0.25
_ODD_HEX = "('1','3','5','7','9','b','d','f')"
_BBIT_MATCH_FULL = " + ".join(
    f"(CASE WHEN sa.h{k} = sb.h{k} THEN 1 ELSE 0 END)" for k in range(MINHASH_K)
)
_BBIT_MATCH_1BIT = " + ".join(
    f"(CASE WHEN (substr(sa.h{k}, 8, 1) IN {_ODD_HEX})"
    f" = (substr(sb.h{k}, 8, 1) IN {_ODD_HEX}) THEN 1 ELSE 0 END)"
    for k in range(MINHASH_K)
)


@register(
    "dd_bbit_minhash_eval",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS i
      FROM shingle a JOIN shingle b
        ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT doc_a, doc_b, i,
             CAST(sa.n + sb.n - i AS BIGINT) AS u
      FROM inter
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
      WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {BBIT_PAIR_THRESHOLD}
    ),
    sig AS (
      SELECT doc_id,
             {", ".join(
                 f"min(substr(md5('s{k // 4}|' || sh), {(k % 4) * 8 + 1}, 8)) AS h{k}"
                 for k in range(MINHASH_K)
             )}
      FROM shingle GROUP BY doc_id
    ),
    scored AS (
      SELECT t.i, t.u,
             CAST({_BBIT_MATCH_FULL} AS BIGINT) AS m,
             CAST({_BBIT_MATCH_1BIT} AS BIGINT) AS m1
      FROM truth t
      JOIN sig sa ON sa.doc_id = t.doc_a
      JOIN sig sb ON sb.doc_id = t.doc_b
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST({MINHASH_K} AS BIGINT) AS k_hashes,
           round(sum(abs(m * u - {MINHASH_K} * i)) * 1.0
                 / ({MINHASH_K}.0 * sum(u)), 6) AS mae_full,
           round(sum(abs((2 * m1 - {MINHASH_K}) * u - {MINHASH_K} * i)) * 1.0
                 / ({MINHASH_K}.0 * sum(u)), 6) AS mae_1bit,
           CAST({MINHASH_K * 32} AS BIGINT) AS bits_full,
           CAST({MINHASH_K} AS BIGINT) AS bits_1bit
    FROM scored
    """,
)
def dd_bbit_minhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAE of 1-bit minhash vs full-width minhash vs exact Jaccard
    over ground-truth pairs (j >= {BBIT_PAIR_THRESHOLD})."""
    sh = shingles(spark, sf_dir).cache()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).persist()  # doc-sized; referenced by both join sides (round 11: the agg over the shingle cache ran once per reference)
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("i"))
    )
    sa_ = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb_ = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    truth = (
        inter.join(F.broadcast(sa_), "doc_a")
        .join(F.broadcast(sb_), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "i",
            (F.col("na") + F.col("nb") - F.col("i"))
            .cast("bigint")
            .alias("u"),
        )
        .filter(
            F.col("i").cast("double") / F.col("u") >= BBIT_PAIR_THRESHOLD
        )
    )
    # sig joins the pair list on doc_a AND doc_b — two different join
    # keys, so no exchange reuse: persist or the signature aggregation
    # over the shingles runs twice.
    sig = _minhash_sig(sh).persist()
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{k}").alias(f"a{k}") for k in range(MINHASH_K)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{k}").alias(f"b{k}") for k in range(MINHASH_K)],
    )
    odd = tuple("13579bdf")
    bit = lambda c: F.substring(F.col(c), 8, 1).isin(*odd)  # noqa: E731
    m = sum(
        (F.col(f"a{k}") == F.col(f"b{k}")).cast("int")
        for k in range(MINHASH_K)
    )
    m1 = sum(
        (bit(f"a{k}") == bit(f"b{k}")).cast("int") for k in range(MINHASH_K)
    )
    scored = (
        truth.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "i",
            "u",
            m.cast("bigint").alias("m"),
            m1.cast("bigint").alias("m1"),
        )
    )
    K = MINHASH_K
    return scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.lit(K).cast("bigint").alias("k_hashes"),
        F.round(
            F.sum(F.abs(F.col("m") * F.col("u") - K * F.col("i"))) * 1.0
            / (float(K) * F.sum("u")),
            6,
        ).alias("mae_full"),
        F.round(
            F.sum(
                F.abs(
                    (2 * F.col("m1") - K) * F.col("u") - K * F.col("i")
                )
            )
            * 1.0
            / (float(K) * F.sum("u")),
            6,
        ).alias("mae_1bit"),
        F.lit(K * 32).cast("bigint").alias("bits_full"),
        F.lit(K).cast("bigint").alias("bits_1bit"),
    )


# --------------------------------------------------------------------------
# Capture-recapture estimate of the TRUE near-duplicate pair count —
# the curation-ops question every probabilistic dedup leaves open:
# "LSH found 12k pairs; how many are there really?" Treating the
# MinHash-LSH pass and the SimHash pass as two independent "captures"
# of the same underlying pair population, the Chapman estimator
#
#   N_hat = (n1 + 1)(n2 + 1) / (m + 1) - 1,   m = |A intersect B|
#
# is the (bias-corrected) mark-recapture population size. The two
# passes use different signals (word-shingle Jaccard vs char-token
# SimHash bits), which is exactly the independence the method wants.
# All arithmetic is exact BIGINT (floor division); the estimator is a
# one-row audit over two already-bucketed pipelines, so its scale
# shape is inherited from them (never all-pairs).
# --------------------------------------------------------------------------
from ..registry import ORACLES as _ORACLES  # composed-oracle reuse


@register(
    "dd_capture_recapture",
    oracle=f"""
    WITH pa AS (
      SELECT doc_a, doc_b FROM ({_ORACLES["dd_minhash_lsh_pairs"]})
    ),
    pb AS (
      SELECT doc_a, doc_b FROM ({_ORACLES["dd_simhash_near_pairs"]})
    ),
    j AS (
      SELECT CASE WHEN pa.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_a,
             CASE WHEN pb.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_b
      FROM pa FULL OUTER JOIN pb
        ON pa.doc_a = pb.doc_a AND pa.doc_b = pb.doc_b
    ),
    cells AS (
      SELECT CAST(sum(in_a) AS BIGINT) AS n1,
             CAST(sum(in_b) AS BIGINT) AS n2,
             CAST(sum(in_a * in_b) AS BIGINT) AS m
      FROM j
    )
    SELECT n1 AS n_minhash_pairs, n2 AS n_simhash_pairs, m AS n_overlap,
           n1 + n2 - m AS n_union_observed,
           ((n1 + 1) * (n2 + 1)) // (m + 1) - 1 AS chapman_total_estimate
    FROM cells
    """,
)
def dd_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman mark-recapture estimate of the total near-dup pair
    population from the MinHash-LSH and SimHash capture lists."""
    pa = dd_minhash_lsh_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("in_a")
    )
    pb = dd_simhash_near_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("in_b")
    )
    j = pa.join(pb, ["doc_a", "doc_b"], "full").select(
        F.coalesce("in_a", F.lit(0)).alias("in_a"),
        F.coalesce("in_b", F.lit(0)).alias("in_b"),
    )
    cells = j.agg(
        F.sum("in_a").cast("bigint").alias("n1"),
        F.sum("in_b").cast("bigint").alias("n2"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("bigint").alias("m"),
    )
    return cells.select(
        F.col("n1").alias("n_minhash_pairs"),
        F.col("n2").alias("n_simhash_pairs"),
        F.col("m").alias("n_overlap"),
        (F.col("n1") + F.col("n2") - F.col("m")).alias("n_union_observed"),
        F.expr("((n1 + 1) * (n2 + 1)) DIV (m + 1) - 1").alias(
            "chapman_total_estimate"
        ),
    )
