"""Streaming store-dedup twins for winnowing spans and b-bit MinHash
(round-9 verdict #3a) — closing the last batch-vs-stream asymmetries in
SURVEY §2.9: every fuzzy-dedup family the engine ships in batch form
(exact hashes -> FingerprintStoreDedup, MinHash-LSH ->
LshBandStoreDedup, winnowing spans / b-bit sketches -> here) now has a
first-copy-ever-wins streaming ingestion path over a persistent store.

Two sinks, one pattern (foreachBatch against append-only parquet
stores; see lsh_dedup.py for the ordering rationale — decisions are
forced BEFORE the store mutates so a batch never matches itself):

- **WinnowFpStoreDedup** — the store holds accepted docs' winnowing
  fingerprints (doc_id, fp). A batch doc is a SPAN duplicate when it
  shares >= WINNOW_MIN_SHARED fingerprints with a store doc; any shared
  substring of length >= k+w-1 normalized chars guarantees a shared
  fingerprint, so recall on real partial copies is structural. Store
  cost: ~2/(w+1) fingerprints per character — the classic winnowing
  density — NOT the full text.
- **BbitSketchStoreDedup** — the store holds ONLY each accepted doc's
  LSH band keys and its K 1-bit minhashes (the b=1 sketch of
  dd_bbit_minhash_eval): candidates come from the (band, bh) equi-join
  and verification compares K bits — the store never keeps shingles at
  all, which is the b-bit deployment's point: per-doc store state is
  O(K) bits instead of O(|shingles|), a ~32x further compression of the
  LshBandStoreDedup store, bought with the quantified estimator error
  the batch eval row measures.

The decision kernels are pure (batch relation x store relation ->
decision relation), so the SAME functions serve the registered
batch-mode queries below (oracle-twinned: st_winnow_store_decisions,
st_bbit_store_decisions — store = even doc_ids, batch = odd doc_ids
plus injected copies of store docs, the dd_exact_dedup convention) and
the streaming sinks (pytest: stream decisions == batch decisions,
idempotent re-delivery).

Scale notes (100 TB/day feed): per-batch cost is O(|batch| x bucket
collisions) for b-bit (band equi-join against a store bucketed on
(band, bh)) and O(|batch fps| x posting collisions) for winnowing
(equi-join on fp; the WINNOW_DF_CAP boilerplate guard applies to the
store side exactly as in the batch operator). No streaming-checkpoint
state — the stores are ordinary warehouse tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import table
from ..operators.dedup import LSH_BANDS, MINHASH_K, _bands, _minhash_sig
from ..operators.winnow import (
    WINNOW_DF_CAP,
    WINNOW_K,
    WINNOW_MIN_SHARED,
    WINNOW_W,
    winnow_fingerprints_of,
)
from ..registry import register
from .ingest import start_foreach_batch
from .lsh_dedup import _shingles_of

BBIT_MIN_MATCH = 11  # of MINHASH_K=12 one-bit hashes (J1 >= 5/6)

_ODD_HEX = tuple("13579bdf")


# --------------------------------------------------------------------------
# Decision kernels (pure relations -> relation).
# --------------------------------------------------------------------------
def winnow_decisions(batch_fp: DataFrame, store_fp: DataFrame) -> DataFrame:
    """Span-dup decisions of batch docs against store docs.

    Inputs are (doc_id, fp) winnowing-fingerprint relations (distinct).
    Returns (doc_id, is_spandup, matched_doc, shared_fp, containment):
    best store match by shared-fingerprint count at >=
    WINNOW_MIN_SHARED, NULL match otherwise; containment = shared /
    min(|batch sketch|, |store sketch|), with sketch sizes measured on
    the capped relations (both engines).

    Boilerplate guard (same policy as dd_winnow_match_pairs, and the
    round-9 sfx10 measurement that forced it here: without the cap the
    fp probe ground past 8 minutes at sf~1 because short in-word
    8-grams recur corpus-wide): fingerprints held by more than
    WINNOW_DF_CAP STORE docs are dropped from the probe on BOTH sides —
    a fingerprint that common identifies boilerplate, not a copied
    span. Store-side df makes the cap incremental-friendly: it never
    depends on the batch's own contents."""
    # Round-10 optimization (guide §2.3 aggregate before you shuffle):
    # the over-cap fingerprint list comes from a map-side-combining
    # groupBy (output: only fps with df > cap) instead of a count
    # window that shuffled + sorted every (doc, fp) store row.
    # Identical hot set: the window counted (doc, fp) rows per fp, and
    # store_fp is distinct per doc, so groupBy count == window count.
    hot = (
        store_fp.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > WINNOW_DF_CAP)
        .select("fp")
    )
    bf = batch_fp.select(F.col("doc_id").alias("batch_id"), "fp").join(
        F.broadcast(hot), "fp", "left_anti"
    )
    sf = store_fp.select(F.col("doc_id").alias("store_id"), "fp").join(
        F.broadcast(hot), "fp", "left_anti"
    )
    shared = (
        bf.join(sf, "fp")
        .groupBy("batch_id", "store_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_fp"))
        .filter(F.col("shared_fp") >= WINNOW_MIN_SHARED)
    )
    nb = bf.groupBy("batch_id").agg(F.count(F.lit(1)).alias("nb"))
    ns = sf.groupBy("store_id").agg(F.count(F.lit(1)).alias("ns"))
    scored = (
        shared.join(nb, "batch_id")
        .join(ns, "store_id")
        .select(
            "batch_id",
            "store_id",
            "shared_fp",
            F.round(
                F.col("shared_fp").cast("double") / F.least("nb", "ns"), 6
            ).alias("containment"),
        )
    )
    best = scored.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("batch_id").orderBy(
                F.desc("shared_fp"), F.asc("store_id")
            )
        ),
    ).filter(F.col("rn") == 1)
    ids = batch_fp.select("doc_id").distinct()
    return ids.join(
        best.select(
            F.col("batch_id").alias("doc_id"),
            F.col("store_id").alias("matched_doc"),
            "shared_fp",
            "containment",
        ),
        "doc_id",
        "left",
    ).select(
        "doc_id",
        F.col("matched_doc").isNotNull().cast("int").alias("is_spandup"),
        F.col("matched_doc").cast("bigint"),
        "shared_fp",
        "containment",
    )


def _bit_cols(sig: DataFrame, prefix: str) -> DataFrame:
    """Compress a full-width signature to its K one-bit minhashes."""
    return sig.select(
        "doc_id",
        *[
            F.substring(F.col(f"h{k}"), 8, 1)
            .isin(*_ODD_HEX)
            .cast("int")
            .alias(f"{prefix}{k}")
            for k in range(MINHASH_K)
        ],
    )


def bbit_decisions(
    batch_sh: DataFrame,
    store_bands: DataFrame,
    store_bits: DataFrame,
) -> DataFrame:
    """Near-dup decisions of batch docs against a b=1-bit sketch store.

    batch_sh: (doc_id, sh) shingles of the micro-batch (the only side
    that still sees text). store_bands: (doc_id, band, bh). store_bits:
    (doc_id, b0..b{K-1}). Returns (doc_id, is_neardup, matched_doc,
    m1_matches, j1_est): best store match by one-bit agreement count at
    >= BBIT_MIN_MATCH of MINHASH_K; j1 = 2*m1/K - 1."""
    sig = _minhash_sig(batch_sh)
    bb = _bands(sig).select(F.col("doc_id").alias("batch_id"), "band", "bh")
    sb = store_bands.select(F.col("doc_id").alias("store_id"), "band", "bh")
    cand = bb.join(sb, ["band", "bh"]).select("batch_id", "store_id").distinct()
    bbits = _bit_cols(sig, "a").select(
        F.col("doc_id").alias("batch_id"),
        *[F.col(f"a{k}") for k in range(MINHASH_K)],
    )
    sbits = store_bits.select(
        F.col("doc_id").alias("store_id"),
        *[F.col(f"b{k}") for k in range(MINHASH_K)],
    )
    m1 = sum(
        (F.col(f"a{k}") == F.col(f"b{k}")).cast("int")
        for k in range(MINHASH_K)
    )
    scored = (
        cand.join(bbits, "batch_id")
        .join(sbits, "store_id")
        .select(
            "batch_id",
            "store_id",
            m1.cast("bigint").alias("m1_matches"),
        )
        .filter(F.col("m1_matches") >= BBIT_MIN_MATCH)
    )
    best = scored.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("batch_id").orderBy(
                F.desc("m1_matches"), F.asc("store_id")
            )
        ),
    ).filter(F.col("rn") == 1)
    ids = batch_sh.select("doc_id").distinct()
    return ids.join(
        best.select(
            F.col("batch_id").alias("doc_id"),
            F.col("store_id").alias("matched_doc"),
            "m1_matches",
        ),
        "doc_id",
        "left",
    ).select(
        "doc_id",
        F.col("matched_doc").isNotNull().cast("int").alias("is_neardup"),
        F.col("matched_doc").cast("bigint"),
        "m1_matches",
        F.round(
            (F.col("m1_matches") * 2 - MINHASH_K)
            / F.lit(float(MINHASH_K)),
            6,
        ).alias("j1_est"),
    )


# --------------------------------------------------------------------------
# foreachBatch sinks.
# --------------------------------------------------------------------------
class WinnowFpStoreDedup:
    """First-span-copy-ever-wins ingestion over a fingerprint store."""

    def __init__(
        self, spark: SparkSession, fp_dir: str, out_dir: str, audit_dir: str
    ):
        self.spark = spark
        self.fp_dir = fp_dir
        self.out_dir = out_dir
        self.audit_dir = audit_dir

    def _store(self) -> DataFrame | None:
        import os

        if not os.path.isdir(self.fp_dir) or not any(
            f.endswith(".parquet") for f in os.listdir(self.fp_dir)
        ):
            return None
        return self.spark.read.parquet(self.fp_dir)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        batch_fp = (
            winnow_fingerprints_of(batch_df).select("doc_id", "fp").persist()
        )
        try:
            store = self._store()
            if store is None:
                decisions = batch_fp.select("doc_id").distinct().select(
                    "doc_id",
                    F.lit(0).alias("is_spandup"),
                    F.lit(None).cast("bigint").alias("matched_doc"),
                    F.lit(None).cast("bigint").alias("shared_fp"),
                    F.lit(None).cast("double").alias("containment"),
                )
            else:
                decisions = winnow_decisions(batch_fp, store)
            decisions = decisions.persist()
            decisions.count()  # force before the store mutates
            accepted = decisions.filter(F.col("is_spandup") == 0).select("doc_id")
            decisions.filter(F.col("is_spandup") == 1).write.mode(
                "append"
            ).parquet(self.audit_dir)
            batch_df.join(accepted, "doc_id").write.mode("append").parquet(
                self.out_dir
            )
            batch_fp.join(accepted, "doc_id").write.mode("append").parquet(
                self.fp_dir
            )
            decisions.unpersist()
        finally:
            batch_fp.unpersist()


class BbitSketchStoreDedup:
    """First-near-copy-ever-wins ingestion over a b=1-bit sketch store
    (bands + bit columns only — no shingles, no text)."""

    def __init__(
        self,
        spark: SparkSession,
        bands_dir: str,
        bits_dir: str,
        out_dir: str,
        audit_dir: str,
    ):
        self.spark = spark
        self.bands_dir = bands_dir
        self.bits_dir = bits_dir
        self.out_dir = out_dir
        self.audit_dir = audit_dir

    def _read(self, d: str) -> DataFrame | None:
        import os

        if not os.path.isdir(d) or not any(
            f.endswith(".parquet") for f in os.listdir(d)
        ):
            return None
        return self.spark.read.parquet(d)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        batch_sh = _shingles_of(batch_df).persist()
        try:
            bands, bits = self._read(self.bands_dir), self._read(self.bits_dir)
            if bands is None or bits is None:
                decisions = batch_sh.select("doc_id").distinct().select(
                    "doc_id",
                    F.lit(0).alias("is_neardup"),
                    F.lit(None).cast("bigint").alias("matched_doc"),
                    F.lit(None).cast("bigint").alias("m1_matches"),
                    F.lit(None).cast("double").alias("j1_est"),
                )
            else:
                decisions = bbit_decisions(batch_sh, bands, bits)
            decisions = decisions.persist()
            decisions.count()  # force before the store mutates
            accepted = decisions.filter(F.col("is_neardup") == 0).select("doc_id")
            decisions.filter(F.col("is_neardup") == 1).write.mode(
                "append"
            ).parquet(self.audit_dir)
            batch_df.join(accepted, "doc_id").write.mode("append").parquet(
                self.out_dir
            )
            sig = _minhash_sig(batch_sh.join(accepted, "doc_id"))
            _bands(sig).write.mode("append").parquet(self.bands_dir)
            _bit_cols(sig, "b").write.mode("append").parquet(self.bits_dir)
            decisions.unpersist()
        finally:
            batch_sh.unpersist()


def start_winnow_dedup_ingest(
    docs_stream, spark, fp_dir, out_dir, audit_dir, checkpoint_dir, run_once=True
):
    sink = WinnowFpStoreDedup(spark, fp_dir, out_dir, audit_dir)
    return start_foreach_batch(docs_stream, sink.process_batch, checkpoint_dir, run_once)


def start_bbit_dedup_ingest(
    docs_stream,
    spark,
    bands_dir,
    bits_dir,
    out_dir,
    audit_dir,
    checkpoint_dir,
    run_once=True,
):
    sink = BbitSketchStoreDedup(spark, bands_dir, bits_dir, out_dir, audit_dir)
    return start_foreach_batch(docs_stream, sink.process_batch, checkpoint_dir, run_once)


# --------------------------------------------------------------------------
# Registered batch-mode parity queries (the oracle-checkable face of
# the same kernels): store = even doc_ids, batch = odd doc_ids plus
# injected copies of store docs (truncated for winnow — a PARTIAL span
# copy; verbatim for b-bit) under doc_id+1000000.
# --------------------------------------------------------------------------
def _split_docs(spark: SparkSession, sf_dir: str, verbatim: bool):
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    store = docs.filter(F.col("doc_id") % 2 == 0)
    copy_txt = (
        F.col("text") if verbatim else F.substring("text", 1, 200)
    )
    batch = docs.filter(F.col("doc_id") % 2 == 1).unionByName(
        docs.filter(F.col("doc_id") % 20 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            copy_txt.alias("text"),
        )
    )
    return batch, store


_WINNOW_SPLIT_CTE = f"""
all_docs AS (
  SELECT doc_id, text,
         CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END AS is_batch
  FROM documents
  UNION ALL
  SELECT doc_id + 1000000, substr(text, 1, 200), 1
  FROM documents WHERE doc_id % 20 = 0
),
norm AS (
  SELECT doc_id, is_batch,
         regexp_replace(lower(text), '\\s+', ' ', 'g') AS txt
  FROM all_docs
),
ok AS (
  SELECT doc_id, is_batch, txt, len(txt) AS L FROM norm
  WHERE len(txt) >= {WINNOW_K + WINNOW_W - 1}
),
pos AS (
  SELECT doc_id, is_batch, txt, L,
         unnest(generate_series(1, L - {WINNOW_K - 1})) AS i
  FROM ok
),
h AS (
  SELECT doc_id, is_batch, L, i,
         substr(md5(substr(txt, i, {WINNOW_K})), 1, 8) AS hv
  FROM pos
),
winmin AS (
  SELECT doc_id, is_batch, L, i,
         min(hv) OVER (PARTITION BY doc_id ORDER BY i
                       ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING)
             AS fp
  FROM h
),
fps AS (
  SELECT DISTINCT doc_id, is_batch, fp FROM winmin
  WHERE i <= L - {WINNOW_K + WINNOW_W - 2}
)
"""


@register(
    "st_winnow_store_decisions",
    oracle=f"""
    WITH {_WINNOW_SPLIT_CTE},
    hot AS (
      SELECT fp FROM fps WHERE is_batch = 0
      GROUP BY fp HAVING count(*) > {WINNOW_DF_CAP}
    ),
    capped AS (
      SELECT * FROM fps WHERE fp NOT IN (SELECT fp FROM hot)
    ),
    sizes AS (
      SELECT doc_id, is_batch, CAST(count(*) AS BIGINT) AS n
      FROM capped GROUP BY 1, 2
    ),
    shared AS (
      SELECT b.doc_id AS batch_id, s.doc_id AS store_id,
             CAST(count(*) AS BIGINT) AS shared_fp
      FROM capped b JOIN capped s ON b.fp = s.fp
      WHERE b.is_batch = 1 AND s.is_batch = 0
      GROUP BY 1, 2
      HAVING count(*) >= {WINNOW_MIN_SHARED}
    ),
    scored AS (
      SELECT batch_id, store_id, shared_fp,
             round(CAST(shared_fp AS DOUBLE) / least(nb.n, ns.n), 6)
                 AS containment
      FROM shared
      JOIN sizes nb ON nb.doc_id = batch_id AND nb.is_batch = 1
      JOIN sizes ns ON ns.doc_id = store_id AND ns.is_batch = 0
    ),
    best AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
            PARTITION BY batch_id ORDER BY shared_fp DESC, store_id) AS rn
        FROM scored) WHERE rn = 1
    )
    SELECT f.doc_id,
           CASE WHEN best.store_id IS NULL THEN 0 ELSE 1 END AS is_spandup,
           CAST(best.store_id AS BIGINT) AS matched_doc,
           best.shared_fp,
           best.containment
    FROM (SELECT DISTINCT doc_id FROM fps WHERE is_batch = 1) f
    LEFT JOIN best ON best.batch_id = f.doc_id
    """,
)
def st_winnow_store_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-mode twin of the winnowing-span streaming store dedup:
    decisions of the odd-id + truncated-copy batch against the even-id
    store (same kernel the foreachBatch sink runs)."""
    batch, store = _split_docs(spark, sf_dir, verbatim=False)
    return winnow_decisions(
        winnow_fingerprints_of(batch).select("doc_id", "fp").cache(),
        winnow_fingerprints_of(store).select("doc_id", "fp").cache(),
    )


_BBIT_SPLIT_CTE = """
all_docs AS (
  SELECT doc_id, text,
         CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END AS is_batch
  FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text, 1
  FROM documents WHERE doc_id % 20 = 0
),
tok AS (
  SELECT doc_id, is_batch, string_split_regex(trim(text), '\\s+') AS t
  FROM all_docs
  WHERE len(string_split_regex(trim(text), '\\s+')) >= 3
),
idx AS (
  SELECT doc_id, is_batch, t, unnest(generate_series(1, len(t) - 2)) AS i
  FROM tok
),
shingle AS (
  SELECT DISTINCT doc_id, is_batch,
         t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
  FROM idx
)
"""

_BBIT_SIG_COLS = ", ".join(
    f"min(substr(md5('s{k // 4}|' || sh), {(k % 4) * 8 + 1}, 8)) AS h{k}"
    for k in range(MINHASH_K)
)
_BBIT_BANDS_SQL = " UNION ALL ".join(
    "SELECT doc_id, is_batch, {b} AS band, md5({cat}) AS bh FROM sig".format(
        b=b,
        cat=" || ".join(
            f"h{b * (MINHASH_K // LSH_BANDS) + j}"
            for j in range(MINHASH_K // LSH_BANDS)
        ),
    )
    for b in range(LSH_BANDS)
)
_BBIT_M1_SQL = " + ".join(
    f"(CASE WHEN (substr(sa.h{k}, 8, 1) IN "
    f"('1','3','5','7','9','b','d','f'))"
    f" = (substr(sb.h{k}, 8, 1) IN ('1','3','5','7','9','b','d','f'))"
    f" THEN 1 ELSE 0 END)"
    for k in range(MINHASH_K)
)


@register(
    "st_bbit_store_decisions",
    oracle=f"""
    WITH {_BBIT_SPLIT_CTE},
    sig AS (
      SELECT doc_id, is_batch, {_BBIT_SIG_COLS}
      FROM shingle GROUP BY doc_id, is_batch
    ),
    bands AS ({_BBIT_BANDS_SQL}),
    cand AS (
      SELECT DISTINCT a.doc_id AS batch_id, b.doc_id AS store_id
      FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
      WHERE a.is_batch = 1 AND b.is_batch = 0
    ),
    scored AS (
      SELECT c.batch_id, c.store_id,
             CAST({_BBIT_M1_SQL} AS BIGINT) AS m1_matches
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.batch_id AND sa.is_batch = 1
      JOIN sig sb ON sb.doc_id = c.store_id AND sb.is_batch = 0
    ),
    hits AS (SELECT * FROM scored WHERE m1_matches >= {BBIT_MIN_MATCH}),
    best AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
            PARTITION BY batch_id ORDER BY m1_matches DESC, store_id) AS rn
        FROM hits) WHERE rn = 1
    )
    SELECT s.doc_id,
           CASE WHEN best.store_id IS NULL THEN 0 ELSE 1 END AS is_neardup,
           CAST(best.store_id AS BIGINT) AS matched_doc,
           best.m1_matches,
           round((best.m1_matches * 2 - {MINHASH_K})
                 / CAST({MINHASH_K} AS DOUBLE), 6) AS j1_est
    FROM (SELECT DISTINCT doc_id FROM shingle WHERE is_batch = 1) s
    LEFT JOIN best ON best.batch_id = s.doc_id
    """,
)
def st_bbit_store_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-mode twin of the b-bit sketch-store streaming dedup:
    decisions of the odd-id + verbatim-copy batch against the even-id
    store's bands + 1-bit sketches (same kernel the foreachBatch sink
    runs — the store side sees only sketches, never shingles)."""
    batch, store = _split_docs(spark, sf_dir, verbatim=True)
    store_sig = _minhash_sig(_shingles_of(store)).persist()
    return bbit_decisions(
        _shingles_of(batch).persist(),
        _bands(store_sig),
        _bit_cols(store_sig, "b"),
    )
