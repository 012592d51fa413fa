"""Dimensionality reduction: deterministic sign-random projection.

Johnson-Lindenstrauss-style reduction of the 64-d embedding column to
8 dimensions with a ±1 projection matrix. The matrix is derived from
md5 at module import (a pure function of (i, j) — no RNG state), and
the arithmetic is BIGINT fixed-point over 1e4-quantized components, so
the projection is exact: both engines produce identical integers no
matter how the sums are ordered.

Scale notes (billions of vectors):
- The Spark side is ENTIRELY map-side: the ±1 rows are embedded as
  literal arrays and each output dimension is one
  ``aggregate(zip_with(...))`` fold inside whole-stage codegen — zero
  shuffles, zero joins, no UDF. Reducing 64-d to 8-d before an LSH/IVF
  index cuts that index's shuffle volume 8x.
- The oracle rebuilds the same projection relationally (unnest +
  sign-matrix VALUES join + grouped integer sums) — a completely
  different plan shape that must land on the same integers.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import register

IN_DIM = 64
OUT_DIM = 8
FX = 10000  # fixed-point quantization of embedding components


def _sign(i: int, j: int) -> int:
    """±1 from the first hex digit of md5("i:j") — stateless, exact."""
    return 1 if int(hashlib.md5(f"{i}:{j}".encode()).hexdigest()[0], 16) < 8 else -1


_SIGNS = [[_sign(i, j) for i in range(IN_DIM)] for j in range(OUT_DIM)]

_SIGN_VALUES_SQL = ", ".join(
    f"({i}, {j}, {_SIGNS[j][i]})" for j in range(OUT_DIM) for i in range(IN_DIM)
)


@register(
    "emb_random_projection",
    oracle=f"""
    WITH signs(i, j, s) AS (VALUES {_SIGN_VALUES_SQL}),
    idx AS (
      SELECT vec_id, embedding AS e, unnest(range(1, {IN_DIM} + 1)) AS i1
      FROM embeddings
    ),
    q AS (
      SELECT vec_id, i1 - 1 AS i,
             CAST(floor(CAST(e[i1] AS DOUBLE) * {FX}) AS BIGINT) AS v
      FROM idx
    )
    SELECT q.vec_id, CAST(sg.j AS INTEGER) AS dim,
           CAST(sum(q.v * sg.s) AS BIGINT) AS proj_fx
    FROM q JOIN signs sg ON q.i = sg.i
    GROUP BY q.vec_id, sg.j
    """,
)
def emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project each embedding to {OUT_DIM} sign-random dimensions.

    ``aggregate(zip_with(quantized, signs_j, *), 0, +)`` per output
    dimension — the whole reduction is one codegen'd projection with no
    shuffle; output is long-format (vec_id, dim, proj_fx) for the
    value check.
    """
    emb = table(spark, sf_dir, "embeddings")
    quant = F.expr(
        f"transform(embedding, e -> CAST(floor(CAST(e AS DOUBLE) * {FX}) AS BIGINT))"
    )
    projected = emb.select("vec_id", quant.alias("_q")).select(
        "vec_id",
        F.array(
            *[
                F.expr(
                    "aggregate(zip_with(_q, array({}), (x, s) -> x * s),"
                    " 0L, (acc, x) -> acc + x)".format(
                        ",".join(str(s) for s in _SIGNS[j])
                    )
                )
                for j in range(OUT_DIM)
            ]
        ).alias("_p"),
    )
    return projected.select("vec_id", F.posexplode("_p").alias("dim", "proj_fx"))


# --------------------------------------------------------------------------
# Embedding drift monitoring: PSI over the dim-0 sign-projection of the
# vectors, comparing two corpus slices (even/odd vec_id as the stand-in
# for two snapshot windows). Raw 64-d drift is unmonitorable per-dim;
# one JL component preserves relative geometry enough to alarm on
# wholesale embedding shifts (model swap, normalization bug) — and the
# fixed-point projection makes every bin count exact cross-engine.
# --------------------------------------------------------------------------
# edges chosen from the synthetic embeddings' observed p0 spread
# (~N(0, 1e4) fixed-point) so all bins carry mass at test SFs
_PSI_EDGES_FX = (-12000, -6000, 0, 6000, 12000)

_SIGNS_D0_SQL = ", ".join(f"({i}, {_SIGNS[0][i]})" for i in range(IN_DIM))


def _fx_bin_sql(col: str) -> str:
    branches = " ".join(
        f"WHEN {col} < {e} THEN {i}" for i, e in enumerate(_PSI_EDGES_FX)
    )
    return f"(CASE {branches} ELSE {len(_PSI_EDGES_FX)} END)"


@register(
    "mon_embedding_drift_psi",
    oracle=f"""
    WITH signs(i, s) AS (VALUES {_SIGNS_D0_SQL}),
    idx AS (
      SELECT vec_id, embedding AS e, unnest(range(1, {IN_DIM} + 1)) AS i1
      FROM embeddings
    ),
    proj AS (
      SELECT q.vec_id,
             sum(CAST(floor(CAST(q.e[q.i1] AS DOUBLE) * {FX}) AS BIGINT) * sg.s)
               AS p0
      FROM idx q JOIN signs sg ON q.i1 - 1 = sg.i
      GROUP BY q.vec_id
    ),
    binned AS (
      SELECT {_fx_bin_sql("p0")} AS bin_id,
             CAST(vec_id % 2 = 0 AS INTEGER) AS is_ref
      FROM proj
    ),
    cells AS (
      SELECT bin_id,
             1 + sum(is_ref) AS n_ref,
             1 + sum(1 - is_ref) AS n_cur
      FROM binned GROUP BY bin_id
    ),
    shares AS (
      SELECT bin_id, CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
             n_ref * 1.0 / sum(n_ref) OVER () AS p_ref,
             n_cur * 1.0 / sum(n_cur) OVER () AS p_cur
      FROM cells
    )
    SELECT CAST(bin_id AS INTEGER) AS bin_id, n_ref, n_cur,
           round(p_ref, 6) AS p_ref,
           round(p_cur, 6) AS p_cur,
           round((p_cur - p_ref) * ln(p_cur / p_ref), 6) AS psi_term
    FROM shares
    """,
)
def mon_embedding_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bin PSI terms for drift of the dim-0 JL projection.

    The projection fold is the same shuffle-free codegen expression as
    ``emb_random_projection`` (dim 0 only); bins are fixed fixed-point
    edges so counts partial-aggregate map-side; Laplace +1 smoothing
    keeps ln() finite on empty bins.
    """
    emb = table(spark, sf_dir, "embeddings")
    quant = F.expr(
        f"transform(embedding, e -> CAST(floor(CAST(e AS DOUBLE) * {FX}) AS BIGINT))"
    )
    p0 = F.expr(
        "aggregate(zip_with(_q, array({}), (x, s) -> x * s),"
        " 0L, (acc, x) -> acc + x)".format(",".join(str(s) for s in _SIGNS[0]))
    )
    proj = emb.select("vec_id", quant.alias("_q")).select("vec_id", p0.alias("p0"))
    bin_id = F.expr(_fx_bin_sql("p0"))
    binned = proj.select(
        bin_id.alias("bin_id"),
        (F.col("vec_id") % 2 == 0).cast("int").alias("is_ref"),
    )
    cells = binned.groupBy("bin_id").agg(
        (F.lit(1) + F.sum("is_ref")).alias("n_ref"),
        (F.lit(1) + F.sum(1 - F.col("is_ref"))).alias("n_cur"),
    )
    # slice totals as a broadcast 1-row cross join (no window over the
    # cell relation — shape-uniform with the unbounded-input gate)
    tot = cells.agg(
        F.sum("n_ref").alias("_tr"), F.sum("n_cur").alias("_tc")
    )
    cells = cells.crossJoin(F.broadcast(tot))
    p_ref = F.col("n_ref") / F.col("_tr")
    p_cur = F.col("n_cur") / F.col("_tc")
    return cells.select(
        F.col("bin_id").cast("int").alias("bin_id"),
        F.col("n_ref").cast("bigint").alias("n_ref"),
        F.col("n_cur").cast("bigint").alias("n_cur"),
        F.round(p_ref, 6).alias("p_ref"),
        F.round(p_cur, 6).alias("p_cur"),
        F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 6).alias("psi_term"),
    )


# --------------------------------------------------------------------------
# Int8 embedding quantization — the storage/serving compression step
# between raw float vectors and the PQ codes (operators/pq.py):
# per-dimension affine quantization x -> round((x - min_d) / scale_d)
# into [0, 255], 4x smaller than float32 with near-lossless recall for
# most retrieval workloads.
#
# Exactness policy: codes are floor(t + 0.5) of scalar doubles
# (bit-identical cross-engine); the per-vector reconstruction error is
# accumulated in 1e-12 fixed point (BIGINT) over the dimension index
# fold, so the rollup is exact under any shuffle order.
#
# Scale: the per-dimension min/max is a 64-row aggregate (posexplode +
# partial agg) broadcast back onto the corpus; encode + error are one
# map-side pass. At 100 TB the stats pass samples (quantile clipping)
# instead of exact min/max — same plan shape.
# --------------------------------------------------------------------------
Q8_LEVELS = 255
_Q8_ERR_FX = 1_000_000_000_000  # 1e-12 fixed point for squared error


@register(
    "emb_int8_quantize",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
    ),
    dims AS (
      SELECT vec_id, m, emb[m + 1] AS x
      FROM e CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS m)
    ),
    stats AS (
      SELECT m, min(x) AS lo, max(x) AS hi FROM dims GROUP BY m
    ),
    coded AS (
      SELECT d.vec_id, d.m, d.x, s.lo, (s.hi - s.lo) / {Q8_LEVELS} AS scale,
             CASE WHEN s.hi = s.lo THEN 0
                  ELSE CAST(floor((d.x - s.lo) / ((s.hi - s.lo) / {Q8_LEVELS}) + 0.5)
                            AS BIGINT) END AS code
      FROM dims d JOIN stats s USING (m)
    ),
    err AS (
      SELECT vec_id,
             CAST(sum(CAST(floor(pow(x - (lo + code * scale), 2) * {_Q8_ERR_FX})
                           AS BIGINT)) AS BIGINT) AS err_fx,
             CAST(count(*) AS INTEGER) AS n_dims,
             CAST(sum(code) AS BIGINT) AS code_sum
      FROM coded GROUP BY vec_id
    )
    SELECT vec_id, n_dims, code_sum, err_fx,
           round(CAST(err_fx AS DOUBLE) / ({_Q8_ERR_FX}.0 * n_dims), 9) AS mse
    FROM err
    """,
)
def emb_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension affine int8 quantization of the embedding corpus
    with exact fixed-point reconstruction error per vector."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb")
    )
    dims = e.select("vec_id", F.posexplode("emb").alias("m", "x"))
    stats = dims.groupBy("m").agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    scale = (F.col("hi") - F.col("lo")) / Q8_LEVELS
    coded = dims.join(F.broadcast(stats), "m").select(
        "vec_id",
        "m",
        "x",
        "lo",
        scale.alias("scale"),
        F.when(F.col("hi") == F.col("lo"), F.lit(0).cast("bigint"))
        .otherwise(F.floor((F.col("x") - F.col("lo")) / scale + 0.5))
        .alias("code"),
    )
    err = coded.groupBy("vec_id").agg(
        F.sum(
            F.floor(
                F.pow(F.col("x") - (F.col("lo") + F.col("code") * F.col("scale")), 2)
                * _Q8_ERR_FX
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("err_fx"),
        F.count(F.lit(1)).cast("int").alias("n_dims"),
        F.sum("code").cast("bigint").alias("code_sum"),
    )
    return err.select(
        "vec_id",
        "n_dims",
        "code_sum",
        "err_fx",
        F.round(
            F.col("err_fx").cast("double") / (float(_Q8_ERR_FX) * F.col("n_dims")), 9
        ).alias("mse"),
    )


# --------------------------------------------------------------------------
# PCA top component by power iteration — distributed linear algebra in
# DataFrames: the covariance matrix from one self-join over the
# (vector, dim) relation, then POWER_ITERS unrolled multiply+normalize
# rounds. The embedding-diagnostics workhorse (dominant variance
# direction -> anisotropy checks, whitening, drift probes beyond the
# single JL dim used by mon_embedding_drift_psi).
#
# Exactness policy (the PageRank/k-means discipline applied to linear
# algebra): coordinates quantize to 1e-6 fixed point; raw second
# moments accumulate in DECIMAL(38,0) (exact, order-independent);
# covariance entries are scalar doubles over those exact sums,
# re-quantized to 1e-9 fixed point; each matrix-vector product is an
# exact DECIMAL sum of integer products; only the per-round
# normalization (sqrt of an exact sum, one scalar division per
# component) touches floats — identical cross-engine, so the whole
# iteration is value-checkable.
#
# Scale: the moment matrix is D^2 rows (4096 here) from one
# vec_id-keyed self-join with map-side partial aggregation; each
# iteration is a D^2 x D join — dimension-sized, independent of
# corpus size after the first pass.
# --------------------------------------------------------------------------
POWER_ITERS = 3
_PCA_VFX = 1_000_000  # 1e-6 fixed point for coordinates / eigvec
_PCA_CFX = 1_000_000_000  # 1e-9 fixed point for covariance entries


def _pca_iter_sql(i: int) -> str:
    return f"""
    p{i + 1} AS (
      SELECT c.d1 AS d, sum(CAST(c.cfx AS DECIMAL(38,0)) * v{i}.vfx) AS raw
      FROM cmat c JOIN v{i} ON v{i}.d = c.d2
      GROUP BY c.d1
    ),
    n{i + 1} AS (
      SELECT sqrt(CAST(sum(raw * raw) AS DOUBLE)) AS nrm FROM p{i + 1}
    ),
    v{i + 1} AS (
      SELECT p.d,
             CAST(floor(CAST(p.raw AS DOUBLE) / n.nrm * {_PCA_VFX} + 0.5)
                  AS BIGINT) AS vfx
      FROM p{i + 1} p CROSS JOIN n{i + 1} n
    )"""


_PCA_CTES = f"""
    e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    dims AS (
      SELECT vec_id, d,
             CAST(floor(emb[d] * {_PCA_VFX} + 0.5) AS BIGINT) AS fx
      FROM e CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS d)
    ),
    nn AS (SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n FROM dims),
    su AS (SELECT d, sum(CAST(fx AS DECIMAL(38,0))) AS su FROM dims GROUP BY d),
    mom AS (
      SELECT a.d AS d1, b.d AS d2,
             sum(CAST(a.fx AS DECIMAL(38,0)) * CAST(b.fx AS DECIMAL(38,0))) AS s
      FROM dims a JOIN dims b ON a.vec_id = b.vec_id
      GROUP BY a.d, b.d
    ),
    cmat AS (
      SELECT m.d1, m.d2,
             CAST(floor((CAST(m.s AS DOUBLE) / nn.n
                         - (CAST(sa.su AS DOUBLE) / nn.n)
                           * (CAST(sb.su AS DOUBLE) / nn.n))
                        / {_PCA_VFX}.0 / {_PCA_VFX}.0
                        * {_PCA_CFX} + 0.5) AS BIGINT) AS cfx
      FROM mom m
      JOIN su sa ON sa.d = m.d1
      JOIN su sb ON sb.d = m.d2
      CROSS JOIN nn
    ),
    v0 AS (SELECT DISTINCT d, CAST({_PCA_VFX} AS BIGINT) AS vfx FROM dims),
    {",".join(_pca_iter_sql(i).strip() for i in range(POWER_ITERS))}
"""


@register(
    "emb_pca_top_component",
    oracle=f"""
    WITH {_PCA_CTES}
    SELECT v.d AS dim, round(v.vfx / {_PCA_VFX}.0, 6) AS loading,
           round(n.nrm / ({_PCA_CFX}.0 * {_PCA_VFX}.0), 6) AS eigenvalue_est
    FROM v{POWER_ITERS} v CROSS JOIN n{POWER_ITERS} n
    """,
)
def emb_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant covariance eigenvector of the embedding corpus via
    {POWER_ITERS} exact fixed-point power-iteration rounds."""
    v, nrm_df = _pca_power(spark, sf_dir)
    return v.crossJoin(F.broadcast(nrm_df)).select(
        F.col("d").alias("dim"),
        F.round(F.col("vfx") / float(_PCA_VFX), 6).alias("loading"),
        F.round(F.col("nrm") / (float(_PCA_CFX) * float(_PCA_VFX)), 6).alias(
            "eigenvalue_est"
        ),
    )


def _moment_cells(e: DataFrame) -> DataFrame:
    """Map-side raw-second-moment partials over (vec_id, emb) rows:
    (d1, d2, p) cells with p = an exact per-task integer sum of
    fx_d1 * fx_d2 products, emitted as DECIMAL(38,0).

    Kernel arithmetic: fx = floor(emb_d * 1e6 + 0.5) as float64 (exact
    below 2**53, the identical IEEE expression the relational path
    evaluates) cast to int64; per Arrow batch the outer-product matrix
    accumulates in int64 (|fx| <= ~2e6 -> |product| <= ~4e12, safe for
    > 1e6 rows per batch against the 2**63 bound, and Arrow batches cap
    at 10k rows); batch matrices add into arbitrary-precision Python
    ints so a task of ANY size stays exact."""
    from typing import Iterator

    import numpy as np
    import pyarrow as pa

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        acc: list[list[int]] | None = None
        D = 0
        for b in batches:
            if b.num_rows == 0:
                continue
            ecol = b.column(b.schema.get_field_index("emb"))
            first = ecol[0].as_py()
            D = len(first)
            X = np.asarray(ecol.flatten(), dtype=np.float64).reshape(-1, D)
            FX = np.floor(X * _PCA_VFX + 0.5).astype(np.int64)
            M = FX.T @ FX  # int64-exact at Arrow batch sizes
            if acc is None:
                acc = [[0] * D for _ in range(D)]
            for i in range(D):
                row = acc[i]
                mi = M[i]
                for j in range(D):
                    row[j] += int(mi[j])
        if acc is None:
            return
        d1 = np.repeat(np.arange(1, D + 1, dtype=np.int32), D)
        d2 = np.tile(np.arange(1, D + 1, dtype=np.int32), D)
        vals = [acc[i][j] for i in range(D) for j in range(D)]
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(d1, type=pa.int32()),
                pa.array(d2, type=pa.int32()),
                pa.array(vals, type=pa.decimal128(38, 0)),
            ],
            names=["d1", "d2", "p"],
        )

    return e.select("emb").mapInArrow(
        kernel, "d1 int, d2 int, p decimal(38,0)"
    )


def _pca_power(spark: SparkSession, sf_dir: str):
    """POWER_ITERS fixed-point rounds; returns (v(d, vfx), nrm)."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb")
    )
    dims = e.select(
        "vec_id",
        F.posexplode("emb").alias("d0", "x"),
    ).select(
        "vec_id",
        (F.col("d0") + 1).alias("d"),
        F.floor(F.col("x") * _PCA_VFX + 0.5).cast("bigint").alias("fx"),
    )
    nn = dims.agg(F.countDistinct("vec_id").cast("bigint").alias("n"))
    su = dims.groupBy("d").agg(F.sum(F.col("fx").cast("decimal(38,0)")).alias("su"))
    # Second-moment matrix as a MAP-SIDE outer product: each task
    # accumulates the 64x64 integer-product sums over its rows and
    # emits <= D^2 partial cells before the only shuffle. Round 11
    # moves the per-row outer product from a Catalyst nested-transform
    # explode (interpreted HOF: rows x 4096 named_structs) into a
    # vectorized Arrow kernel (guide §4.2). Exactness is free here:
    # the cells are SUMS OF INTEGER PRODUCTS (fx = floor(x * 1e6 + .5)
    # is the identical IEEE expression, int64-exact), accumulated in
    # arbitrary-precision Python ints and emitted as DECIMAL(38,0) —
    # order-independent, so any grouping produces the same bits.
    mom = _moment_cells(e).groupBy("d1", "d2").agg(F.sum("p").alias("s"))
    sa = su.select(F.col("d").alias("d1"), F.col("su").alias("sua"))
    sb = su.select(F.col("d").alias("d2"), F.col("su").alias("sub"))
    cmat = (
        mom.join(F.broadcast(sa), "d1")
        .join(F.broadcast(sb), "d2")
        .crossJoin(F.broadcast(nn))
        .select(
            "d1",
            "d2",
            F.floor(
                (
                    F.col("s").cast("double") / F.col("n")
                    - (F.col("sua").cast("double") / F.col("n"))
                    * (F.col("sub").cast("double") / F.col("n"))
                )
                / float(_PCA_VFX)
                / float(_PCA_VFX)
                * _PCA_CFX
                + 0.5
            )
            .cast("bigint")
            .alias("cfx"),
        )
        .cache()
    )
    v = dims.select("d").distinct().select(
        "d", F.lit(_PCA_VFX).cast("bigint").alias("vfx")
    )
    nrm_df = None
    for _ in range(POWER_ITERS):
        # p is dimension-sized (64 rows) and referenced TWICE per round
        # (norm + next v) — persist so the chain evaluates linearly,
        # not 2^rounds times (the sgd weight-frame policy).
        p = (
            cmat.join(v.withColumnRenamed("d", "d2"), "d2")
            .groupBy(F.col("d1").alias("d"))
            .agg(
                F.sum(F.col("cfx").cast("decimal(38,0)") * F.col("vfx")).alias("raw")
            )
            .persist()
        )
        nrm_df = p.agg(
            F.sqrt(F.sum(F.col("raw") * F.col("raw")).cast("double")).alias("nrm")
        )
        v = p.crossJoin(F.broadcast(nrm_df)).select(
            "d",
            F.floor(F.col("raw").cast("double") / F.col("nrm") * _PCA_VFX + 0.5)
            .cast("bigint")
            .alias("vfx"),
        )
    return v, nrm_df


# --------------------------------------------------------------------------
# Embedding-norm audit: z-scores of vector L2 norms — degenerate
# embeddings (zeroed rows, truncated writes, fp16 overflow) show up as
# norm outliers long before they poison retrieval quality. Norms
# quantize to 1e-6 fixed point; mean/variance come from DECIMAL(38,0)
# sums of the fixed-point values (exact under any shuffle order); the
# z-score is one scalar expression per vector.
#
# The synthetic corpus is unit-normalized (every norm is exactly 1.0),
# so every 25th vector is deterministically CORRUPTED (scaled by
# 1 + (vec_id % 7 + 1)/4) to give the audit real work — the injected-
# fixture policy of dd_exact_dedup / dq_duplicate_orders.
# --------------------------------------------------------------------------
NORM_Z_FLAG = 3.0


@register(
    "emb_norm_audit",
    oracle=f"""
    WITH e AS (
      SELECT vec_id,
             CASE WHEN vec_id % 25 = 0
                  THEN list_transform(embedding::DOUBLE[],
                                      x -> x * (1.0 + (vec_id % 7 + 1) / 4.0))
                  ELSE embedding::DOUBLE[] END AS emb
      FROM embeddings
    ),
    norms AS (
      SELECT vec_id,
             CAST(floor(sqrt(list_reduce(list_transform(emb, x -> x * x),
                                          (a, b) -> a + b)) * 1000000 + 0.5)
                  AS BIGINT) AS nfx
      FROM e
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(CAST(nfx AS DECIMAL(38,0))) AS sx,
             sum(CAST(nfx AS DECIMAL(38,0)) * CAST(nfx AS DECIMAL(38,0))) AS sxx
      FROM norms
    )
    SELECT vec_id,
           round(nfx / 1000000.0, 6) AS l2_norm,
           round((nfx - CAST(sx AS DOUBLE) / n)
                 / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                         * CAST(sx AS DOUBLE)) / (CAST(n AS DOUBLE) * (n - 1))),
                 6) AS z,
           (abs((nfx - CAST(sx AS DOUBLE) / n)
                / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                        * CAST(sx AS DOUBLE)) / (CAST(n AS DOUBLE) * (n - 1))))
            > {NORM_Z_FLAG}) AS outlier
    FROM norms CROSS JOIN stats
    """,
)
def emb_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2-norm z-score with |z| > {NORM_Z_FLAG} outlier
    flag, from exact fixed-point norm statistics."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            "CASE WHEN vec_id % 25 = 0 THEN "
            "transform(embedding, x -> CAST(x AS DOUBLE)"
            " * (1.0 + (vec_id % 7 + 1) / 4.0)) "
            "ELSE transform(embedding, x -> CAST(x AS DOUBLE)) END"
        ).alias("emb"),
    )
    norm = F.sqrt(
        F.aggregate(
            F.transform("emb", lambda x: x * x), F.lit(0.0), lambda a, b: a + b
        )
    )
    norms = e.select(
        "vec_id", F.floor(norm * 1000000 + 0.5).cast("bigint").alias("nfx")
    )
    stats = norms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("nfx").cast("decimal(38,0)")).alias("sx"),
        F.sum(
            F.col("nfx").cast("decimal(38,0)") * F.col("nfx").cast("decimal(38,0)")
        ).alias("sxx"),
    )
    n = F.col("n")
    mean = F.col("sx").cast("double") / n
    sd = F.sqrt(
        (n * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double"))
        / (n.cast("double") * (n - 1))
    )
    z = (F.col("nfx") - mean) / sd
    return norms.crossJoin(F.broadcast(stats)).select(
        "vec_id",
        F.round(F.col("nfx") / 1000000.0, 6).alias("l2_norm"),
        F.round(z, 6).alias("z"),
        (F.abs(z) > NORM_Z_FLAG).alias("outlier"),
    )


# --------------------------------------------------------------------------
# All-but-the-top (ABTT) retrieval eval: remove the dominant principal
# component from every embedding (Mu & Viswanath, ICLR'18 — the
# anisotropy fix: the top component is largely a common bias that
# crowds cosine similarity) and measure recall@k of the corrected
# space against the ORIGINAL-space ground truth. Composes the
# fixed-point power iteration above with the brute-force kNN harness:
# the entire pipeline — eigenvector, projection, both rankings, the
# recall counts — is value-checked.
#
# Determinism: the eigenvector enters as vfx/1e6 rationals evaluated
# with the identical division expression in both engines; the
# projection dot products are sequential array folds (the
# sim_knn_bruteforce policy).
# --------------------------------------------------------------------------
@register(
    "sim_abtt_recall",
    oracle=f"""
    WITH {{pca}}
    , vlist AS (
      SELECT list(vfx / {_PCA_VFX}.0 ORDER BY d) AS v FROM v{{iters}}
    ),
    proj AS (
      SELECT e.vec_id,
             list_dot_product(e.emb, vl.v) AS dot, e.emb, vl.v
      FROM e CROSS JOIN vlist vl
    ),
    abtt AS (
      SELECT vec_id,
             list_transform(range(1, 65), i -> emb[i] - dot * v[i]) AS emb
      FROM proj
    ),
    full_pairs AS (
      SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
             round(list_dot_product(q.emb, x.emb) /
                   (sqrt(list_dot_product(q.emb, q.emb)) *
                    sqrt(list_dot_product(x.emb, x.emb))), 6) AS cosine
      FROM e q JOIN e x ON q.vec_id < {{nq}} AND q.vec_id != x.vec_id
    ),
    truth AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rank
        FROM full_pairs) WHERE rank <= {{topk}}
    ),
    ab_pairs AS (
      SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
             round(list_dot_product(q.emb, x.emb) /
                   (sqrt(list_dot_product(q.emb, q.emb)) *
                    sqrt(list_dot_product(x.emb, x.emb))), 6) AS cosine
      FROM abtt q JOIN abtt x ON q.vec_id < {{nq}} AND q.vec_id != x.vec_id
    ),
    approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rank
        FROM ab_pairs) WHERE rank <= {{topk}}
    )
    SELECT t.query_id,
           CAST(count(a.neighbor_id) AS INTEGER) AS n_hits,
           round(CAST(count(a.neighbor_id) AS DOUBLE) / {{topk}}, 6)
               AS recall_at_{{topk}}
    FROM truth t
    LEFT JOIN approx a
      ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
    GROUP BY t.query_id
    """.format(
        pca=_PCA_CTES,
        iters=POWER_ITERS,
        nq=10,
        topk=5,
        _PCA_VFX=_PCA_VFX,
    ).replace("{_PCA_VFX}.0", f"{_PCA_VFX}.0"),
)
def sim_abtt_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 (vs original-space truth) after removing the top
    principal component from every embedding."""
    from .similarity import N_QUERIES, TOP_K, _topk_candidates, cosine_rank

    v, _ = _pca_power(spark, sf_dir)
    vfx = {r.d: r.vfx for r in v.collect()}  # 64 values, dimension-sized
    varr = F.expr(
        "array("
        + ",".join(
            f"CAST({vfx[d]} AS DOUBLE) / {_PCA_VFX}.0" for d in sorted(vfx)
        )
        + ")"
    )
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb")
    )
    dot = F.aggregate(
        F.zip_with("emb", varr, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # compute the projection coefficient first, then subtract dot * v.
    abtt = (
        e.withColumn("dot", dot)
        .select(
            "vec_id",
            F.zip_with("emb", varr, lambda x, vd: x - F.col("dot") * vd).alias(
                "emb"
            ),
        )
    )

    def topk(source):
        # Round 11 (guide §4.2, the ml_knn_loo_accuracy pattern): the
        # exact-cosine scoring runs as a map-only Arrow kernel emitting
        # a PROVEN superset of the top-{TOP_K} (see _topk_candidates);
        # the exact round(...,6) + (cosine DESC, neighbor_id) ranking
        # window — identical to the broadcast-pairs formulation it
        # replaces — runs in the JVM over the dimension-sized candidate
        # relation, so the selected rows are bit-identical (pinned by
        # tests/test_properties.py::test_topk_candidate_kernel_matches_pairs
        # and the unchanged DuckDB oracle).
        src = source.persist()  # feeds the query-collect AND the kernel
        qrows = src.filter(F.col("vec_id") < N_QUERIES).select(
            "vec_id", "emb"
        ).collect()
        cand = _topk_candidates(src, qrows, TOP_K)
        return (
            cand.withColumn("cosine", F.round("cos_raw", 6))
            .withColumn("rank", cosine_rank())
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "neighbor_id")
        )

    truth = topk(e)
    approx = topk(abtt).withColumnRenamed("neighbor_id", "a_neighbor")
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
# Grid-density outlier detection in projected embedding space — the
# cheap distributed stand-in for LOF/DBSCAN noise flagging: project to
# the first two sign-random JL components (exact fixed-point, as
# everywhere in this module), bucket into a fixed grid, and flag
# vectors whose cell holds <= GRID_MIN_PTS points. Curation uses this
# to drop embedding-space stragglers (mojibake, truncations, wrong-
# model vectors) before clustering/dedup.
#
# Exactness: cells come from integer division of non-negative shifted
# integers, so Spark's truncating DIV and DuckDB's flooring // agree.
# Scale: the projection is map-only codegen; the only shuffle is the
# cell count (grid-bounded) joined back broadcast.
# --------------------------------------------------------------------------
GRID_CELL = 8000
GRID_OFF = 1_000_000  # shifts projections non-negative: trunc == floor
GRID_MIN_PTS = 2


@register(
    "emb_grid_outliers",
    oracle=f"""
    WITH signs(i, j, s) AS (VALUES {_SIGN_VALUES_SQL}),
    idx AS (
      SELECT vec_id, embedding AS e, unnest(range(1, {IN_DIM} + 1)) AS i1
      FROM embeddings
    ),
    q AS (
      SELECT vec_id, i1 - 1 AS i,
             CAST(floor(CAST(e[i1] AS DOUBLE) * {FX}) AS BIGINT) AS v
      FROM idx
    ),
    p AS (
      SELECT q.vec_id,
             CAST(sum(CASE WHEN sg.j = 0 THEN q.v * sg.s ELSE 0 END) AS BIGINT) AS p0,
             CAST(sum(CASE WHEN sg.j = 1 THEN q.v * sg.s ELSE 0 END) AS BIGINT) AS p1
      FROM q JOIN signs sg ON q.i = sg.i AND sg.j IN (0, 1)
      GROUP BY q.vec_id
    ),
    cellof AS (
      SELECT vec_id,
             CAST((p0 + {GRID_OFF}) // {GRID_CELL} AS BIGINT) AS cell_x,
             CAST((p1 + {GRID_OFF}) // {GRID_CELL} AS BIGINT) AS cell_y
      FROM p
    ),
    dens AS (
      SELECT cell_x, cell_y, CAST(count(*) AS BIGINT) AS cell_n
      FROM cellof GROUP BY cell_x, cell_y
    )
    SELECT c.vec_id, c.cell_x, c.cell_y, d.cell_n
    FROM cellof c JOIN dens d USING (cell_x, cell_y)
    WHERE d.cell_n <= {GRID_MIN_PTS}
    """,
)
def emb_grid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outliers: vectors in 2-D JL grid cells holding
    <= {GRID_MIN_PTS} points."""
    emb = table(spark, sf_dir, "embeddings")
    quant = F.expr(
        f"transform(embedding, e -> CAST(floor(CAST(e AS DOUBLE) * {FX}) AS BIGINT))"
    )

    def proj(j: int) -> F.Column:
        return F.expr(
            "aggregate(zip_with(_q, array({}), (x, s) -> x * s),"
            " 0L, (acc, x) -> acc + x)".format(",".join(str(s) for s in _SIGNS[j]))
        )

    cellof = (
        emb.select("vec_id", quant.alias("_q"))
        .select("vec_id", proj(0).alias("p0"), proj(1).alias("p1"))
        .select(
            "vec_id",
            F.expr(f"CAST((p0 + {GRID_OFF}) DIV {GRID_CELL} AS BIGINT)").alias(
                "cell_x"
            ),
            F.expr(f"CAST((p1 + {GRID_OFF}) DIV {GRID_CELL} AS BIGINT)").alias(
                "cell_y"
            ),
        )
    )
    dens = cellof.groupBy("cell_x", "cell_y").agg(
        F.count(F.lit(1)).cast("bigint").alias("cell_n")
    )
    return cellof.join(F.broadcast(dens), ["cell_x", "cell_y"]).filter(
        F.col("cell_n") <= GRID_MIN_PTS
    ).select("vec_id", "cell_x", "cell_y", "cell_n")


# --------------------------------------------------------------------------
# Per-dimension variance + isotropy audit — the embedding-health check
# next to emb_norm_audit: a healthy (whitened) space has near-equal
# variance across dimensions; rogue dimensions (variance >> median)
# dominate cosine similarity and break ANN recall. Per-dim variance
# from one posexplode reduction; the isotropy ratio compares each
# dimension against the corpus max via a broadcast 1-row join (no
# global window). Float sums are bounded (|v| < 1, corpus-sized
# counts) so round-6 output is stable; the flag compares integer
# micro-variances for hash-proof determinism.
# --------------------------------------------------------------------------
ISOTROPY_FLAG_RATIO = 4  # dim is "rogue" if var * 4 < max_var... inverted below


@register(
    "emb_dim_variance_isotropy",
    oracle="""
    WITH flat AS (
      SELECT dim, CAST(embedding[dim] AS DOUBLE) AS v
      FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(dim)
    ),
    per_dim AS (
      SELECT CAST(dim - 1 AS INTEGER) AS dim,
             CAST(count(*) AS BIGINT) AS n,
             sum(v) AS s,
             sum(v * v) AS ss
      FROM flat GROUP BY dim
    ),
    vard AS (
      SELECT dim, n,
             CAST(floor((ss - s * s / n) / n * 1000000 + 0.5) AS BIGINT)
                 AS var_micro
      FROM per_dim
    ),
    mx AS (SELECT max(var_micro) AS max_var_micro FROM vard)
    SELECT v.dim, v.n, v.var_micro,
           round(v.var_micro / 1000000.0, 6) AS variance,
           CASE WHEN v.var_micro * 4 < mx.max_var_micro THEN 1 ELSE 0 END
               AS low_variance_flag
    FROM vard v CROSS JOIN mx
    """,
)
def emb_dim_variance_isotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension variance (micro-quantized) with a low-variance
    flag against the corpus max — the isotropy audit."""
    emb = table(spark, sf_dir, "embeddings")
    flat = emb.select(F.posexplode("embedding").alias("dim", "v")).select(
        "dim", F.col("v").cast("double").alias("v")
    )
    per_dim = flat.groupBy("dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").alias("s"),
        F.sum(F.col("v") * F.col("v")).alias("ss"),
    )
    var_micro = F.floor(
        (F.col("ss") - F.col("s") * F.col("s") / F.col("n"))
        / F.col("n")
        * 1000000
        + 0.5
    ).cast("bigint")
    vard = per_dim.select(
        F.col("dim").cast("int").alias("dim"), "n", var_micro.alias("var_micro")
    )
    mx = vard.agg(F.max("var_micro").alias("max_var_micro"))
    return vard.crossJoin(F.broadcast(mx)).select(
        "dim",
        "n",
        "var_micro",
        F.round(F.col("var_micro") / 1000000.0, 6).alias("variance"),
        F.when(
            F.col("var_micro") * 4 < F.col("max_var_micro"), 1
        ).otherwise(0).alias("low_variance_flag"),
    )
