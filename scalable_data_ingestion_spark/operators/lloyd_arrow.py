"""Vectorized Arrow kernels for the Lloyd / nearest-centroid family.

Two kernels serve every codebook the engine trains (flat k-means, the
IVF coarse quantizer, PQ subspace codebooks, both RQ levels):

- ``sub_lloyd_partials`` — one Lloyd round's per-(s, cid, d) fixed-point
  sums over ``(vec_id, s, se)`` rows, where ``s`` keys an independent
  codebook. Flat k-means is the single-subspace case (``s = 0``,
  ``se`` = the whole vector). ``pq._driver_lloyd_sub`` is the one
  driver loop around it.
- ``assign_rows`` — map-only nearest-centroid assignment of
  ``(vec_id, emb)`` rows against one driver-side codebook.

Why NumPy: the same squared-distance fold as a Catalyst higher-order
function is CodegenFallback, interpreted per array element; here it is
a handful of vector ops per Arrow batch.

Bit-exactness contract:
- The fold `aggregate(zip_with(x, c, (a,b) -> (a-b)*(a-b)), 0.0, +)`
  accumulates left-to-right over dimensions. ``dists_exact`` reproduces
  the identical IEEE operation order with an explicit loop over d:
  ``acc += (C[:,d]-X[:,d])**2`` — per (row, centroid) the same
  add-one-dimension-at-a-time sequence ((-z)*(-z) == z*z exactly, and
  0.0 + t == t because every term is a non-negative square).
- Ties: centroid rows are ordered by ascending cid and ``np.argmin``
  returns the FIRST minimum — exactly the `ORDER BY dist, cid` rule of
  the DuckDB twins and the FIRST-index rule of `pq._sub_assign_exprs`.
- Update sums: ``floor(v * 1e6 + 0.5)`` per component as float64 (exact
  below 2**53), cast to int64, summed exactly; the new centroid double
  is ``fx / (1000000.0 * cnt)`` — one IEEE division on the driver, the
  same expression the DuckDB twins evaluate. A cluster that drew no
  rows (cnt = 0) is dropped from the next round's codebook, as the
  twins' ``GROUP BY`` drops it.
Pinned by tests/test_properties.py::test_lloyd_kernels_match_catalyst
(``assign_rows`` bit for bit against the `pq._sub_assign_exprs` literal
fold; partial sums against Python integers) and end to end by the
DuckDB oracle parity of every consumer query.

Scale shape: the partials kernel emits K x D fixed-point sums PER TASK
(map-side combining — the same shape MLlib's distributed k-means uses),
so shuffle volume is partitions x K x D regardless of corpus size; the
assignment kernel is map-only. Centroids ride the task closure
(dimension-sized: K x D doubles).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["dists_exact", "assign_rows", "sub_lloyd_partials"]


def dists_exact(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(N, D) x (K, D) -> (K, N) squared L2, exact fold order over d."""
    acc = np.zeros((C.shape[0], X.shape[0]), dtype=np.float64)
    for d in range(C.shape[1]):
        diff = C[:, d][:, None] - X[:, d][None, :]
        acc += diff * diff
    return acc


def _emb_matrix(batch: pa.RecordBatch, col: str, dim: int) -> np.ndarray:
    arr = batch.column(batch.schema.get_field_index(col))
    return np.asarray(arr.flatten(), dtype=np.float64).reshape(-1, dim)


def _cents_np(cents: list[tuple[int, list[float]]]) -> tuple[np.ndarray, np.ndarray]:
    cents = sorted(cents, key=lambda t: t[0])
    C = np.array([ce for _, ce in cents], dtype=np.float64)
    ids = np.array([c for c, _ in cents], dtype=np.int32)
    return C, ids


def assign_rows(
    corpus: DataFrame,
    cents: list[tuple[int, list[float]]],
    with_emb: bool = True,
) -> DataFrame:
    """Map-only nearest-centroid assignment: (vec_id, [emb,] cluster_id,
    dist). Pass with_emb=False when the consumer does not need the
    vectors back: mapInArrow is opaque to column pruning, so unneeded
    columns must be dropped explicitly."""
    C, ids = _cents_np(cents)
    D = C.shape[1]
    names = ["vec_id"] + (["emb"] if with_emb else []) + ["cluster_id", "dist"]
    schema = "vec_id long" + (", emb array<double>" if with_emb else "")
    schema += ", cluster_id int, dist double"

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            if b.num_rows == 0:
                continue
            X = _emb_matrix(b, "emb", D)
            dm = dists_exact(X, C)
            a = np.argmin(dm, axis=0)
            arrays = [b.column(b.schema.get_field_index("vec_id"))]
            if with_emb:
                arrays.append(b.column(b.schema.get_field_index("emb")))
            arrays.append(pa.array(ids[a], type=pa.int32()))
            arrays.append(pa.array(dm[a, np.arange(dm.shape[1])], type=pa.float64()))
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return corpus.select("vec_id", "emb").mapInArrow(kernel, schema)


def sub_lloyd_partials(sub: DataFrame, cents_by_s: dict) -> list:
    """One Lloyd round over (s, se) rows against the per-subspace
    codebooks ``cents_by_s`` (s -> [(cid, centroid)]): the collected
    (s, cid, d) -> (fx, cnt) sums over the full codebook grid, with
    fx = 0, cnt = 0 for a centroid no row chose."""
    ss = sorted(cents_by_s)
    Cs = {s: _cents_np(cents_by_s[s]) for s in ss}
    # all subspace widths are equal within one relation (PQ: 8,
    # flat k-means and RQ: 64)
    D_all = Cs[ss[0]][0].shape[1]

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        fx_acc = {s: np.zeros(Cs[s][0].shape, dtype=np.int64) for s in ss}
        cnt_acc = {s: np.zeros(Cs[s][0].shape[0], dtype=np.int64) for s in ss}
        for b in batches:
            if b.num_rows == 0:
                continue
            sv = np.asarray(b.column(b.schema.get_field_index("s")), dtype=np.int64)
            X_all = _emb_matrix(b, "se", D_all)
            for s in ss:
                m = sv == s
                if not m.any():
                    continue
                idx = np.nonzero(m)[0]
                X = X_all[idx]
                C, _ids = Cs[s]
                a = np.argmin(dists_exact(X, C), axis=0)
                FXm = np.floor(X * 1e6 + 0.5).astype(np.int64)
                for k in range(C.shape[0]):
                    km = a == k
                    if km.any():
                        fx_acc[s][k] += FXm[km].sum(axis=0)
                        cnt_acc[s][k] += int(km.sum())
        cols = {"s": [], "cid": [], "d": [], "fx": [], "cnt": []}
        for s in ss:
            C, ids = Cs[s]
            K, D = C.shape
            cols["s"].append(np.full(K * D, s, dtype=np.int32))
            cols["cid"].append(np.repeat(ids, D))
            cols["d"].append(np.tile(np.arange(D, dtype=np.int32), K))
            cols["fx"].append(fx_acc[s].reshape(-1))
            cols["cnt"].append(np.repeat(cnt_acc[s], D))
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(np.concatenate(cols["s"]), type=pa.int32()),
                pa.array(np.concatenate(cols["cid"]), type=pa.int32()),
                pa.array(np.concatenate(cols["d"]), type=pa.int32()),
                pa.array(np.concatenate(cols["fx"]), type=pa.int64()),
                pa.array(np.concatenate(cols["cnt"]), type=pa.int64()),
            ],
            names=["s", "cid", "d", "fx", "cnt"],
        )

    return (
        sub.select("s", "se")
        .mapInArrow(kernel, "s int, cid int, d int, fx long, cnt long")
        .groupBy("s", "cid", "d")
        .agg(F.sum("fx").alias("fx"), F.sum("cnt").alias("cnt"))
        .collect()
    )
