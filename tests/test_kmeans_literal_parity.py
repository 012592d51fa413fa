"""Flat k-means edge cases pinned against the DuckDB oracle's rules.

Every codebook trains through one driver Lloyd loop
(``pq._driver_lloyd_sub``) and one Arrow partials kernel; the kernels'
bit-exactness is pinned by
``tests/test_properties.py::test_lloyd_kernels_match_catalyst``. These
tests pin the two rules the oracle CTEs encode that random inputs
rarely hit: argmin ties go to the lowest cluster id, and a cluster that
draws no vectors leaves the codebook.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow as pa

from scalable_data_ingestion_spark.operators import clustering
from scalable_data_ingestion_spark.operators.lloyd_arrow import assign_rows


def test_assign_exprs_tie_breaks_to_lowest_cluster_id(spark):
    # Two identical centroids: the argmin must pick the lower id, the
    # `ORDER BY dist, cluster_id` tie rule of the oracle.
    corpus = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [3.0, 4.0])], "vec_id long, emb array<double>"
    )
    cents = [(3, [1.0, 2.0]), (1, [1.0, 2.0])]
    out = {
        r.vec_id: (r.cluster_id, r.dist)
        for r in assign_rows(corpus, cents).collect()
    }
    assert out[0] == (1, 0.0)
    assert out[1][0] == 1  # equidistant -> lowest cid


def test_empty_cluster_drops_out_like_the_oracle(spark):
    """Seeds 0 and 1 are the same vector, so every vector ties to
    cluster 0 and cluster 1 is empty after the first round. The oracle's
    GROUP BY drops it from the codebook; the Spark loop must do the same
    rather than divide by the zero count."""
    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((24, clustering.DIM)).round(6)
    vecs[1] = vecs[0]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    corpus = spark.createDataFrame(rows, "vec_id long, emb array<double>")

    got = sorted(
        (r.vec_id, r.cluster_id, r.dist)
        for r in clustering._kmeans(corpus).collect()
    )
    spark.catalog.clearCache()

    con = duckdb.connect()
    con.register(
        "corpus_src",
        pa.table(
            {
                "vec_id": pa.array([i for i, _ in rows], pa.int64()),
                "emb": pa.array([e for _, e in rows], pa.list_(pa.float64())),
            }
        ),
    )
    want = sorted(
        con.execute(
            f"""WITH corpus AS (SELECT vec_id, emb FROM corpus_src),
            {clustering._duck_kmeans_body()}
            SELECT vec_id, cluster_id, dist FROM fin"""
        ).fetchall()
    )
    assert got == want
    assert 1 not in {cid for _, cid, _ in got}
