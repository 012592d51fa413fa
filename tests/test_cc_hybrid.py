"""Hybrid connected-components: the driver-side union-find fast path and
the distributed min-label loop must produce identical components.

dd_neardup_components switches on FAST_CC_EDGE_CAP (round 7): under the
cap it collects the (tiny, duplicate-pairs-only) edge list and runs
union-find; over the cap it runs the iterative distributed loop. Both
must return the same (doc_id, component_id, component_size) relation —
component id = min doc_id of the component, exactly what the recursive
-CTE oracle computes.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from scalable_data_ingestion_spark.operators import dedup


def _rows(df):
    return sorted(
        (r["doc_id"], r["component_id"], r["component_size"])
        for r in df.collect()
    )


def test_unionfind_matches_distributed_on_pair_graph(spark):
    # A graph with a chain (forces >1 propagation round in the loop),
    # a triangle, an isolated pair, and min-label across branches.
    pairs = [
        (5, 9), (9, 2),              # chain -> component 2 of size 3
        (10, 11), (11, 12), (10, 12),  # triangle -> component 10
        (30, 31),                     # pair -> component 30
        (40, 41), (42, 41), (43, 40),  # star-ish -> component 40
    ]
    pairs_df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    fast = dedup._components_unionfind(iter(pairs))
    fast_rows = sorted(fast)
    dist_rows = _rows(dedup._components_distributed(spark, pairs_df))
    assert fast_rows == dist_rows
    # spot-check semantics: min label wins, sizes correct
    by_doc = {d: (c, s) for d, c, s in fast_rows}
    assert by_doc[5] == (2, 3) and by_doc[2] == (2, 3)
    assert by_doc[12] == (10, 3)
    assert by_doc[31] == (30, 2)
    assert by_doc[42] == (40, 4) and by_doc[43] == (40, 4)


def test_dd_neardup_components_fast_path_matches_forced_distributed(
    spark, sf_dir, monkeypatch
):
    fast = _rows(dedup.dd_neardup_components(spark, sf_dir))
    monkeypatch.setattr(dedup, "FAST_CC_EDGE_CAP", -1)  # force the loop
    dist = _rows(dedup.dd_neardup_components(spark, sf_dir))
    assert fast == dist
    assert fast, "sf fixture should contain at least one near-dup pair"


def test_min_label_components_fast_path_matches_loop(spark, monkeypatch):
    from scalable_data_ingestion_spark.operators import entity

    pairs = spark.createDataFrame(
        [(5, 9), (9, 2), (10, 11), (30, 31), (31, 11)], "a long, b long"
    )
    fast = sorted((r["node"], r["lab"]) for r in entity.min_label_components(pairs).collect())
    monkeypatch.setattr(entity, "FAST_CC_EDGE_CAP", -1)
    dist = sorted((r["node"], r["lab"]) for r in entity.min_label_components(pairs).collect())
    assert fast == dist
    assert dict(fast)[31] == 10 and dict(fast)[5] == 2
