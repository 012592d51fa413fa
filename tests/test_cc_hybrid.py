"""Hybrid connected-components: the driver-side union-find fast path and
the distributed min-label loop must produce identical components.

``dedup.min_label_components`` switches on FAST_CC_EDGE_CAP (round 7):
under the cap it collects the (tiny, matches-only) edge list and runs
union-find; over the cap it runs the iterative distributed loop. Both
must return the same (node, lab, size) relation — lab = min node of
the component, exactly what the recursive-CTE oracles compute. Near-dup
clustering (dd_neardup_components) and entity resolution
(entity.er_*_entities) both close their graphs through it.
"""

from __future__ import annotations

from scalable_data_ingestion_spark.operators import dedup


def _rows(df):
    return sorted(
        (r["doc_id"], r["component_id"], r["component_size"])
        for r in df.collect()
    )


def _labels(df):
    return sorted((r["node"], r["lab"], r["size"]) for r in df.collect())


def test_unionfind_matches_distributed_on_pair_graph(spark, monkeypatch):
    # A graph with a chain (forces >1 propagation round in the loop),
    # a triangle, an isolated pair, and min-label across branches.
    pairs = [
        (5, 9), (9, 2),              # chain -> component 2 of size 3
        (10, 11), (11, 12), (10, 12),  # triangle -> component 10
        (30, 31),                     # pair -> component 30
        (40, 41), (42, 41), (43, 40),  # star-ish -> component 40
    ]
    pairs_df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    fast = sorted(dedup._components_unionfind(iter(pairs)))
    assert _labels(dedup.min_label_components(pairs_df)) == fast
    monkeypatch.setattr(dedup, "FAST_CC_EDGE_CAP", -1)  # force the loop
    assert _labels(dedup.min_label_components(pairs_df)) == fast
    # spot-check semantics: min label wins, sizes correct
    by_node = {n: (lab, size) for n, lab, size in fast}
    assert by_node[5] == (2, 3) and by_node[2] == (2, 3)
    assert by_node[12] == (10, 3)
    assert by_node[31] == (30, 2)
    assert by_node[42] == (40, 4) and by_node[43] == (40, 4)


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
    fast = _labels(entity.min_label_components(pairs))
    monkeypatch.setattr(dedup, "FAST_CC_EDGE_CAP", -1)
    dist = _labels(entity.min_label_components(pairs))
    assert fast == dist
    lab = {node: lab for node, lab, _size in fast}
    assert lab[31] == 10 and lab[5] == 2
