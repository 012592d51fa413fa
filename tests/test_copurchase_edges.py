"""The part co-purchase graph is built in one place: ``graph.copurchase_edges``.

The directed arc view the random-walk queries read is
``_symmetrize(copurchase_edges(li, 1))``; it must equal the arc set the
queries used to build by hand, ``a.pk != b.pk`` within an order, made
distinct. The hand-made lineitem covers the cases that could split the
two: an order that repeats a part, a one-line order, a three-part order
and a pair co-purchased in two orders.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from scalable_data_ingestion_spark.operators.graph import _symmetrize, copurchase_edges
from scalable_data_ingestion_spark.session import local_frame

LINES = [
    (1, 7),  # order 1 repeats part 7 and holds nothing else
    (1, 7),
    (2, 1),  # order 2 has one line
    (3, 1),  # order 3 holds three parts
    (3, 2),
    (3, 3),
    (4, 2),  # (2, 3) is co-purchased again, in order 4
    (4, 3),
    (5, 4),
    (5, 1),
]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_symmetrized_edges_are_the_distinct_arc_set(spark):
    li = local_frame(spark, LINES, "l_orderkey bigint, l_partkey bigint")
    a, b = li.alias("a"), li.alias("b")
    reference = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))
        .distinct()
    )
    arcs = _symmetrize(copurchase_edges(li, 1), "pa", "pb", "src", "dst")
    # compared as sorted lists, so a repeated arc would fail too
    assert _rows(arcs) == _rows(reference) == [
        (1, 2), (1, 3), (1, 4), (2, 1), (2, 3), (3, 1), (3, 2), (4, 1)
    ]
    assert _rows(copurchase_edges(li, 2)) == [(2, 3)]
