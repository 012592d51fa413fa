"""Graph analytics over the part co-purchase graph.

One function builds the graph: ``copurchase_edges(lineitem, min_sup)``
self-joins lineitem on ``l_orderkey`` and keeps each part pair
``(pa, pb)``, ``pa < pb``, whose support (line pairs sharing an order)
is at least ``min_sup``. The queries call it with ``TRI_MIN_SUP`` (the
support-filtered graph: triangles, communities, k-core, link scores,
the reachability CTE in plans/relational3.py) or with ``1`` (every
co-purchase). ``_symmetrize`` turns an oriented edge list into both
directions from one reference; ``_symmetrize(copurchase_edges(li, 1),
...)`` is the directed arc view the random-walk queries (PageRank,
personalized PageRank, Katz), negative sampling and the degree
profiles read. Only ``gr_edge_churn`` (keyed on era as well) builds
its own edges.

Iterative queries follow the Pregel-in-DataFrames pattern: one
message-passing join + one aggregate per superstep, unrolled a fixed
number of rounds so both engines see an identical static DAG. Because
edges are symmetric, every node has out-degree >= 1, so PageRank needs
no dangling-mass handling.

Determinism (the reason this is oracle-checkable): ALL rank arithmetic
is BIGINT fixed-point at scale 1e9 —

    pr_0       = 10^9 DIV N
    contrib(u) = pr(u) DIV outdeg(u)
    pr'(v)     = (15*10^9) DIV (100*N)  +  (85 * sum contrib) DIV 100

Integer division and integer sums are exact and associative, so the
result is bit-identical across engines, shuffle orders, and partition
layouts — the same policy as the k-means centroids in
operators/clustering.py, with division-before-sum replacing the float
mean entirely.

Scale notes (billions of edges):
- The self-join's fan-out is bounded by order size (max ~13 lines in
  this schema, 7 in TPC-H), so the join output is ~|lineitem| x
  avg_order_size — linear, not quadratic.
- Each superstep is one shuffle keyed on the node id (join pr with
  edges on src, aggregate on dst) with map-side partial sums. At real
  scale you co-partition edges and ranks once (`repartition(node)`)
  and every superstep reuses that partitioning; AQE handles hub-node
  skew via skew-join splitting, or pre-salt the few super-hubs.
- Degrees are joined once and carried inside the rank relation, so a
  superstep touches exactly two relations (edges, ranks) — the shape
  GraphFrames' aggregateMessages produces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.ranking import global_rank
from ..registry import register

PR_ITERS = 3
PR_SCALE = 10**9  # fixed-point scale for rank mass
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100  # damping 0.85 as an exact ratio


def copurchase_edges(lineitem: DataFrame, min_sup: int) -> DataFrame:
    """Undirected part co-purchase edges ``(pa, pb)`` with ``pa < pb``.

    Support is the number of line pairs (two lines of one order) that
    hold the two parts, summed over orders, so an order listing a part
    twice counts twice (the ``mb_*`` basket queries count distinct
    orders instead). Edges with support below ``min_sup`` are dropped.

    With ``min_sup = 1`` the result holds each co-purchased pair exactly
    once, oriented by id; ``_symmetrize`` of it is therefore exactly the
    arc set ``{(a.pk, b.pk) : a.ok = b.ok, a.pk != b.pk}`` (distinct):
    every arc (x, y) comes from the one row (min, max), and the two
    orientations of a row differ because pa != pb, so no arc repeats.
    The caller picks caching and partitioning."""
    li = lineitem.select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb"))
        .agg(F.count(F.lit(1)).alias("sup"))
        .filter(F.col("sup") >= min_sup)
        .select("pa", "pb")
    )


def _symmetrize(
    und: DataFrame, ca: str, cb: str, oa: str, ob: str, *keep: str
) -> DataFrame:
    """Both directions ``(oa, ob)`` of an undirected edge list
    ``(ca, cb)``, with the ``keep`` columns carried on each, from ONE
    reference to ``und``.

    A flip-union ``und.select(a,b).union(und.select(b,a))`` is two
    independent plans, so it executes (or rescans) ``und`` twice; one
    explode of the two orientations reads it once. Every both-directions
    view in the package comes from here."""
    extra = [F.col(c) for c in keep]
    e = F.explode(
        F.array(
            F.struct(F.col(ca).alias(oa), F.col(cb).alias(ob), *extra),
            F.struct(F.col(cb).alias(oa), F.col(ca).alias(ob), *extra),
        )
    ).alias("_e")
    return und.select(e).select("_e.*")


def _shuffle_partitions(spark: SparkSession) -> int:
    return int(spark.conf.get("spark.sql.shuffle.partitions"))


@register(
    "gr_copurchase_pagerank",
    oracle=f"""
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    deg AS (SELECT src, count(*) AS deg FROM pairs GROUP BY src),
    nn AS (SELECT count(*) AS n FROM deg),
    pr0 AS (
      SELECT d.src AS node, d.deg,
             CAST({PR_SCALE} // nn.n AS BIGINT) AS pr_fx
      FROM deg d CROSS JOIN nn
    ),
    {",".join(
        f'''pr{i + 1} AS (
      SELECT e.dst AS node, dd.deg,
             CAST({15 * PR_SCALE} // ({PR_DAMP_DEN} * nn.n)
                  + ({PR_DAMP_NUM} * sum(p.pr_fx // p.deg)) // {PR_DAMP_DEN}
                  AS BIGINT) AS pr_fx
      FROM pairs e
      JOIN pr{i} p ON p.node = e.src
      JOIN deg dd ON dd.src = e.dst
      CROSS JOIN nn
      GROUP BY e.dst, dd.deg, nn.n
    )''' for i in range(PR_ITERS)
    )}
    SELECT node AS part_id,
           CAST(deg AS BIGINT) AS out_degree,
           round(pr_fx / {PR_SCALE}.0, 9) AS pagerank
    FROM pr{PR_ITERS}
    """,
)
def gr_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank ({PR_ITERS} supersteps, damping 0.85) over the part
    co-purchase graph, in exact BIGINT fixed-point.

    Every superstep is `edges JOIN ranks ON src` -> `groupBy dst` with
    integer contributions — one node-keyed shuffle, partial-aggregated
    map-side, identical results under any execution order.
    """
    li = table(spark, sf_dir, "lineitem")
    pairs = (
        _symmetrize(copurchase_edges(li, 1), "pa", "pb", "src", "dst")
        # Co-partition the edge list on src ONCE and cache it: every
        # superstep's rank join then lines up with the previous
        # superstep's groupBy(dst) output partitioning (same key, same
        # partition count), so a superstep costs exactly ONE exchange
        # (the message aggregation) instead of three. Same pattern as
        # the cached shingle relation in dedup.py, plus partitioning
        # reuse.
        .repartition(_shuffle_partitions(spark), "src")
        .persist()
    )
    deg = pairs.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).persist()
    # One tiny driver-side action: the node count folds into the rank
    # expressions as a literal, removing a broadcast-nested-loop stage
    # from every superstep (and materializing the cached edges/degrees
    # the iterations reuse).
    n = deg.count()
    pr = deg.select(
        F.col("src").alias("node"),
        "deg",
        F.lit(PR_SCALE // n).cast("bigint").alias("pr_fx"),
    )
    base_fx = (15 * PR_SCALE) // (PR_DAMP_DEN * n)
    for _ in range(PR_ITERS):
        contrib = pairs.join(pr, pairs.src == pr.node).select(
            "dst", F.expr("pr_fx DIV deg").alias("c")
        )
        sums = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        pr = sums.join(deg, sums.dst == deg.src).select(
            F.col("dst").alias("node"),
            "deg",
            F.expr(
                f"CAST({base_fx} + ({PR_DAMP_NUM} * s) DIV {PR_DAMP_DEN} AS BIGINT)"
            ).alias("pr_fx"),
        )
    return pr.select(
        F.col("node").alias("part_id"),
        F.col("deg").cast("bigint").alias("out_degree"),
        F.round(F.col("pr_fx") / F.lit(float(PR_SCALE)), 9).alias("pagerank"),
    )


# --------------------------------------------------------------------------
# Triangle counting on the same co-purchase graph: per-part number of
# closed triads among strong edges (``copurchase_edges`` support
# >= TRI_MIN_SUP). The third canonical distributed graph primitive after
# connected components (operators/dedup.py) and PageRank (above) —
# the building block of clustering-coefficient / community metrics.
#
# Shape: edges oriented by part id (pa < pb), wedges from one
# edge-edge equi-join on the middle node, closed by a second equi-join
# on the (a, c) edge — every join a hash equi-join on node ids, never
# an all-pairs product. Output is exact integer counts.
#
# Scale notes (billions of edges): the wedge join fans out
# quadratically in hub degree. The production mitigation is
# degree-orientation (point each edge at its higher-degree endpoint,
# bounding wedge fan-out by sqrt(|E|) per node); id-orientation keeps
# this oracle-checkable here and the support threshold already prunes
# the heavy co-occurrence tail. The closing join is linear in wedges.
# --------------------------------------------------------------------------
TRI_MIN_SUP = 2


@register(
    "gr_triangle_counts",
    oracle=f"""
    WITH edges AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a
      JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= {TRI_MIN_SUP}
    ),
    tri AS (
      SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
      FROM edges e1
      JOIN edges e2 ON e1.pb = e2.pa
      JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
    ),
    pernode AS (
      SELECT unnest([a, b, c]) AS part_id FROM tri
    )
    SELECT part_id, CAST(count(*) AS BIGINT) AS n_triangles
    FROM pernode GROUP BY part_id
    """,
)
def gr_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle participation counts over support-filtered
    co-purchase edges (id-oriented wedge join + closing-edge join)."""
    edges = (
        copurchase_edges(table(spark, sf_dir, "lineitem"), TRI_MIN_SUP)
        # cache: the triangle DAG reads the edge relation three times
        # (wedge sides + closing edge); without it the lineitem
        # self-join runs 3x.
        .cache()
    )
    e1 = edges.select(F.col("pa").alias("a"), F.col("pb").alias("b"))
    e2 = edges.select(F.col("pa").alias("b2"), F.col("pb").alias("c"))
    e3 = edges.select(F.col("pa").alias("a3"), F.col("pb").alias("c3"))
    tri = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .select("a", "b", "c")
    )
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("part_id"))
        .groupBy("part_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )


# --------------------------------------------------------------------------
# Label propagation communities (synchronous LPA, fixed rounds).
# Completes the distributed-graph family: connected components
# (operators/dedup.py), PageRank + triangles (above), communities here.
#
# Update rule per round, for every node v:
#     new_label(v) = the neighbor label with the highest count,
#                    ties broken by the smallest label
# — integer counts and integer labels only, so the unrolled 3-round
# result is bit-identical across engines and execution orders (the
# classic async-LPA nondeterminism is removed by synchronous rounds +
# a total tie-break).
#
# Scale notes: identical superstep shape to PageRank — the edge list is
# co-partitioned once and cached; each round is one join (edges x
# labels, co-aligned on the join key) and one aggregation with map-side
# combine. Winner selection uses min_by over a (count desc, label asc)
# struct so a round costs ONE shuffle on (v, label) plus the final
# per-v reduce — no rank window, no second sort.
# --------------------------------------------------------------------------
LPA_ITERS = 3


def _lpa_labels(spark: SparkSession, pairs: DataFrame) -> DataFrame:
    """Final (node, label) relation after LPA_ITERS synchronous rounds
    over a co-partitioned directed edge relation."""
    lab = pairs.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(LPA_ITERS):
        msgs = pairs.join(lab, pairs.dst == lab.node).select(
            F.col("src").alias("v"), "label"
        )
        counts = msgs.groupBy("v", "label").agg(F.count(F.lit(1)).alias("c"))
        lab = counts.groupBy("v").agg(
            F.expr("min_by(label, struct(-c, label))").alias("label")
        ).select(F.col("v").alias("node"), "label")
    return lab


def _lpa_round_sql(i: int) -> str:
    return f"""lab{i + 1} AS (
      SELECT v AS node, label FROM (
        SELECT v, label, row_number() OVER (
                 PARTITION BY v ORDER BY c DESC, label) AS rn
        FROM (
          SELECT e.src AS v, l.label, count(*) AS c
          FROM pairs e JOIN lab{i} l ON e.dst = l.node
          GROUP BY e.src, l.label
        )
      ) WHERE rn = 1
    )"""


@register(
    "gr_label_propagation",
    oracle=f"""
    WITH und AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= {TRI_MIN_SUP}
    ),
    pairs AS (
      SELECT pa AS src, pb AS dst FROM und
      UNION ALL
      SELECT pb AS src, pa AS dst FROM und
    ),
    lab0 AS (SELECT DISTINCT src AS node, src AS label FROM pairs),
    {",".join(_lpa_round_sql(i) for i in range(LPA_ITERS))}
    SELECT node AS part_id,
           CAST(label AS BIGINT) AS community,
           CAST(count(*) OVER (PARTITION BY label) AS BIGINT) AS community_size
    FROM lab{LPA_ITERS}
    """,
)
def gr_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community labels after 3 synchronous LPA rounds on the
    support-filtered part co-purchase graph, with deterministic
    (count desc, label asc) tie-breaking; output includes the final
    community sizes.

    Edges carry the same co-occurrence support threshold as the
    triangle counter and two-hop features (>= TRI_MIN_SUP):
    single-co-occurrence edges are sampling noise, and communities
    grown over them are noise too, while the raw edge list is ~6x
    larger and dominates every LPA round's shuffle (measured 8.8 s ->
    the two-hop query's 36.7 -> 5.7 s on the same cut)."""
    und = copurchase_edges(table(spark, sf_dir, "lineitem"), TRI_MIN_SUP)
    pairs = (
        _symmetrize(und, "pa", "pb", "src", "dst")
        # co-partition on the per-round join key once; every round's
        # label join then reuses this layout (same policy as PageRank).
        .repartition(_shuffle_partitions(spark), "dst")
        .persist()
    )
    lab = _lpa_labels(spark, pairs)
    from pyspark.sql import Window as W

    return lab.select(
        F.col("node").alias("part_id"),
        F.col("label").cast("bigint").alias("community"),
        F.count(F.lit(1))
        .over(W.partitionBy("label"))
        .cast("bigint")
        .alias("community_size"),
    )


# --------------------------------------------------------------------------
# Two-hop neighborhood features — the GNN-sampling / graph-feature
# prep primitive: for every node of the co-purchase graph, its degree,
# the total degree mass of its neighbors (the "message" a one-layer
# GraphSAGE mean/sum aggregator consumes), and its distinct two-hop
# reach. All counters are integers, so results are exact under any
# join/shuffle order.
#
# Scale: deg is a node-keyed aggregate joined back onto the edge list
# (the PageRank co-partitioning pattern above); the two-hop reach is
# one edge-edge equi-join on the middle node with fan-out bounded by
# deg(middle). Edges carry the same co-occurrence support threshold as
# the triangle counter (>= TRI_MIN_SUP): the raw co-purchase
# graph's noise edges make sum(deg^2) — the wedge volume — explode
# (measured 36 s vs 0.4 s at sf0.1), and a 2-hop feature over
# single-co-occurrence edges is noise anyway. Remaining hub skew:
# degree cap / AQE skew split. The distinct count keys on (src,
# two-hop target) — the same shuffle the triangle counter uses.
# --------------------------------------------------------------------------
@register(
    "gr_two_hop_features",
    oracle=f"""
    WITH und AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= {TRI_MIN_SUP}
    ),
    pairs AS (
      SELECT pa AS src, pb AS dst FROM und
      UNION ALL
      SELECT pb AS src, pa AS dst FROM und
    ),
    deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
            FROM pairs GROUP BY src),
    nbr AS (
      SELECT e.src AS node, CAST(sum(d.degree) AS BIGINT) AS nbr_degree_sum
      FROM pairs e JOIN deg d ON d.node = e.dst
      GROUP BY e.src
    ),
    hop2 AS (
      SELECT e1.src AS node,
             CAST(count(DISTINCT e2.dst) AS BIGINT) AS two_hop_reach
      FROM pairs e1 JOIN pairs e2
        ON e1.dst = e2.src AND e2.dst <> e1.src
      GROUP BY e1.src
    )
    SELECT d.node AS part_id, d.degree, n.nbr_degree_sum, h.two_hop_reach
    FROM deg d JOIN nbr n ON n.node = d.node JOIN hop2 h ON h.node = d.node
    """,
)
def gr_two_hop_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree, neighbor-degree mass, and distinct two-hop reach per
    node of the support-filtered part co-purchase graph (exact integer
    counters)."""
    und = copurchase_edges(table(spark, sf_dir, "lineitem"), TRI_MIN_SUP)
    pairs = (
        _symmetrize(und, "pa", "pb", "src", "dst")
        .cache()
    )
    deg = pairs.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("degree")
    )
    nbr = (
        pairs.join(deg.withColumnRenamed("node", "dst"), "dst")
        .groupBy(F.col("src").alias("node"))
        .agg(F.sum("degree").cast("bigint").alias("nbr_degree_sum"))
    )
    e1 = pairs.select(F.col("src").alias("u"), F.col("dst").alias("mid"))
    e2 = pairs.select(F.col("src").alias("mid"), F.col("dst").alias("w"))
    hop2 = (
        e1.join(e2, "mid")
        .filter(F.col("w") != F.col("u"))
        .groupBy(F.col("u").alias("node"))
        .agg(F.countDistinct("w").cast("bigint").alias("two_hop_reach"))
    )
    return (
        deg.join(nbr, "node")
        .join(hop2, "node")
        .select(
            F.col("node").alias("part_id"),
            "degree",
            "nbr_degree_sum",
            "two_hop_reach",
        )
    )


# --------------------------------------------------------------------------
# Temporal graph delta: co-purchase edge churn between two eras.
# The graph-maintenance audit — when the edge list is rebuilt from a
# new data window, how much of the graph actually changed? High churn
# invalidates cached communities/ranks; low churn justifies
# incremental updates (the same decision snap_orders_diff drives for
# tables, applied to the derived graph).
#
# Scale: each era's edge set is the same order-bounded basket
# self-join as PageRank's; the comparison is a FULL OUTER equi-join on
# the edge key rolled up to four integer counters — no row-level
# output, no global sort.
# --------------------------------------------------------------------------
GR_ERA_SPLIT = "1998-01-01"


@register(
    "gr_edge_churn",
    oracle=f"""
    WITH era_a AS (
      SELECT DISTINCT li.l_partkey AS pk, li.l_orderkey AS ok
      FROM lineitem li JOIN orders o ON o.o_orderkey = li.l_orderkey
      WHERE CAST(o.o_orderdate AS DATE) < DATE '{GR_ERA_SPLIT}'
    ),
    era_b AS (
      SELECT DISTINCT li.l_partkey AS pk, li.l_orderkey AS ok
      FROM lineitem li JOIN orders o ON o.o_orderkey = li.l_orderkey
      WHERE CAST(o.o_orderdate AS DATE) >= DATE '{GR_ERA_SPLIT}'
    ),
    ea AS (
      SELECT DISTINCT a.pk AS src, b.pk AS dst FROM era_a a
      JOIN era_a b ON a.ok = b.ok AND a.pk < b.pk
    ),
    eb AS (
      SELECT DISTINCT a.pk AS src, b.pk AS dst FROM era_b a
      JOIN era_b b ON a.ok = b.ok AND a.pk < b.pk
    ),
    cmp AS (
      SELECT coalesce(ea.src, eb.src) AS src,
             CASE WHEN ea.src IS NULL THEN 'added'
                  WHEN eb.src IS NULL THEN 'removed'
                  ELSE 'retained' END AS cls
      FROM ea FULL OUTER JOIN eb ON ea.src = eb.src AND ea.dst = eb.dst
    )
    SELECT CAST(sum(CASE WHEN cls = 'retained' THEN 1 ELSE 0 END) AS BIGINT)
               AS retained,
           CAST(sum(CASE WHEN cls = 'added' THEN 1 ELSE 0 END) AS BIGINT)
               AS added,
           CAST(sum(CASE WHEN cls = 'removed' THEN 1 ELSE 0 END) AS BIGINT)
               AS removed,
           round(CAST(sum(CASE WHEN cls <> 'retained' THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS churn_rate
    FROM cmp
    """,
)
def gr_edge_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge churn (added / removed / retained, undirected src<dst keys)
    of the part co-purchase graph across the {GR_ERA_SPLIT} era split."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("od")
    )
    base = li.join(
        orders, li["l_orderkey"] == orders["o_orderkey"]
    ).select("l_orderkey", "l_partkey", "od")

    # ONE era-tagged relation instead of two filtered copies: the
    # self-join keys on (era, orderkey), so both sides shuffle
    # identically (exchange reuse — one scan chain, not four), and the
    # per-(src, dst) era flags come from a groupBy instead of a
    # full-outer join of two separately-built edge sets.
    split = F.lit(GR_ERA_SPLIT).cast("date")
    e = (
        base.select(
            (F.col("od") >= split).cast("int").alias("era"),
            "l_orderkey",
            "l_partkey",
        )
        .distinct()
    )
    a, b = e.alias("a"), e.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.era") == F.col("b.era"))
            & (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.era").alias("era"),
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .distinct()
    )
    flags = edges.groupBy("src", "dst").agg(
        F.max((F.col("era") == 0).cast("int")).alias("in_a"),
        F.max((F.col("era") == 1).cast("int")).alias("in_b"),
    )
    cls = (
        F.when(F.col("in_a") == 0, "added")
        .when(F.col("in_b") == 0, "removed")
        .otherwise("retained")
    )
    return flags.select(cls.alias("cls")).agg(
        F.sum(F.when(F.col("cls") == "retained", 1).otherwise(0))
        .cast("bigint")
        .alias("retained"),
        F.sum(F.when(F.col("cls") == "added", 1).otherwise(0))
        .cast("bigint")
        .alias("added"),
        F.sum(F.when(F.col("cls") == "removed", 1).otherwise(0))
        .cast("bigint")
        .alias("removed"),
        F.round(
            F.sum(F.when(F.col("cls") != "retained", 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("churn_rate"),
    )


# --------------------------------------------------------------------------
# Deterministic negative edge sampling — the training-data counterpart
# of gr_two_hop_features: link-prediction models train on (real edge,
# non-edge) pairs, and the non-edges must be sampled reproducibly for
# the split to be stable across reruns (the repo-wide md5-randomness
# policy, same as the Gumbel/bootstrap/Poisson samplers).
#
# Per source node, NEG_PER_NODE candidate targets are drawn by mapping
# md5(src, j) into the node-id space via a rank lookup (the node list
# is dimension-sized), then known edges and self-loops are removed
# with a LEFT ANTI join against the real edge set. Collisions with
# real edges simply drop — the remaining set is still deterministic.
#
# Scale: candidates are |nodes| x NEG_PER_NODE map-side rows; the
# anti-join keys on (src, dst) — the same shuffle the edge list
# itself uses; the rank lookup broadcasts.
# --------------------------------------------------------------------------
NEG_PER_NODE = 3


@register(
    "gr_negative_edge_samples",
    oracle=f"""
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    nodes AS (
      SELECT src AS node,
             row_number() OVER (ORDER BY src) AS rnk
      FROM (SELECT DISTINCT src FROM pairs)
    ),
    nn AS (SELECT count(*) AS n FROM nodes),
    cand AS (
      SELECT nd.node AS src, j.j,
             1 + ((({"(65536 * (CASE substr(md5(CAST(nd.node AS VARCHAR) || ':' || CAST(j.j AS VARCHAR)), 1, 1) WHEN '0' THEN 0 WHEN '1' THEN 1 WHEN '2' THEN 2 WHEN '3' THEN 3 WHEN '4' THEN 4 WHEN '5' THEN 5 WHEN '6' THEN 6 WHEN '7' THEN 7 WHEN '8' THEN 8 WHEN '9' THEN 9 WHEN 'a' THEN 10 WHEN 'b' THEN 11 WHEN 'c' THEN 12 WHEN 'd' THEN 13 WHEN 'e' THEN 14 WHEN 'f' THEN 15 END))"})
                  + (4096 * (CASE substr(md5(CAST(nd.node AS VARCHAR) || ':' || CAST(j.j AS VARCHAR)), 2, 1) WHEN '0' THEN 0 WHEN '1' THEN 1 WHEN '2' THEN 2 WHEN '3' THEN 3 WHEN '4' THEN 4 WHEN '5' THEN 5 WHEN '6' THEN 6 WHEN '7' THEN 7 WHEN '8' THEN 8 WHEN '9' THEN 9 WHEN 'a' THEN 10 WHEN 'b' THEN 11 WHEN 'c' THEN 12 WHEN 'd' THEN 13 WHEN 'e' THEN 14 WHEN 'f' THEN 15 END))
                  + (256 * (CASE substr(md5(CAST(nd.node AS VARCHAR) || ':' || CAST(j.j AS VARCHAR)), 3, 1) WHEN '0' THEN 0 WHEN '1' THEN 1 WHEN '2' THEN 2 WHEN '3' THEN 3 WHEN '4' THEN 4 WHEN '5' THEN 5 WHEN '6' THEN 6 WHEN '7' THEN 7 WHEN '8' THEN 8 WHEN '9' THEN 9 WHEN 'a' THEN 10 WHEN 'b' THEN 11 WHEN 'c' THEN 12 WHEN 'd' THEN 13 WHEN 'e' THEN 14 WHEN 'f' THEN 15 END))
                  + (16 * (CASE substr(md5(CAST(nd.node AS VARCHAR) || ':' || CAST(j.j AS VARCHAR)), 4, 1) WHEN '0' THEN 0 WHEN '1' THEN 1 WHEN '2' THEN 2 WHEN '3' THEN 3 WHEN '4' THEN 4 WHEN '5' THEN 5 WHEN '6' THEN 6 WHEN '7' THEN 7 WHEN '8' THEN 8 WHEN '9' THEN 9 WHEN 'a' THEN 10 WHEN 'b' THEN 11 WHEN 'c' THEN 12 WHEN 'd' THEN 13 WHEN 'e' THEN 14 WHEN 'f' THEN 15 END))
                  + (CASE substr(md5(CAST(nd.node AS VARCHAR) || ':' || CAST(j.j AS VARCHAR)), 5, 1) WHEN '0' THEN 0 WHEN '1' THEN 1 WHEN '2' THEN 2 WHEN '3' THEN 3 WHEN '4' THEN 4 WHEN '5' THEN 5 WHEN '6' THEN 6 WHEN '7' THEN 7 WHEN '8' THEN 8 WHEN '9' THEN 9 WHEN 'a' THEN 10 WHEN 'b' THEN 11 WHEN 'c' THEN 12 WHEN 'd' THEN 13 WHEN 'e' THEN 14 WHEN 'f' THEN 15 END)) % nn.n) AS pick
      FROM nodes nd
      CROSS JOIN (SELECT unnest(generate_series(0, {NEG_PER_NODE - 1})) AS j) j
      CROSS JOIN nn
    ),
    mapped AS (
      SELECT c.src, c.j, n2.node AS neg_dst
      FROM cand c JOIN nodes n2 ON n2.rnk = c.pick
      WHERE n2.node <> c.src
    )
    SELECT m.src, CAST(m.j AS INTEGER) AS j, m.neg_dst
    FROM mapped m
    LEFT JOIN pairs p ON p.src = m.src AND p.dst = m.neg_dst
    WHERE p.src IS NULL
    """,
)
def gr_negative_edge_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic (md5-keyed) negative-edge samples for
    link-prediction training over the co-purchase graph:
    {NEG_PER_NODE} candidates per node minus real edges and
    self-loops.

    The dense node index 1..n comes from the range-partitioned offset
    ranking (``global_rank``), not a single-partition window
    (VERDICT r3 #3)."""
    li = table(spark, sf_dir, "lineitem")
    pairs = _symmetrize(copurchase_edges(li, 1), "pa", "pb", "src", "dst").cache()
    nodes = global_rank(
        pairs.select("src").distinct(), [F.col("src")], "rnk"
    ).withColumnRenamed("src", "node")
    nn = nodes.agg(F.count(F.lit(1)).alias("n"))
    cand = (
        nodes.crossJoin(F.broadcast(nn))
        .select(
            F.col("node").alias("src"),
            F.explode(F.expr(f"sequence(0, {NEG_PER_NODE - 1})")).alias("j"),
            "n",
        )
        .withColumn(
            "pick",
            1
            + (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("src").cast("string"),
                                F.lit(":"),
                                F.col("j").cast("string"),
                            )
                        ),
                        1,
                        5,
                    ),
                    16,
                    10,
                ).cast("bigint")
                % F.col("n")
            ),
        )
    )
    mapped = (
        cand.join(
            F.broadcast(nodes.select(F.col("rnk").alias("pick"), F.col("node").alias("neg_dst"))),
            "pick",
        )
        .filter(F.col("neg_dst") != F.col("src"))
        .select("src", "j", "neg_dst")
    )
    return mapped.join(
        pairs.select("src", F.col("dst").alias("neg_dst")),
        ["src", "neg_dst"],
        "left_anti",
    ).select("src", F.col("j").cast("int").alias("j"), "neg_dst")


# --------------------------------------------------------------------------
# Personalized PageRank: random walk with restart to a SEED SET —
# "importance relative to these parts" instead of global importance.
# The recommendation / related-items primitive (seed = a user's
# purchased parts; high-PPR nodes are the candidates), and the
# neighborhood-expansion scoring used in graph-based retrieval.
#
# Same exact BIGINT fixed-point policy as the global PageRank above:
# teleport mass goes only to seeds ((15*SCALE) DIV (100*n_seeds)),
# contributions are integer DIV, every superstep one node-keyed
# shuffle; nodes with no incoming mass keep their teleport-only rank
# via a LEFT join from the full node relation (the global variant can
# drop them; a personalized walk must not).
# --------------------------------------------------------------------------
PPR_SEED_MOD = 50  # seeds = parts with part_id % PPR_SEED_MOD == 0


def _ppr_round_sql(i: int) -> str:
    return f"""
    s{i} AS (
      SELECT e.dst, sum(p.pr_fx // p.deg) AS m
      FROM pairs e JOIN ppr{i} p ON p.node = e.src
      GROUP BY e.dst
    ),
    ppr{i + 1} AS (
      SELECT d.src AS node, d.deg,
             CAST((CASE WHEN d.src % {PPR_SEED_MOD} = 0
                        THEN {15 * PR_SCALE} // ({PR_DAMP_DEN} * ns.n)
                        ELSE 0 END)
                  + ({PR_DAMP_NUM} * coalesce(s{i}.m, 0)) // {PR_DAMP_DEN}
                  AS BIGINT) AS pr_fx
      FROM deg d
      LEFT JOIN s{i} ON s{i}.dst = d.src
      CROSS JOIN ns
    )"""


@register(
    "gr_personalized_pagerank",
    oracle=f"""
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    deg AS (SELECT src, count(*) AS deg FROM pairs GROUP BY src),
    ns AS (SELECT count(*) AS n FROM deg WHERE src % {PPR_SEED_MOD} = 0),
    ppr0 AS (
      SELECT d.src AS node, d.deg,
             CAST(CASE WHEN d.src % {PPR_SEED_MOD} = 0
                       THEN {PR_SCALE} // ns.n ELSE 0 END AS BIGINT) AS pr_fx
      FROM deg d CROSS JOIN ns
    ),
    {",".join(_ppr_round_sql(i).strip() for i in range(PR_ITERS))}
    SELECT node AS part_id,
           (node % {PPR_SEED_MOD} = 0) AS is_seed,
           round(pr_fx / {PR_SCALE}.0, 9) AS ppr
    FROM ppr{PR_ITERS}
    WHERE pr_fx > 0
    """,
)
def gr_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{PR_ITERS}-round personalized PageRank with restart to the
    part_id % {PPR_SEED_MOD} == 0 seed set, exact BIGINT fixed-point."""
    li = table(spark, sf_dir, "lineitem")
    pairs = (
        _symmetrize(copurchase_edges(li, 1), "pa", "pb", "src", "dst")
        .repartition(_shuffle_partitions(spark), "src")
        .persist()
    )
    deg = pairs.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).persist()
    n_seeds = deg.filter(F.col("src") % PPR_SEED_MOD == 0).count()
    is_seed = F.col("src") % PPR_SEED_MOD == 0
    pr = deg.select(
        F.col("src").alias("node"),
        "deg",
        F.when(is_seed, F.lit(PR_SCALE // n_seeds))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("pr_fx"),
    )
    base = (15 * PR_SCALE) // (PR_DAMP_DEN * n_seeds)
    for _ in range(PR_ITERS):
        contrib = pairs.join(pr, pairs.src == pr.node).select(
            "dst", F.expr("pr_fx DIV deg").alias("c")
        )
        sums = contrib.groupBy("dst").agg(F.sum("c").alias("m"))
        pr = deg.join(sums, deg.src == sums.dst, "left").select(
            F.col("src").alias("node"),
            "deg",
            F.expr(
                f"CAST((CASE WHEN src % {PPR_SEED_MOD} = 0 THEN {base} ELSE 0 END)"
                f" + ({PR_DAMP_NUM} * coalesce(m, 0)) DIV {PR_DAMP_DEN} AS BIGINT)"
            ).alias("pr_fx"),
        )
    return pr.filter(F.col("pr_fx") > 0).select(
        F.col("node").alias("part_id"),
        (F.col("node") % PPR_SEED_MOD == 0).alias("is_seed"),
        F.round(F.col("pr_fx") / F.lit(float(PR_SCALE)), 9).alias("ppr"),
    )


# --------------------------------------------------------------------------
# Local clustering coefficient: cc(v) = 2*T(v) / (deg(v)*(deg(v)-1))
# over the support-filtered co-purchase graph — completes the graph-
# metric trio (degree/PageRank centrality, triangle counts, and now
# how CLIQUEY each node's neighborhood is; high-cc parts form bundles,
# low-cc high-degree parts are hubs). Triangle participation and
# degree reuse the exact integer machinery of gr_triangle_counts;
# coefficients are one scalar division per node.
# --------------------------------------------------------------------------
@register(
    "gr_clustering_coefficient",
    oracle=f"""
    WITH edges AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a
      JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= {TRI_MIN_SUP}
    ),
    und AS (
      SELECT pa AS src, pb AS dst FROM edges
      UNION ALL
      SELECT pb, pa FROM edges
    ),
    deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
            FROM und GROUP BY src),
    tri AS (
      SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
      FROM edges e1
      JOIN edges e2 ON e1.pb = e2.pa
      JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
    ),
    pernode AS (SELECT unnest([a, b, c]) AS node FROM tri),
    tcount AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
               FROM pernode GROUP BY node)
    SELECT d.node AS part_id, d.degree,
           CAST(coalesce(t.n_triangles, 0) AS BIGINT) AS n_triangles,
           round(CASE WHEN d.degree >= 2
                      THEN 2.0 * coalesce(t.n_triangles, 0)
                           / (d.degree * (d.degree - 1))
                      ELSE 0.0 END, 6) AS clustering_coef
    FROM deg d LEFT JOIN tcount t ON t.node = d.node
    """,
)
def gr_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient over the support-filtered
    co-purchase graph (integer triangle/degree counters, one scalar
    division per node)."""
    edges = (
        copurchase_edges(table(spark, sf_dir, "lineitem"), TRI_MIN_SUP)
        .cache()
    )
    und = _symmetrize(edges, "pa", "pb", "src", "dst")
    deg = und.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("degree")
    )
    e1 = edges.select(F.col("pa").alias("a"), F.col("pb").alias("mid"))
    e2 = edges.select(F.col("pa").alias("mid"), F.col("pb").alias("c"))
    e3 = edges.select(F.col("pa").alias("a"), F.col("pb").alias("c"))
    tri = (
        e1.join(e2, "mid")
        .join(e3, ["a", "c"], "left_semi")
        .select("a", F.col("mid").alias("b"), "c")
    )
    # all three corners from one reference to tri (a union of three
    # selects plans the wedge join three times)
    pernode = tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
    tcount = pernode.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )
    cc = F.when(
        F.col("degree") >= 2,
        2.0 * F.coalesce(F.col("n_triangles"), F.lit(0))
        / (F.col("degree") * (F.col("degree") - 1)),
    ).otherwise(0.0)
    return deg.join(tcount, "node", "left").select(
        F.col("node").alias("part_id"),
        "degree",
        F.coalesce("n_triangles", F.lit(0)).cast("bigint").alias("n_triangles"),
        F.round(cc, 6).alias("clustering_coef"),
    )


# --------------------------------------------------------------------------
# Degree distribution: log2-binned histogram of co-purchase degrees —
# the skew profile that decides the graph-execution strategy (a heavy
# power-law tail => degree-orientation for triangles, hub salting /
# AQE for joins; a flat profile => plain hash joins suffice). The
# quantitative backing for the scale notes on every graph operator
# above. Integer bin arithmetic (floor(log2) via bit length of the
# degree, engine-neutral through the bin() string trick used by the
# HLL rank).
# --------------------------------------------------------------------------
@register(
    "gr_degree_distribution",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS degree
            FROM pairs GROUP BY src),
    binned AS (
      SELECT length(bin(degree)) - 1 AS bin_log2, degree FROM deg
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
                   CAST(sum(degree) AS BIGINT) AS total_degree
            FROM deg)
    SELECT CAST(bin_log2 AS INTEGER) AS bin_log2,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(degree) AS BIGINT) AS min_degree,
           CAST(max(degree) AS BIGINT) AS max_degree,
           CAST(sum(degree) AS BIGINT) AS degree_mass,
           round(CAST(sum(degree) AS DOUBLE) / t.total_degree, 6)
               AS degree_mass_share
    FROM binned CROSS JOIN tot t
    GROUP BY bin_log2, t.total_degree
    """,
)
def gr_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-binned degree histogram of the co-purchase graph with
    per-bin degree-mass share (the join-strategy skew profile)."""
    li = table(spark, sf_dir, "lineitem")
    deg = (
        _symmetrize(copurchase_edges(li, 1), "pa", "pb", "src", "dst")
        .groupBy("src")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
        # the degree relation feeds BOTH the histogram and the totals
        # row; without a persist the co-purchase self-join (the
        # expensive subtree) executes twice.
        .persist()
    )
    binned = deg.select(
        (F.length(F.bin("degree")) - 1).alias("bin_log2"), "degree"
    )
    tot = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes_t"),
        F.sum("degree").cast("bigint").alias("total_degree"),
    )
    return (
        binned.crossJoin(F.broadcast(tot))
        .groupBy("bin_log2", "total_degree")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.min("degree").cast("bigint").alias("min_degree"),
            F.max("degree").cast("bigint").alias("max_degree"),
            F.sum("degree").cast("bigint").alias("degree_mass"),
        )
        .select(
            F.col("bin_log2").cast("int").alias("bin_log2"),
            "n_nodes",
            "min_degree",
            "max_degree",
            "degree_mass",
            F.round(
                F.col("degree_mass").cast("double") / F.col("total_degree"), 6
            ).alias("degree_mass_share"),
        )
    )


# --------------------------------------------------------------------------
# Common-neighbor link prediction — the classic structural scorer for
# recommendation / graph-completion candidates: for every NON-edge
# (a, b) of the support-filtered co-purchase graph, how many neighbors
# do a and b share, and what is the neighborhood Jaccard? The positive
# counterpart of gr_negative_edge_samples (that op mines negatives for
# training; this one scores candidate positives for serving).
#
# Shape: one wedge join on the middle node over the undirected
# adjacency (same support-pruned edge relation as the triangle
# counter, same hub-skew mitigations apply), minus real edges via a
# left anti join, plus a broadcast degree lookup. Never all-pairs —
# only pairs at distance 2 ever materialize.
# --------------------------------------------------------------------------
LP_TOPK = 30


@register(
    "gr_common_neighbor_links",
    oracle=f"""
    WITH eo AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a
      JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= {TRI_MIN_SUP}
    ),
    adj AS (
      SELECT pa AS u, pb AS v FROM eo UNION ALL SELECT pb, pa FROM eo
    ),
    deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY u),
    cand AS (
      SELECT e1.u AS a, e2.v AS b, CAST(count(*) AS BIGINT) AS cn
      FROM adj e1 JOIN adj e2 ON e1.v = e2.u
      WHERE e1.u < e2.v
      GROUP BY e1.u, e2.v
    ),
    nonedge AS (
      SELECT c.a, c.b, c.cn FROM cand c
      LEFT JOIN eo ON eo.pa = c.a AND eo.pb = c.b
      WHERE eo.pa IS NULL
    ),
    scored AS (
      SELECT n.a, n.b, n.cn, da.d AS deg_a, db.d AS deg_b,
             CAST(n.cn AS DOUBLE) / (da.d + db.d - n.cn) AS jac
      FROM nonedge n
      JOIN deg da ON da.node = n.a
      JOIN deg db ON db.node = n.b
    ),
    ranked AS (
      SELECT a, b, cn, deg_a, deg_b, jac,
             row_number() OVER (ORDER BY cn DESC, a, b) AS rnk
      FROM scored
    )
    SELECT CAST(rnk AS INTEGER) AS rnk, a AS part_a, b AS part_b,
           cn AS common_neighbors, deg_a, deg_b,
           round(jac, 6) AS jaccard
    FROM ranked WHERE rnk <= {LP_TOPK}
    """,
)
def gr_common_neighbor_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{LP_TOPK} non-adjacent part pairs by common-neighbor count
    (with neighborhood Jaccard) over the support-filtered co-purchase
    graph."""
    from ..functions.ranking import take_ordered_ranked

    eo = (
        copurchase_edges(table(spark, sf_dir, "lineitem"), TRI_MIN_SUP)
        # read 4x below (two wedge sides, the anti join, the degrees)
        .cache()
    )
    adj = _symmetrize(eo, "pa", "pb", "u", "v")
    deg = adj.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    e1 = adj.select(F.col("u").alias("a"), F.col("v").alias("m"))
    e2 = adj.select(F.col("u").alias("m"), F.col("v").alias("b"))
    cand = (
        e1.join(e2, "m")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cn"))
    )
    nonedge = cand.join(
        eo.select(F.col("pa").alias("a"), F.col("pb").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("deg_b"))
    scored = (
        nonedge.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .select(
            "a",
            "b",
            "cn",
            "deg_a",
            "deg_b",
            (
                F.col("cn").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("cn"))
            ).alias("jac"),
        )
    )
    ranked = take_ordered_ranked(
        scored, [F.col("cn").desc(), F.col("a"), F.col("b")], LP_TOPK, "rnk"
    )
    return ranked.select(
        F.col("rnk").cast("int").alias("rnk"),
        F.col("a").alias("part_a"),
        F.col("b").alias("part_b"),
        F.col("cn").alias("common_neighbors"),
        "deg_a",
        "deg_b",
        F.round("jac", 6).alias("jaccard"),
    )


# --------------------------------------------------------------------------
# Neighborhood Jaccard similarity of ADJACENT part pairs: for every
# support-filtered co-purchase edge (a, b),
#
#     J(a, b) = |N(a) ∩ N(b)| / (deg(a) + deg(b) - |N(a) ∩ N(b)|)
#
# — the edge-strength score used for graph sparsification (keep only
# structurally-embedded edges) and as the similarity in Jarvis-Patrick
# clustering. Complements gr_common_neighbor_links, which scores
# NON-adjacent pairs for link prediction; here the candidate set is
# the edge list itself, so output size is |E|, not wedge-bounded.
#
# Shape: undirected adjacency = both directions of the cached edges
# (``_symmetrize``); common-neighbor counts come from the middle-node wedge
# equi-join restricted to x < y, then LEFT-joined back onto the edge
# list (edges with zero shared neighbors keep J = 0); degrees are a
# node-keyed count broadcast onto both endpoints. Every join is a hash
# equi-join on node ids; all values exact integers until the final
# division.
# --------------------------------------------------------------------------
@register(
    "gr_neighbor_jaccard",
    oracle=f"""
    WITH edges AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a
      JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= {TRI_MIN_SUP}
    ),
    adj AS (
      SELECT pa AS node, pb AS nbr FROM edges
      UNION ALL
      SELECT pb AS node, pa AS nbr FROM edges
    ),
    deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY node),
    wedge AS (
      SELECT x.nbr AS pa, y.nbr AS pb, CAST(count(*) AS BIGINT) AS common
      FROM adj x JOIN adj y ON x.node = y.node AND x.nbr < y.nbr
      GROUP BY 1, 2
    )
    SELECT e.pa, e.pb, da.deg AS deg_a, db.deg AS deg_b,
           COALESCE(w.common, 0) AS common,
           round(COALESCE(w.common, 0) * 1.0
                 / (da.deg + db.deg - COALESCE(w.common, 0)), 6) AS jaccard
    FROM edges e
    LEFT JOIN wedge w ON w.pa = e.pa AND w.pb = e.pb
    JOIN deg da ON da.node = e.pa
    JOIN deg db ON db.node = e.pb
    """,
)
def gr_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-edge neighborhood Jaccard over the co-purchase graph."""
    edges = (
        copurchase_edges(table(spark, sf_dir, "lineitem"), TRI_MIN_SUP)
        # edge relation feeds the adjacency (degrees, both wedge
        # sides) and the final spine: cache so the self-join runs once
        .cache()
    )
    adj = _symmetrize(edges, "pa", "pb", "node", "nbr")
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    x, y = adj.alias("x"), adj.alias("y")
    wedge = (
        x.join(
            y,
            (F.col("x.node") == F.col("y.node"))
            & (F.col("x.nbr") < F.col("y.nbr")),
        )
        .groupBy(F.col("x.nbr").alias("wa"), F.col("y.nbr").alias("wb"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("common"))
    )
    da = deg.select(F.col("node").alias("pa"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("pb"), F.col("deg").alias("deg_b"))
    out = (
        edges.join(
            wedge,
            (F.col("pa") == F.col("wa")) & (F.col("pb") == F.col("wb")),
            "left",
        )
        .join(da, "pa")
        .join(db, "pb")
    )
    common = F.coalesce(F.col("common"), F.lit(0)).cast("bigint")
    return out.select(
        "pa",
        "pb",
        "deg_a",
        "deg_b",
        common.alias("common"),
        F.round(
            common * 1.0 / (F.col("deg_a") + F.col("deg_b") - common), 6
        ).alias("jaccard"),
    )


# --------------------------------------------------------------------------
# k-core decomposition (fixed synchronous peel rounds): repeatedly
# delete nodes of degree < K; what survives R rounds is the
# (approximate, exact-at-fixed-point) K-core — the densely-embedded
# backbone used to seed community detection and to prune low-signal
# nodes before expensive graph features. Same unrolled-superstep
# policy as LPA/PageRank above: fixed rounds + integer degrees keep
# the result bit-identical across engines and execution orders, and
# oracle-checkable as unrolled CTEs.
#
# Scale shape per round: one node-keyed degree aggregate + two
# semi-joins of the adjacency against the survivor set — all hash
# equi-joins on node ids, shuffle bytes bounded by the (shrinking)
# adjacency. The adjacency is cached between rounds.
# --------------------------------------------------------------------------
KCORE_K = 3
KCORE_ROUNDS = 4


def _kcore_oracle() -> str:
    sql = f"""
    WITH edges AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a
      JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= {TRI_MIN_SUP}
    ),
    adj0 AS (
      SELECT pa AS node, pb AS nbr FROM edges
      UNION ALL
      SELECT pb AS node, pa AS nbr FROM edges
    )"""
    for r in range(KCORE_ROUNDS):
        sql += f""",
    keep{r} AS (
      SELECT node FROM adj{r} GROUP BY node
      HAVING count(*) >= {KCORE_K}
    ),
    adj{r + 1} AS (
      SELECT a.node, a.nbr FROM adj{r} a
      JOIN keep{r} k1 ON a.node = k1.node
      JOIN keep{r} k2 ON a.nbr = k2.node
    )"""
    sql += f"""
    SELECT node AS part_id, CAST(count(*) AS BIGINT) AS core_degree
    FROM adj{KCORE_ROUNDS} GROUP BY node
    """
    return sql


@register("gr_kcore_decomposition", oracle=_kcore_oracle())
def gr_kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{KCORE_K}-core of the co-purchase graph after {KCORE_ROUNDS}
    synchronous peel rounds: surviving parts with their in-core
    degrees."""
    edges = copurchase_edges(table(spark, sf_dir, "lineitem"), TRI_MIN_SUP)
    adj = _symmetrize(edges, "pa", "pb", "node", "nbr").cache()
    for _ in range(KCORE_ROUNDS):
        keep = (
            adj.groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= KCORE_K)
            .select("node")
        )
        adj = (
            adj.join(keep, "node", "left_semi")
            .join(keep.withColumnRenamed("node", "nbr"), "nbr", "left_semi")
            .cache()
        )
    return adj.groupBy(F.col("node").alias("part_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("core_degree")
    )


# --------------------------------------------------------------------------
# HITS hubs & authorities on the supplier -> part supply graph — the
# canonical bipartite ranking (Kleinberg 1999): a supplier is a good
# hub if it supplies high-authority parts, a part is a high authority
# if good hubs supply it. On a genuinely directed/bipartite relation
# (unlike the symmetric co-purchase graph, where hubs == authorities),
# so the two sides carry real information.
#
# Exactness policy: HITS needs per-round normalization (scores
# otherwise grow without bound), and the usual L2 norm is a float
# kill-switch for cross-engine equality. Instead each round rescales
# by the MAXIMUM score — an exact integer — via (score * SCALE) DIV
# max: integer sums, integer max, integer division, all associative /
# engine-independent, same family as the PageRank fixed-point above.
# max-normalized HITS converges to the same ranking as L2-normalized
# HITS (normalization choice rescales, never reorders).
#
# Scale shape: edges = DISTINCT (suppkey, partkey) projected off
# lineitem (linear scan), cached and co-partitioned once; each
# half-round is one edge-keyed join + one grouped integer sum + one
# 1-row max folded back as a broadcast cross join. Top-k per side is
# TakeOrderedAndProject.
# --------------------------------------------------------------------------
HITS_ITERS = 2
HITS_SCALE = 10**6
HITS_TOPK = 20


def _hits_round_sql(i: int) -> str:
    """One authority+hub update with exact max-rescaling."""
    return f"""auth{i + 1}_raw AS (
      SELECT e.part, CAST(sum(h.score) AS BIGINT) AS s
      FROM edges e JOIN hub{i} h ON h.supp = e.supp GROUP BY e.part
    ),
    auth{i + 1} AS (
      SELECT part, CAST((s * {HITS_SCALE}) // (SELECT max(s) FROM auth{i + 1}_raw)
                   AS BIGINT) AS score
      FROM auth{i + 1}_raw
    ),
    hub{i + 1}_raw AS (
      SELECT e.supp, CAST(sum(a.score) AS BIGINT) AS s
      FROM edges e JOIN auth{i + 1} a ON a.part = e.part GROUP BY e.supp
    ),
    hub{i + 1} AS (
      SELECT supp, CAST((s * {HITS_SCALE}) // (SELECT max(s) FROM hub{i + 1}_raw)
                   AS BIGINT) AS score
      FROM hub{i + 1}_raw
    )"""


@register(
    "gr_hits_supply_graph",
    oracle=f"""
    WITH edges AS (
      SELECT DISTINCT l_suppkey AS supp, l_partkey AS part FROM lineitem
    ),
    hub0 AS (
      SELECT DISTINCT supp, CAST({HITS_SCALE} AS BIGINT) AS score FROM edges
    ),
    {",".join(_hits_round_sql(i) for i in range(HITS_ITERS))},
    tops AS (
      SELECT 'hub' AS side, supp AS node_id, score,
             row_number() OVER (ORDER BY score DESC, supp) AS rnk
      FROM hub{HITS_ITERS}
      UNION ALL
      SELECT 'authority', part, score,
             row_number() OVER (ORDER BY score DESC, part) AS rnk
      FROM auth{HITS_ITERS}
    )
    SELECT side, CAST(rnk AS INTEGER) AS rnk, node_id,
           round(score / {HITS_SCALE}.0, 6) AS score
    FROM tops WHERE rnk <= {HITS_TOPK}
    """,
)
def gr_hits_supply_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{HITS_TOPK} hubs (suppliers) and authorities (parts) after
    {HITS_ITERS} exact max-rescaled HITS rounds on the supply graph."""
    from ..functions.ranking import take_ordered_ranked

    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("supp"), F.col("l_partkey").alias("part")
    )
    edges = (
        li.distinct()
        .repartition(_shuffle_partitions(spark), "supp")
        .persist()
    )
    hub = edges.select("supp").distinct().select(
        "supp", F.lit(HITS_SCALE).cast("bigint").alias("score")
    )

    def _rescale(raw: DataFrame, key: str) -> DataFrame:
        mx = raw.agg(F.max("s").alias("mx"))
        return raw.crossJoin(F.broadcast(mx)).select(
            key, F.expr(f"CAST((s * {HITS_SCALE}) DIV mx AS BIGINT)").alias("score")
        )

    auth = None
    for _ in range(HITS_ITERS):
        araw = (
            edges.join(hub, "supp")
            .groupBy("part")
            .agg(F.sum("score").cast("bigint").alias("s"))
        )
        auth = _rescale(araw, "part").persist()
        hraw = (
            edges.join(auth, "part")
            .groupBy("supp")
            .agg(F.sum("score").cast("bigint").alias("s"))
        )
        hub = _rescale(hraw, "supp").persist()

    top_h = take_ordered_ranked(
        hub, [F.col("score").desc(), F.col("supp")], HITS_TOPK, "rnk"
    ).select(
        F.lit("hub").alias("side"),
        F.col("rnk").cast("int").alias("rnk"),
        F.col("supp").alias("node_id"),
        "score",
    )
    top_a = take_ordered_ranked(
        auth, [F.col("score").desc(), F.col("part")], HITS_TOPK, "rnk"
    ).select(
        F.lit("authority").alias("side"),
        F.col("rnk").cast("int").alias("rnk"),
        F.col("part").alias("node_id"),
        "score",
    )
    return top_h.unionByName(top_a).select(
        "side",
        "rnk",
        "node_id",
        F.round(F.col("score") / float(HITS_SCALE), 6).alias("score"),
    )


# --------------------------------------------------------------------------
# Degree-oriented triangle TOTAL — the production-scale variant the
# id-oriented per-node counter above defers to in its docstring. Every
# undirected edge points at its higher-(degree, id) endpoint, so a
# node's out-degree in the oriented graph is O(sqrt(|E|)) and the wedge
# join's fan-out is bounded by that instead of by raw hub degree —
# THE standard mitigation for hub-quadratic wedge explosion on
# power-law graphs (Cohen 2009 / GraphX's triangleCount).
#
# The oracle counts the SAME triangles with the plain a < b < c
# formulation: the global total is orientation-invariant, so the hash
# match verifies the optimized plan preserves semantics — exactly the
# kind of plan-vs-answer separation the engine exists for. Degrees and
# the (degree, id) tie-break are integers; no float enters the DAG.
# --------------------------------------------------------------------------
@register(
    "gr_triangle_total_degree_oriented",
    oracle=f"""
    WITH edges AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a
      JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= {TRI_MIN_SUP}
    ),
    tri AS (
      SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
      FROM edges e1
      JOIN edges e2 ON e1.pb = e2.pa
      JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
    )
    SELECT CAST(count(*) AS BIGINT) AS n_triangles FROM tri
    """,
)
def gr_triangle_total_degree_oriented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle count via degree-oriented wedges (fan-out
    bounded by O(sqrt(|E|)) per node); hash-equal to the plain
    id-oriented count because the total is orientation-invariant."""
    und = copurchase_edges(table(spark, sf_dir, "lineitem"), TRI_MIN_SUP)
    sym = _symmetrize(und, "pa", "pb", "u", "v")
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    # orient each undirected edge at its higher-(degree, id) endpoint
    du = deg.select(F.col("u").alias("pa"), F.col("d").alias("da"))
    dv = deg.select(F.col("u").alias("pb"), F.col("d").alias("db"))
    towards_pb = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("pa") < F.col("pb"))
    )
    oriented = (
        und.join(F.broadcast(du), "pa")
        .join(F.broadcast(dv), "pb")
        .select(
            F.when(towards_pb, F.col("pa")).otherwise(F.col("pb")).alias("src"),
            F.when(towards_pb, F.col("pb")).otherwise(F.col("pa")).alias("dst"),
        )
        .cache()
    )
    # wedges from the ORIENTED graph (fan-out O(sqrt|E|) per src) close
    # against an oriented edge in either direction-consistent form:
    # for src s with out-neighbors x < y, triangle iff edge x->y or
    # y->x exists — both endpoints outrank s, so the closing edge is
    # oriented between them and one lookup on the canonical (min,max)
    # key suffices.
    w1 = oriented.select(F.col("src").alias("s"), F.col("dst").alias("x"))
    w2 = oriented.select(F.col("src").alias("s"), F.col("dst").alias("y"))
    wedges = w1.join(w2, "s").filter(F.col("x") < F.col("y"))
    closing = oriented.select(
        F.least("src", "dst").alias("x"), F.greatest("src", "dst").alias("y")
    ).distinct()
    tri = wedges.join(closing, ["x", "y"])
    return tri.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))


# --------------------------------------------------------------------------
# Community conductance — the quality eval for the LPA communities
# (the graph-side analogue of the k-means silhouette): for each
# community, the fraction of its edge volume that leaves it,
# phi(C) = cut(C) / min(vol(C), 2|E| - vol(C)). Low conductance =
# a real community (dense inside, few escaping edges); phi near 1 =
# an arbitrary label. Evaluating the clustering rather than assuming
# it is what makes the community op usable in a curation pipeline.
#
# Exactness/scale: labels come from the same unrolled synchronous LPA
# (integer tie-breaks); volume and cut are integer counts from ONE
# pass over the directed edge relation joined to the label relation on
# each endpoint (two node-keyed hash joins, no new graph pass); the
# rollup is |communities|-sized.
# --------------------------------------------------------------------------
@register(
    "gr_community_conductance",
    oracle=f"""
    WITH und AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= {TRI_MIN_SUP}
    ),
    pairs AS (
      SELECT pa AS src, pb AS dst FROM und
      UNION ALL
      SELECT pb AS src, pa AS dst FROM und
    ),
    lab0 AS (SELECT DISTINCT src AS node, src AS label FROM pairs),
    {",".join(_lpa_round_sql(i) for i in range(LPA_ITERS))},
    lab AS (SELECT node, label FROM lab{LPA_ITERS}),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM pairs),
    tagged AS (
      SELECT ls.label AS community,
             CASE WHEN ls.label <> ld.label THEN 1 ELSE 0 END AS is_cut
      FROM pairs e
      JOIN lab ls ON ls.node = e.src
      JOIN lab ld ON ld.node = e.dst
    ),
    percomm AS (
      SELECT community,
             CAST(count(*) AS BIGINT) AS volume,
             CAST(sum(is_cut) AS BIGINT) AS cut_edges
      FROM tagged GROUP BY community
    ),
    sizes AS (
      SELECT label AS community, CAST(count(*) AS BIGINT) AS n_nodes
      FROM lab GROUP BY label
    )
    SELECT p.community, s.n_nodes, p.volume, p.cut_edges,
           CASE WHEN least(p.volume, t.m2 - p.volume) > 0
                THEN round(p.cut_edges * 1.0
                           / least(p.volume, t.m2 - p.volume), 6)
           END AS conductance
    FROM percomm p
    JOIN sizes s USING (community)
    CROSS JOIN tot t
    """,
)
def gr_community_conductance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-LPA-community volume, escaping-edge count, and conductance
    phi = cut / min(vol, 2E - vol)."""
    und = copurchase_edges(table(spark, sf_dir, "lineitem"), TRI_MIN_SUP)
    pairs = (
        _symmetrize(und, "pa", "pb", "src", "dst")
        .repartition(_shuffle_partitions(spark), "dst")
        .persist()
    )
    lab = _lpa_labels(spark, pairs).persist()
    m2 = pairs.count()  # materializes both caches; 2|E| as an exact literal
    ls = lab.select(F.col("node").alias("src"), F.col("label").alias("community"))
    ld = lab.select(F.col("node").alias("dst"), F.col("label").alias("dlab"))
    tagged = pairs.join(ls, "src").join(ld, "dst").select(
        "community", (F.col("community") != F.col("dlab")).cast("int").alias("is_cut")
    )
    percomm = tagged.groupBy("community").agg(
        F.count(F.lit(1)).cast("bigint").alias("volume"),
        F.sum("is_cut").cast("bigint").alias("cut_edges"),
    )
    sizes = lab.groupBy(F.col("label").alias("community")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )
    denom = F.least(F.col("volume"), F.lit(m2) - F.col("volume"))
    return percomm.join(F.broadcast(sizes), "community").select(
        "community",
        "n_nodes",
        "volume",
        "cut_edges",
        F.when(denom > 0, F.round(F.col("cut_edges") * 1.0 / denom, 6)).alias(
            "conductance"
        ),
    )


# --------------------------------------------------------------------------
# Partition modularity — the single-number companion to the per-
# community conductance above: Q = sum_c [ intra_c/m2 - (vol_c/m2)^2 ]
# over directed edge counts (m2 = 2|E|). Q near 0 = the partition is
# no better than random wiring; the standard community-quality scalar
# (Newman 2006) reported next to any clustering.
#
# Exactness: intra/vol/m2 are exact integers; each community's term is
# two correctly-rounded scalar ops, quantized to 1e12 fixed point
# BEFORE the |communities|-sized sum (the uniform policy — even a
# hundreds-sized float sum is order-dependent).
# --------------------------------------------------------------------------
_MOD_FX = 10**12


@register(
    "gr_partition_modularity",
    oracle=f"""
    WITH und AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= {TRI_MIN_SUP}
    ),
    pairs AS (
      SELECT pa AS src, pb AS dst FROM und
      UNION ALL
      SELECT pb AS src, pa AS dst FROM und
    ),
    lab0 AS (SELECT DISTINCT src AS node, src AS label FROM pairs),
    {",".join(_lpa_round_sql(i) for i in range(LPA_ITERS))},
    lab AS (SELECT node, label FROM lab{LPA_ITERS}),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM pairs),
    percomm AS (
      SELECT ls.label AS community,
             CAST(count(*) AS BIGINT) AS volume,
             CAST(sum(CASE WHEN ls.label = ld.label THEN 1 ELSE 0 END)
                  AS BIGINT) AS intra
      FROM pairs e
      JOIN lab ls ON ls.node = e.src
      JOIN lab ld ON ld.node = e.dst
      GROUP BY ls.label
    ),
    terms AS (
      SELECT CAST(floor((intra * 1.0 / t.m2
                         - (volume * 1.0 / t.m2) * (volume * 1.0 / t.m2))
                        * {_MOD_FX} + 0.5) AS BIGINT) AS qfx
      FROM percomm CROSS JOIN tot t
    )
    SELECT CAST((SELECT count(*) FROM percomm) AS BIGINT) AS n_communities,
           CAST((SELECT m2 FROM tot) AS BIGINT) AS m2,
           round(sum(qfx) / {_MOD_FX}.0, 6) AS modularity
    FROM terms
    """,
)
def gr_partition_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q of the LPA partition (exact integer counts,
    fixed-point term sum)."""
    und = copurchase_edges(table(spark, sf_dir, "lineitem"), TRI_MIN_SUP)
    pairs = (
        _symmetrize(und, "pa", "pb", "src", "dst")
        .repartition(_shuffle_partitions(spark), "dst")
        .persist()
    )
    lab = _lpa_labels(spark, pairs).persist()
    m2 = pairs.count()
    ls = lab.select(F.col("node").alias("src"), F.col("label").alias("community"))
    ld = lab.select(F.col("node").alias("dst"), F.col("label").alias("dlab"))
    percomm = (
        pairs.join(ls, "src")
        .join(ld, "dst")
        .groupBy("community")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("volume"),
            F.sum((F.col("community") == F.col("dlab")).cast("int"))
            .cast("bigint")
            .alias("intra"),
        )
    )
    term = F.floor(
        (
            F.col("intra") * 1.0 / m2
            - (F.col("volume") * 1.0 / m2) * (F.col("volume") * 1.0 / m2)
        )
        * _MOD_FX
        + 0.5
    ).cast("bigint")
    return percomm.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_communities"),
        F.lit(m2).cast("bigint").alias("m2"),
        F.round(F.sum(term) / float(_MOD_FX), 6).alias("modularity"),
    )


# --------------------------------------------------------------------------
# Degree assortativity — Pearson correlation of endpoint degrees over
# the directed edge relation (Newman 2002): positive = hubs attach to
# hubs (the join-skew nightmare topology: hot keys join hot keys),
# negative = hub-and-spoke. The one-number diagnostic that tells a
# planner whether degree-based salting will pay off.
#
# Exactness: degrees are integers, so ALL five correlation moments
# (sum x, sum y, sum xy, sum x^2, sum y^2) are exact BIGINT sums over
# the edge relation — no float enters until the closed-form r at the
# end (a handful of correctly-rounded scalar ops on exact integers).
# Scale: one degree aggregate joined onto the edges (node-keyed hash
# joins), one 1-row moment reduce.
# --------------------------------------------------------------------------
@register(
    "gr_degree_assortativity",
    oracle=f"""
    WITH und AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= {TRI_MIN_SUP}
    ),
    pairs AS (
      SELECT pa AS src, pb AS dst FROM und
      UNION ALL
      SELECT pb AS src, pa AS dst FROM und
    ),
    deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d
            FROM pairs GROUP BY src),
    ed AS (
      SELECT ds.d AS x, dd.d AS y
      FROM pairs e
      JOIN deg ds ON ds.node = e.src
      JOIN deg dd ON dd.node = e.dst
    ),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS m,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM ed
    )
    SELECT m AS n_directed_edges,
           CASE WHEN (m * sxx - sx * sx) > 0 AND (m * syy - sy * sy) > 0
                THEN round((m * sxy - sx * sy)
                           / sqrt((m * sxx - sx * sx) * 1.0)
                           / sqrt((m * syy - sy * sy) * 1.0), 6)
           END AS assortativity
    FROM mom
    """,
)
def gr_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson degree-degree correlation over directed co-purchase
    edges (exact integer moments, closed-form r)."""
    und = copurchase_edges(table(spark, sf_dir, "lineitem"), TRI_MIN_SUP)
    pairs = (
        _symmetrize(und, "pa", "pb", "src", "dst")
        .persist()
    )
    deg = pairs.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    ds = deg.select(F.col("node").alias("src"), F.col("d").alias("x"))
    dd = deg.select(F.col("node").alias("dst"), F.col("d").alias("y"))
    mom = (
        pairs.join(ds, "src")
        .join(dd, "dst")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("m"),
            F.sum("x").cast("bigint").alias("sx"),
            F.sum("y").cast("bigint").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
            F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        )
    )
    vx = F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")
    return mom.select(
        F.col("m").alias("n_directed_edges"),
        F.when(
            (vx > 0) & (vy > 0),
            F.round(num / F.sqrt(vx * 1.0) / F.sqrt(vy * 1.0), 6),
        ).alias("assortativity"),
    )


# --------------------------------------------------------------------------
# Katz centrality over the part co-purchase graph — attenuated
# path-count influence (k = sum over path lengths of alpha^len), the
# centrality that, unlike PageRank, rewards being reachable by MANY
# short paths rather than by random-walk mass. The attenuation alpha
# derives FROM THE DATA as the exact rational 1/(dmax+1) in ppm
# (guaranteeing convergence, since alpha < 1/lambda_max <= 1/dmax),
# so both engines run the identical integer recursion.
#
# Exactness & scale: KATZ_ROUNDS unrolled supersteps of
# k_i = 1e6 + alpha_ppm * sum_{j in N(i)} k_j DIV 1e6 over the
# src-co-partitioned cached edge list — BIGINT-exact, one node-keyed
# shuffle per round (the PageRank plan shape).
# --------------------------------------------------------------------------
KATZ_ROUNDS = 6


def _katz_round_sql(i: int) -> str:
    return f"""k{i} AS (
      SELECT e.dst AS node,
             CAST(1000000 + (a.alpha_ppm * sum(p.k_fx)) // 1000000
                  AS BIGINT) AS k_fx
      FROM pairs e JOIN k{i - 1} p ON p.node = e.src CROSS JOIN alpha a
      GROUP BY e.dst, a.alpha_ppm
    )"""


@register(
    "gr_katz_centrality",
    oracle=f"""
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM pairs GROUP BY src),
    alpha AS (
      SELECT CAST(1000000 // (max(deg) + 1) AS BIGINT) AS alpha_ppm FROM deg
    ),
    k0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS k_fx FROM deg),
    {",".join(_katz_round_sql(i) for i in range(1, KATZ_ROUNDS + 1))}
    SELECT k.node AS part_id, d.deg AS degree,
           round(k.k_fx / 1000000.0, 6) AS katz
    FROM k{KATZ_ROUNDS} k JOIN deg d ON d.src = k.node
    """,
)
def gr_katz_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality ({KATZ_ROUNDS} attenuated supersteps, alpha =
    1/(dmax+1) exact ppm) over the part co-purchase graph."""
    li = table(spark, sf_dir, "lineitem")
    pairs = (
        _symmetrize(copurchase_edges(li, 1), "pa", "pb", "src", "dst")
        .repartition(_shuffle_partitions(spark), "src")
        .persist()
    )
    deg = pairs.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    ).persist()
    # dmax folds in as a literal via one dimension-sized action (the
    # PageRank node-count pattern) — removes a per-round broadcast.
    dmax = deg.agg(F.max("deg")).collect()[0][0]
    alpha_ppm = 1000000 // (int(dmax) + 1)
    k = deg.select(
        F.col("src").alias("node"),
        F.lit(1000000).cast("bigint").alias("k_fx"),
    )
    for _ in range(KATZ_ROUNDS):
        k = (
            pairs.join(k, pairs.src == k.node)
            .groupBy("dst")
            .agg(F.sum("k_fx").alias("s"))
            .select(
                F.col("dst").alias("node"),
                (
                    F.lit(1000000)
                    + F.expr(f"{alpha_ppm} * s DIV 1000000")
                )
                .cast("bigint")
                .alias("k_fx"),
            )
        )
    return k.join(deg, k.node == deg.src).select(
        F.col("node").alias("part_id"),
        F.col("deg").alias("degree"),
        F.round(F.col("k_fx") / 1000000.0, 6).alias("katz"),
    )


# --------------------------------------------------------------------------
# Item-item collaborative filtering — top-5 most-similar parts per
# sampled part by cosine over binary order-membership vectors
# (c_ij / sqrt(d_i * d_j)): the classic Amazon-style recommender
# primitive, computed purely from co-occurrence counts.
#
# Scale shape: pair generation is per-order (order sizes are bounded
# ~7 lineitems, so fan-out is O(k^2) per order, linear overall); the
# deterministic target sample (partkey % 50 == 0) pushes INTO the
# pair join's left side so only sampled parts fan out; ranking is a
# per-src window (partitioned — never global). Exact integer counts;
# cosine is one fixed double expression.
# --------------------------------------------------------------------------
CF_SAMPLE_MOD = 50
CF_TOP_K = 5


@register(
    "sim_item_item_cf",
    oracle=f"""
    WITH po AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    d AS (SELECT p, CAST(count(*) AS BIGINT) AS d FROM po GROUP BY p),
    co AS (
      SELECT a.p AS src, b.p AS dst, CAST(count(*) AS BIGINT) AS c
      FROM po a JOIN po b ON a.o = b.o AND a.p <> b.p
      WHERE a.p % {CF_SAMPLE_MOD} = 0
      GROUP BY a.p, b.p
    ),
    scored AS (
      SELECT co.src, co.dst, co.c, ds.d AS d_src, dd.d AS d_dst,
             co.c / sqrt(ds.d * 1.0 * dd.d) AS cosine
      FROM co JOIN d ds ON ds.p = co.src JOIN d dd ON dd.p = co.dst
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY src ORDER BY cosine DESC, dst) AS rn
      FROM scored
    )
    SELECT src AS part_id, dst AS similar_part, c AS n_co_orders,
           d_src, d_dst, round(cosine, 6) AS cosine,
           CAST(rn AS BIGINT) AS rank
    FROM ranked WHERE rn <= {CF_TOP_K}
    """,
)
def sim_item_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{CF_TOP_K} similar parts per sampled part by co-occurrence
    cosine — item-item collaborative filtering."""
    li = table(spark, sf_dir, "lineitem")
    # po feeds the degree count and BOTH join sides; d joins on src AND
    # dst (different keys, no exchange reuse) — persist both so the
    # lineitem scan + distinct runs once and the degree agg once.
    po = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct().persist()
    d = po.groupBy("p").agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    ).persist()
    a = po.filter(F.col("p") % CF_SAMPLE_MOD == 0).alias("a")
    b = po.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.o") == F.col("b.o")) & (F.col("a.p") != F.col("b.p")),
        )
        .groupBy(F.col("a.p").alias("src"), F.col("b.p").alias("dst"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    ds, dd = d.alias("ds"), d.alias("dd")
    scored = (
        co.join(ds, F.col("src") == F.col("ds.p"))
        .join(dd, F.col("dst") == F.col("dd.p"))
        .select(
            "src",
            "dst",
            "c",
            F.col("ds.d").alias("d_src"),
            F.col("dd.d").alias("d_dst"),
            (
                F.col("c")
                / F.sqrt(F.col("ds.d") * 1.0 * F.col("dd.d"))
            ).alias("cosine"),
        )
    )
    rn = F.row_number().over(
        W.partitionBy("src").orderBy(F.col("cosine").desc(), F.col("dst"))
    )
    return (
        scored.withColumn("rn", rn)
        .filter(F.col("rn") <= CF_TOP_K)
        .select(
            F.col("src").alias("part_id"),
            F.col("dst").alias("similar_part"),
            F.col("c").alias("n_co_orders"),
            "d_src",
            "d_dst",
            F.round("cosine", 6).alias("cosine"),
            F.col("rn").cast("bigint").alias("rank"),
        )
    )


# --------------------------------------------------------------------------
# Rich-club coefficient — phi(k) = E_k / (N_k * (N_k - 1)) over the
# nodes of degree > k, for thresholds derived FROM the degree
# distribution (k = dmax/8, dmax/4, dmax/2 by integer division — a
# fixed grid degenerates at some SF because co-purchase density grows
# with the corpus; the data-derived grid differentiates at every
# scale and is exact-integer identical cross-engine): do the hubs
# preferentially connect to EACH OTHER (supply-chain core) or are
# they hubs of disjoint neighborhoods? The structural complement of
# degree assortativity.
#
# Scale shape: edges join the degree relation twice (src and dst);
# all three thresholds are conditional sums over ONE edge pass.
# Exact integer counts; phi is one fixed ratio. (Directed-pair E_k
# counts both orientations, so phi uses N*(N-1) without the 2.)
# --------------------------------------------------------------------------
RICH_DIVS = (8, 4, 2)


@register(
    "gr_rich_club_coefficient",
    oracle=f"""
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
            FROM pairs GROUP BY src),
    ks AS (
      SELECT {", ".join(
          f"CAST(max(deg) // {d} AS BIGINT) AS k_{d}" for d in RICH_DIVS)}
      FROM deg
    ),
    ek AS (
      SELECT {", ".join(
          f"CAST(sum(CASE WHEN ds.deg > ks.k_{d} AND dd.deg > ks.k_{d} "
          f"THEN 1 ELSE 0 END) AS BIGINT) AS e_{d}" for d in RICH_DIVS)}
      FROM pairs e
      JOIN deg ds ON ds.node = e.src
      JOIN deg dd ON dd.node = e.dst
      CROSS JOIN ks
    ),
    nk AS (
      SELECT {", ".join(
          f"CAST(sum(CASE WHEN deg > ks.k_{d} THEN 1 ELSE 0 END) AS BIGINT)"
          f" AS n_{d}" for d in RICH_DIVS)}
      FROM deg CROSS JOIN ks
    )
    {" UNION ALL ".join(
        f"SELECT k_{d} AS k_threshold, n_{d} AS n_rich,"
        f" e_{d} // 2 AS e_rich,"
        f" CASE WHEN n_{d} > 1 THEN round(e_{d} * 1.0"
        f" / (n_{d} * (n_{d} - 1)), 6) END AS phi"
        f" FROM ek, nk, ks" for d in RICH_DIVS)}
    """,
)
def gr_rich_club_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club phi at degree thresholds dmax/{RICH_DIVS} over the
    part co-purchase graph."""
    li = table(spark, sf_dir, "lineitem")
    pairs = _symmetrize(copurchase_edges(li, 1), "pa", "pb", "src", "dst").persist()
    deg = pairs.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    ).persist()
    ks = deg.agg(
        *[
            F.expr(f"max(deg) DIV {d}").cast("bigint").alias(f"k_{d}")
            for d in RICH_DIVS
        ]
    )
    ds = deg.select(F.col("src").alias("s_node"), F.col("deg").alias("s_deg"))
    dd = deg.select(F.col("src").alias("d_node"), F.col("deg").alias("d_deg"))
    ek = (
        pairs.join(ds, pairs.src == ds.s_node)
        .join(dd, pairs.dst == dd.d_node)
        .crossJoin(F.broadcast(ks))
        .agg(
            *[
                F.sum(
                    (
                        (F.col("s_deg") > F.col(f"k_{d}"))
                        & (F.col("d_deg") > F.col(f"k_{d}"))
                    ).cast("int")
                )
                .cast("bigint")
                .alias(f"e_{d}")
                for d in RICH_DIVS
            ]
        )
    )
    nk = deg.crossJoin(F.broadcast(ks)).agg(
        *[
            F.sum((F.col("deg") > F.col(f"k_{d}")).cast("int"))
            .cast("bigint")
            .alias(f"n_{d}")
            for d in RICH_DIVS
        ]
    )
    j = ek.crossJoin(F.broadcast(nk)).crossJoin(F.broadcast(ks))
    # One row per threshold via explode over the SINGLE one-row `j` —
    # a per-threshold union of selects would re-execute the edge-join
    # aggregate (the expensive subtree) once per RICH_DIVS branch.
    branches = [
        F.struct(
            F.col(f"k_{d}").alias("k_threshold"),
            F.col(f"n_{d}").alias("n_rich"),
            F.expr(f"e_{d} DIV 2").cast("bigint").alias("e_rich"),
            F.when(
                F.col(f"n_{d}") > 1,
                F.round(
                    F.col(f"e_{d}")
                    * 1.0
                    / (F.col(f"n_{d}") * (F.col(f"n_{d}") - 1)),
                    6,
                ),
            ).alias("phi"),
        )
        for d in RICH_DIVS
    ]
    return j.select(F.explode(F.array(*branches)).alias("r")).select("r.*")


# --------------------------------------------------------------------------
# Link prediction over the co-purchase graph: Resource Allocation and
# Adamic-Adar scores for the top candidate NON-edges (pairs with >= 1
# common neighbor that are not themselves edges) — the standard
# "which products will be bought together next" ranking.
#
#   RA(a,b) = sum over z in N(a) iff N(b) of 1 / deg(z)
#   AA(a,b) = sum over z                  of 1 / ln(deg(z))
#
# Exactness: RA steps are exact integer micro-units (1e6 DIV deg); AA
# quantizes ln(deg) to BIGINT micro-units first (the KM/Markov ln
# policy — floor(ln*1e6 + .5) is identical cross-engine) and then
# takes exact nano-unit floor divisions, so both scores are pure
# BIGINT sums: shuffle-order-proof, hash-stable.
#
# Scale shape: wedge enumeration over the support-thresholded edge
# list (same bounded adjacency the triangle/jaccard family uses — the
# TRI_MIN_SUP cut keeps degree tails bounded), one broadcast deg join,
# one anti-join against edges, and a global top-K with a total order.
# Never all-pairs: only pairs sharing a neighbor are materialized.
# --------------------------------------------------------------------------
LINKPRED_TOP_K = 50


@register(
    "gr_link_prediction_scores",
    oracle=f"""
    WITH edges AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a
      JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= {TRI_MIN_SUP}
    ),
    adj AS (
      SELECT pa AS node, pb AS nbr FROM edges
      UNION ALL
      SELECT pb AS node, pa AS nbr FROM edges
    ),
    deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY node),
    wedge AS (
      SELECT x.nbr AS pa, y.nbr AS pb, x.node AS z
      FROM adj x JOIN adj y ON x.node = y.node AND x.nbr < y.nbr
    ),
    scored AS (
      SELECT w.pa, w.pb,
             CAST(count(*) AS BIGINT) AS common,
             CAST(sum(1000000 // d.deg) AS BIGINT) AS ra_micro,
             CAST(sum(1000000000000000 //
                      CAST(floor(ln(d.deg) * 1000000 + 0.5) AS BIGINT))
                  AS BIGINT) AS aa_nano
      FROM wedge w JOIN deg d ON d.node = w.z
      GROUP BY w.pa, w.pb
    ),
    nonedge AS (
      SELECT s.* FROM scored s
      LEFT JOIN edges e ON e.pa = s.pa AND e.pb = s.pb
      WHERE e.pa IS NULL
    )
    SELECT pa, pb, common, ra_micro, aa_nano
    FROM nonedge
    ORDER BY ra_micro DESC, pa, pb
    LIMIT {LINKPRED_TOP_K}
    """,
)
def gr_link_prediction_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{LINKPRED_TOP_K} non-edge candidates by Resource-Allocation
    score (Adamic-Adar carried alongside), in exact integer units."""
    edges = (
        copurchase_edges(table(spark, sf_dir, "lineitem"), TRI_MIN_SUP)
        # feeds the adjacency (degrees, both wedge sides) and the final
        # anti-join: one self-join
        .cache()
    )
    adj = _symmetrize(edges, "pa", "pb", "node", "nbr")
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    x, y = adj.alias("x"), adj.alias("y")
    wedge = x.join(
        y,
        (F.col("x.node") == F.col("y.node")) & (F.col("x.nbr") < F.col("y.nbr")),
    ).select(
        F.col("x.nbr").alias("wa"),
        F.col("y.nbr").alias("wb"),
        F.col("x.node").alias("z"),
    )
    lnq = F.floor(F.log(F.col("deg").cast("double")) * 1000000 + 0.5).cast(
        "bigint"
    )
    scored = (
        wedge.join(
            F.broadcast(deg.select(F.col("node").alias("z"), "deg", lnq.alias("lnq"))),
            "z",
        )
        .groupBy(F.col("wa").alias("pa"), F.col("wb").alias("pb"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("common"),
            F.sum(F.expr("CAST(1000000 AS BIGINT) DIV deg"))
            .cast("bigint")
            .alias("ra_micro"),
            F.sum(F.expr("CAST(1000000000000000 AS BIGINT) DIV lnq"))
            .cast("bigint")
            .alias("aa_nano"),
        )
    )
    nonedge = scored.join(edges, ["pa", "pb"], "left_anti")
    return (
        nonedge.orderBy(F.desc("ra_micro"), "pa", "pb")
        .limit(LINKPRED_TOP_K)
        .select("pa", "pb", "common", "ra_micro", "aa_nano")
    )


# --------------------------------------------------------------------------
# Greedy maximal independent set (Luby's algorithm with deterministic
# md5 priorities) over the co-purchase graph — the classic symmetry-
# breaking primitive behind distributed scheduling, conflict-free
# sampling, and graph-coloring seeds.
#
# Rule per round, for every undecided node v:
#   - if any neighbor is already IN the set  -> v becomes EXCLUDED
#   - else if no undecided neighbor has a smaller (priority, node)
#     key                                    -> v joins the set (IN)
#   - else                                   -> still undecided
# With a fixed priority this converges to the unique greedy-by-priority
# MIS; md5 priorities make the expected round count O(log n). Both
# engines unroll the SAME {MIS_ROUNDS} rounds (unrolled CTE chain in
# DuckDB, persisted DataFrame loop in Spark), so the output — including
# the round each node decided — is hash-identical by construction, and
# a pytest property asserts independence + maximality + convergence.
#
# Scale shape: each round is one adjacency join + groupBy (Pregel
# superstep) over the persisted TRI_MIN_SUP-bounded edge list; each
# round reads the previous one once, so the plan is a chain of
# MIS_ROUNDS supersteps that runs as one lazy query.
# --------------------------------------------------------------------------
MIS_ROUNDS = 8


def _mis_oracle() -> str:
    rounds = []
    prev = "r0"
    for k in range(1, MIS_ROUNDS + 1):
        rounds.append(f"""
    r{k} AS (
      SELECT s.node, s.prio,
             CASE WHEN s.status <> 0 THEN s.status
                  WHEN coalesce(max(CASE WHEN t.status = 1
                                         THEN 1 ELSE 0 END), 0) = 1 THEN 2
                  WHEN coalesce(max(CASE WHEN t.status = 0
                                          AND (t.prio < s.prio OR
                                               (t.prio = s.prio AND
                                                t.node < s.node))
                                         THEN 1 ELSE 0 END), 0) = 0 THEN 1
                  ELSE 0 END AS status
      FROM {prev} s
      LEFT JOIN adj a ON a.node = s.node
      LEFT JOIN {prev} t ON t.node = a.nbr
      GROUP BY s.node, s.prio, s.status
    )""")
        prev = f"r{k}"
    return f"""
    WITH edges AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a
      JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= {TRI_MIN_SUP}
    ),
    adj AS (
      SELECT pa AS node, pb AS nbr FROM edges
      UNION ALL
      SELECT pb AS node, pa AS nbr FROM edges
    ),
    nodes AS (SELECT DISTINCT node FROM adj),
    r0 AS (
      SELECT node, md5(CAST(node AS VARCHAR)) AS prio, 0 AS status
      FROM nodes
    ),
    {",".join(rounds)}
    SELECT node, CAST(status AS INTEGER) AS status
    FROM {prev}
    """


@register("gr_greedy_mis", oracle=_mis_oracle())
def gr_greedy_mis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic greedy MIS (Luby rounds, md5 priorities) over the
    co-purchase graph; status 1 = in set, 2 = excluded, 0 = undecided
    after {MIS_ROUNDS} rounds (pytest asserts full convergence)."""
    edges = copurchase_edges(table(spark, sf_dir, "lineitem"), TRI_MIN_SUP)
    # Every node is also its own neighbor, so one join per round brings
    # a node's own status and its neighbors' into one group, and each
    # round reads the previous state once: the plan grows one join per
    # round, with no lineage cut. Priorities are md5(node), recomputed
    # where compared rather than carried in the state.
    pairs = (("pa", "pb"), ("pb", "pa"), ("pa", "pa"), ("pb", "pb"))
    closed = (
        edges.select(
            F.explode(
                F.array(
                    *(F.struct(F.col(x).alias("node"), F.col(y).alias("nbr")) for x, y in pairs)
                )
            ).alias("_e")
        )
        .select("_e.*")
        .distinct()
        .persist()
    )
    prio = F.md5(F.col("node").cast("string"))
    t_prio = F.md5(F.col("nbr").cast("string"))
    other = F.col("nbr") != F.col("node")
    state = closed.select("node").distinct().select("node", F.lit(0).alias("status"))
    for _ in range(MIS_ROUNDS):
        t = state.select(F.col("node").alias("nbr"), F.col("status").alias("t_status"))
        agg = (
            closed.join(t, "nbr")
            .groupBy("node")
            .agg(
                F.max(F.when(~other, F.col("t_status"))).alias("status"),
                F.max(F.when(other & (F.col("t_status") == 1), 1).otherwise(0)).alias(
                    "any_in"
                ),
                F.max(
                    F.when(
                        other
                        & (F.col("t_status") == 0)
                        & (
                            (t_prio < prio)
                            | ((t_prio == prio) & (F.col("nbr") < F.col("node")))
                        ),
                        1,
                    ).otherwise(0)
                ).alias("smaller_undecided"),
            )
        )
        state = agg.select(
            "node",
            F.when(F.col("status") != 0, F.col("status"))
            .when(F.col("any_in") == 1, F.lit(2))
            .when(F.col("smaller_undecided") == 0, F.lit(1))
            .otherwise(F.lit(0))
            .alias("status"),
        )
    return state.select("node", F.col("status").cast("int").alias("status"))


# --------------------------------------------------------------------------
# Freeman degree centralization — the one-number "is this network a
# star or a mesh" summary: C = sum(dmax - d_i) / ((n-1)(n-2)), 1 for a
# perfect star, 0 for a regular graph. Computed as an exact integer
# rational (numerator and denominator BIGINT) over the thresholded
# co-purchase adjacency; reuses the degree reduction every gr_ query
# shares. Dimension-sized output.
# --------------------------------------------------------------------------
@register(
    "gr_degree_centralization",
    oracle=f"""
    WITH edges AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a
      JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= {TRI_MIN_SUP}
    ),
    adj AS (
      SELECT pa AS node, pb AS nbr FROM edges
      UNION ALL
      SELECT pb AS node, pa AS nbr FROM edges
    ),
    deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY node),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(max(d) AS BIGINT) AS dmax,
             CAST(sum(d) AS BIGINT) AS dsum
      FROM deg
    )
    SELECT n, dmax, dsum,
           n * dmax - dsum AS centralization_num,
           (n - 1) * (n - 2) AS centralization_den,
           round((n * dmax - dsum) * 1.0 / ((n - 1) * (n - 2)), 6)
               AS centralization
    FROM agg
    """,
)
def gr_degree_centralization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freeman degree centralization of the co-purchase graph as an
    exact integer rational plus rounded display value."""
    edges = copurchase_edges(table(spark, sf_dir, "lineitem"), TRI_MIN_SUP)
    # both endpoints from ONE reference to the support join (a
    # flip-union would execute it twice; same rule as _symmetrize).
    adj = edges.select(
        F.explode(F.array(F.col("pa"), F.col("pb"))).alias("node")
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    agg = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.max("d").cast("bigint").alias("dmax"),
        F.sum("d").cast("bigint").alias("dsum"),
    )
    return agg.select(
        "n",
        "dmax",
        "dsum",
        (F.col("n") * F.col("dmax") - F.col("dsum"))
        .cast("bigint")
        .alias("centralization_num"),
        ((F.col("n") - 1) * (F.col("n") - 2))
        .cast("bigint")
        .alias("centralization_den"),
        F.round(
            (F.col("n") * F.col("dmax") - F.col("dsum"))
            * 1.0
            / ((F.col("n") - 1) * (F.col("n") - 2)),
            6,
        ).alias("centralization"),
    )
