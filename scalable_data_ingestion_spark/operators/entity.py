"""Entity resolution end-to-end: fuzzy match -> components -> entities.

Composes the registered building blocks into the full ER pipeline a
master-data system runs: candidate generation + verification
(``fz_party_name_matches`` — deletion-neighborhood blocking, exact
levenshtein verify), transitive closure over the match graph
(``dedup.min_label_components``, the fixpoint loop
``dd_neardup_components`` runs), and entity assignment with a canonical
representative per cluster. Every supplier and customer lands in
exactly one entity; unmatched parties are singleton entities.

Scale notes:
- Nodes are integer-encoded (supplier 2k, customer 2k+1) so labels
  stay BIGINT and min-label is exact integer arithmetic.
- Each propagation round is one node-keyed shuffle join + aggregate;
  labels only decrease, so an unchanged label-sum certifies the
  fixpoint (no driver-side graph state).
- The match graph is far sparser than the party registry, so rounds
  run on the edge relation, not the full registry; the registry joins
  back once at the end for singleton assignment.
- Fixture caveat: the synthetic zero-padded numeric names are
  pathologically self-similar (lev<=2 chains almost everything), so at
  sf0.1 the match graph is degenerate-dense (~600k pairs) and the
  component diameter grows with the key range — a worst case real
  name registries don't exhibit. The operator logic (blocked match ->
  fixpoint closure -> singleton-preserving assignment) is unchanged by
  it; the fixpoint guard raises rather than return non-minimal labels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import register
from ..plans.stats import fz_party_name_matches
from .dedup import min_label_components


_FZ_PAIRS_SQL = """
      SELECT s_suppkey * 2 AS a, c_custkey * 2 + 1 AS b
      FROM supplier JOIN customer
        ON levenshtein(replace(s_name, 'Supplier#', ''),
                       replace(c_name, 'Customer#', '')) <= 2
"""


@register(
    "er_party_entities",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_FZ_PAIRS_SQL}),
    parties AS (
      SELECT s_suppkey * 2 AS node, 'supplier' AS party_type,
             s_suppkey AS party_key FROM supplier
      UNION ALL
      SELECT c_custkey * 2 + 1, 'customer', c_custkey FROM customer
    ),
    edges AS (
      SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs
    ),
    walk(node, lab) AS (
      SELECT node, node FROM parties
      UNION
      SELECT e.b, w.lab FROM walk w JOIN edges e ON e.a = w.node
      WHERE w.lab < e.b
    ),
    comp AS (SELECT node, min(lab) AS entity_id FROM walk GROUP BY node)
    SELECT p.party_type, p.party_key, c.entity_id,
           CAST(count(*) OVER (PARTITION BY c.entity_id) AS BIGINT)
             AS entity_size
    FROM parties p JOIN comp c USING (node)
    """,
)
def er_party_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolve suppliers + customers into entities via fuzzy matching.

    Match pairs come from the registered deletion-neighborhood fuzzy
    matcher; min-label propagation closes transitive chains
    (supplier~customerA~supplierB become ONE entity); the full party
    registry joins back so unmatched parties keep singleton entities.
    """
    supp = table(spark, sf_dir, "supplier").select(
        (F.col("s_suppkey") * 2).alias("node"),
        F.lit("supplier").alias("party_type"),
        F.col("s_suppkey").alias("party_key"),
    )
    cust = table(spark, sf_dir, "customer").select(
        (F.col("c_custkey") * 2 + 1).alias("node"),
        F.lit("customer").alias("party_type"),
        F.col("c_custkey").alias("party_key"),
    )
    parties = supp.unionByName(cust)
    pairs = fz_party_name_matches(spark, sf_dir).select(
        (F.col("s_suppkey") * 2).alias("a"), (F.col("c_custkey") * 2 + 1).alias("b")
    )
    labels = min_label_components(pairs)
    size_w = W.partitionBy("entity_id")
    return (
        parties.join(F.broadcast(labels), "node", "left")
        .select(
            "party_type",
            "party_key",
            # unmatched parties keep their own node id = singleton entity
            F.coalesce("lab", F.col("node")).alias("entity_id"),
        )
        .withColumn("entity_size", F.count(F.lit(1)).over(size_w).cast("bigint"))
    )


# --------------------------------------------------------------------------
# ER on a REALISTICALLY perturbed registry (VERDICT r3 item #6).
#
# er_party_entities above runs on TPC-H's zero-padded numeric names —
# pathologically self-similar, so its sf0.1 bench cost measures the
# fixture, not the operator. This variant builds the fixture a real
# master-data system sees: word-based names (p_name — five dictionary
# words) plus deterministic single-character-deletion typo duplicates
# for every third part (edit distance 1, the dominant real-world typo
# class; position keyed on the part key so both engines corrupt
# identically).
#
# Pipeline: FastSS-1 candidate generation (each name's deletion-1
# neighborhood, |name|+1 variants/row, exact for lev<=1) ->
# variant-keyed equi-join (never a cross join) -> exact levenshtein
# verify -> min-label transitive closure over the match graph only ->
# registry join-back for singleton entities.
#
# Scale: the variant relation is |registry| x avg_len rows — linear,
# map-generated, shuffled once on the variant string; candidate volume
# is sum of per-variant block sizes (real-name vocabularies keep
# blocks tiny); the closure loop touches matched nodes only.
# --------------------------------------------------------------------------
# Registry name = p_name + a 6-hex-char registration code derived from
# the key: the synthetic p_name vocabulary has only ~64 distinct values
# (thousands of exact-duplicate blocks — the same fixture pathology the
# verdict flagged for er_party_entities), so the code suffix makes
# names realistically near-unique while staying bit-identical across
# engines (md5 in both).
_DIRTY_REG_SQL = """
      SELECT p_partkey * 2 AS reg_id,
             p_name || ' ' || substr(md5(CAST(p_partkey AS VARCHAR)), 1, 6)
               AS name
      FROM part
      UNION ALL
      SELECT p_partkey * 2 + 1, nm FROM (
        SELECT p_partkey,
               p_name || ' ' || substr(md5(CAST(p_partkey AS VARCHAR)), 1, 6)
                 AS full_name
        FROM part WHERE p_partkey % 3 = 0
      ), LATERAL (
        SELECT substr(full_name, 1,
                      CAST(p_partkey % length(full_name) AS INTEGER))
               || substr(full_name,
                         CAST(p_partkey % length(full_name) AS INTEGER) + 2)
               AS nm
      )
"""


@register(
    "er_dirty_registry_entities",
    oracle=f"""
    WITH RECURSIVE reg AS ({_DIRTY_REG_SQL}),
    vars AS (
      SELECT reg_id, name,
             substr(name, 1, i - 1) || substr(name, i + 1) AS v
      FROM (SELECT reg_id, name,
                   unnest(generate_series(1, length(name))) AS i
            FROM reg)
      UNION ALL
      SELECT reg_id, name, name FROM reg
    ),
    cand AS (
      SELECT DISTINCT a.reg_id AS a, b.reg_id AS b,
                      a.name AS na, b.name AS nb
      FROM vars a JOIN vars b ON a.v = b.v AND a.reg_id < b.reg_id
    ),
    pairs AS (SELECT a, b FROM cand WHERE levenshtein(na, nb) <= 1),
    edges AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
    walk(node, lab) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, w.lab FROM walk w JOIN edges e ON e.a = w.node
      WHERE w.lab < e.b
    ),
    comp AS (SELECT node, min(lab) AS entity_id FROM walk GROUP BY node)
    SELECT r.reg_id, coalesce(c.entity_id, r.reg_id) AS entity_id,
           CAST(count(*) OVER (PARTITION BY coalesce(c.entity_id, r.reg_id))
                AS BIGINT) AS entity_size
    FROM reg r LEFT JOIN comp c ON c.node = r.reg_id
    """,
)
def er_dirty_registry_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over the realistically-typo'd part-name
    registry: FastSS-1 blocking + levenshtein<=1 verify + min-label
    closure + singleton-preserving assignment."""
    part = table(spark, sf_dir, "part").select(
        "p_partkey",
        F.concat(
            F.col("p_name"),
            F.lit(" "),
            F.substring(F.md5(F.col("p_partkey").cast("string")), 1, 6),
        ).alias("full_name"),
    )
    clean = part.select(
        (F.col("p_partkey") * 2).alias("reg_id"),
        F.col("full_name").alias("name"),
    )
    dirty = part.filter(F.col("p_partkey") % 3 == 0).select(
        (F.col("p_partkey") * 2 + 1).alias("reg_id"),
        F.concat(
            F.expr(
                "substr(full_name, 1, CAST(p_partkey % length(full_name) AS INT))"
            ),
            F.expr(
                "substr(full_name, CAST(p_partkey % length(full_name) AS INT) + 2)"
            ),
        ).alias("name"),
    )
    reg = clean.unionByName(dirty)
    # FastSS-1 neighborhood: the name itself plus every single-deletion
    # variant — exact candidate cover for levenshtein <= 1.
    deletions = reg.select(
        "reg_id",
        "name",
        F.explode(F.expr("sequence(1, length(name))")).alias("i"),
    ).select(
        "reg_id",
        "name",
        F.concat(
            F.expr("substr(name, 1, i - 1)"), F.expr("substr(name, i + 1)")
        ).alias("v"),
    )
    variants = deletions.unionByName(
        reg.select("reg_id", "name", F.col("name").alias("v"))
    )
    # Narrow candidate relation: dedup on the (a, b) INT pair only —
    # the name strings would triple the dedup shuffle width — then
    # broadcast the registry back twice for the levenshtein verify.
    thin = variants.select("reg_id", "v")
    a, b = thin.alias("a"), thin.alias("b")
    cand = (
        a.join(b, "v")
        .filter(F.col("a.reg_id") < F.col("b.reg_id"))
        .select(F.col("a.reg_id").alias("a"), F.col("b.reg_id").alias("b"))
        .distinct()
    )
    names_a = reg.select(F.col("reg_id").alias("a"), F.col("name").alias("na"))
    names_b = reg.select(F.col("reg_id").alias("b"), F.col("name").alias("nb"))
    pairs = (
        cand.join(F.broadcast(names_a), "a")
        .join(F.broadcast(names_b), "b")
        .filter(F.levenshtein("na", "nb") <= 1)
        .select("a", "b")
    )
    labels = min_label_components(pairs)
    size_w = W.partitionBy("entity_id")
    return (
        reg.join(F.broadcast(labels), reg.reg_id == labels.node, "left")
        .select(
            "reg_id",
            F.coalesce("lab", F.col("reg_id")).alias("entity_id"),
        )
        .withColumn("entity_size", F.count(F.lit(1)).over(size_w).cast("bigint"))
    )
