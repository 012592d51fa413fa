"""Feature-store style training-matrix construction over the event log.

The supervised-learning data-prep shape: pick a cutoff time C, compute
per-entity features STRICTLY BEFORE C (trailing activity windows,
recency), and a label STRICTLY AFTER C (did the user return within the
horizon) — the leakage rule the point-in-time join
(operators/scd.py pit_orders_with_priority_version) enforces for
dimension attributes, applied here to aggregate features.

The cutoff is DATA-DERIVED (max event date minus the label horizon) so
the operator is a pure function of the table, reproducible across
engines; a production run passes C explicitly.

Exactness: every feature is an integer count or an integer day
difference; the label is a boolean conditional max. One user-keyed
groupBy computes features AND label in a single pass (conditional
aggregation over ts ranges) — no self-join of the event log, no second
scan.

Scale (100 TB log): one shuffle on user_id with map-side partial
aggregation; the cutoff is a broadcast one-row aggregate. Trailing
windows are CASE predicates inside the same aggregation, so adding
features adds columns, not passes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import register
from ..session import local_frame

FEAT_LABEL_HORIZON_DAYS = 7
FEAT_SHORT_WINDOW_DAYS = 7
FEAT_LONG_WINDOW_DAYS = 30


@register(
    "feat_user_activity_matrix",
    oracle=f"""
    WITH cut AS (
      SELECT max(CAST(ts AS DATE)) - INTERVAL {FEAT_LABEL_HORIZON_DAYS} DAY
                 AS c
      FROM events
    ),
    feats AS (
      SELECT user_id,
             CAST(sum(CASE WHEN CAST(ts AS DATE) <= c
                            AND CAST(ts AS DATE) > c - INTERVAL {FEAT_SHORT_WINDOW_DAYS} DAY
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_events_7d,
             CAST(sum(CASE WHEN CAST(ts AS DATE) <= c
                            AND CAST(ts AS DATE) > c - INTERVAL {FEAT_LONG_WINDOW_DAYS} DAY
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_events_30d,
             CAST(sum(CASE WHEN event_type = 'purchase' AND CAST(ts AS DATE) <= c
                            AND CAST(ts AS DATE) > c - INTERVAL {FEAT_LONG_WINDOW_DAYS} DAY
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases_30d,
             CAST(date_diff('day',
                            max(CASE WHEN CAST(ts AS DATE) <= c
                                     THEN CAST(ts AS DATE) END),
                            max(c)) AS BIGINT) AS days_since_last,
             CAST(max(CASE WHEN CAST(ts AS DATE) > c THEN 1 ELSE 0 END)
                  AS INTEGER) AS label_active_next_7d
      FROM events CROSS JOIN cut
      GROUP BY user_id
    )
    SELECT * FROM feats WHERE days_since_last IS NOT NULL
    """,
)
def feat_user_activity_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user leakage-free training matrix at cutoff C = max event
    date - {FEAT_LABEL_HORIZON_DAYS}d: trailing activity features
    before C, return label after C. Users with no pre-cutoff activity
    are excluded (no features to learn from)."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("d"), "event_type"
    )
    cut = ev.agg(
        F.date_sub(F.max("d"), FEAT_LABEL_HORIZON_DAYS).alias("c")
    )
    base = ev.crossJoin(F.broadcast(cut))
    before = F.col("d") <= F.col("c")
    in_short = before & (
        F.col("d") > F.date_sub(F.col("c"), FEAT_SHORT_WINDOW_DAYS)
    )
    in_long = before & (
        F.col("d") > F.date_sub(F.col("c"), FEAT_LONG_WINDOW_DAYS)
    )
    feats = base.groupBy("user_id").agg(
        F.sum(F.when(in_short, 1).otherwise(0)).cast("bigint").alias("n_events_7d"),
        F.sum(F.when(in_long, 1).otherwise(0)).cast("bigint").alias("n_events_30d"),
        F.sum(F.when(in_long & (F.col("event_type") == "purchase"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_purchases_30d"),
        F.datediff(F.max("c"), F.max(F.when(before, F.col("d"))))
        .cast("bigint")
        .alias("days_since_last"),
        F.max(F.when(F.col("d") > F.col("c"), 1).otherwise(0))
        .cast("int")
        .alias("label_active_next_7d"),
    )
    return feats.filter(F.col("days_since_last").isNotNull())


# --------------------------------------------------------------------------
# Weight-of-evidence binning — the credit-scoring / feature-selection
# primitive: decile-bin a numeric feature (order value), compute each
# bin's WOE = ln(event share / non-event share) against a binary label
# (order contains a returned line), and the feature's total
# information value (IV). The standard monotonic-risk encoding step
# before any scorecard/GBM feature freeze.
#
# Scale: the decile assignment is ``global_ntile`` (range-partitioned
# offset ranking — no single-partition ntile window); the label join
# keys on o_orderkey (the same shuffle any order-grain feature pays);
# everything after is a 10-row relation. Laplace +0.5 smoothing keeps
# WOE finite on pure bins.
# --------------------------------------------------------------------------
WOE_BINS = 10


@register(
    "feat_order_value_woe",
    oracle=f"""
    WITH lab AS (
      SELECT o_orderkey, o_totalprice,
             CAST(max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS INTEGER) AS is_returned
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      GROUP BY o_orderkey, o_totalprice
    ),
    binned AS (
      SELECT is_returned,
             ntile({WOE_BINS}) OVER (ORDER BY o_totalprice, o_orderkey) AS bin
      FROM lab
    ),
    cells AS (
      SELECT bin,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(is_returned) AS BIGINT) AS n_event,
             CAST(sum(1 - is_returned) AS BIGINT) AS n_nonevent
      FROM binned GROUP BY bin
    ),
    tot AS (
      SELECT CAST(sum(n_event) AS BIGINT) AS t_event,
             CAST(sum(n_nonevent) AS BIGINT) AS t_nonevent
      FROM cells
    ),
    scored AS (
      SELECT c.bin, c.n_orders, c.n_event, c.n_nonevent,
             ln(((c.n_event + 0.5) / (t.t_event + 0.5 * {WOE_BINS}))
                / ((c.n_nonevent + 0.5) / (t.t_nonevent + 0.5 * {WOE_BINS})))
               AS woe_raw,
             ((c.n_event + 0.5) / (t.t_event + 0.5 * {WOE_BINS})
              - (c.n_nonevent + 0.5) / (t.t_nonevent + 0.5 * {WOE_BINS}))
               AS share_diff
      FROM cells c CROSS JOIN tot t
    )
    SELECT CAST(bin AS INTEGER) AS bin, n_orders, n_event, n_nonevent,
           round(woe_raw, 6) AS woe,
           round(share_diff * woe_raw, 6) AS iv_term
    FROM scored
    """,
)
def feat_order_value_woe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-decile weight-of-evidence and IV terms for order value vs
    the has-returned-line label (Laplace 0.5 smoothing)."""
    from ..functions.ranking import global_ntile

    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", (F.col("l_returnflag") == "R").cast("int").alias("r")
    )
    lab = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_totalprice")
        .agg(F.max("r").cast("int").alias("is_returned"))
    )
    binned = global_ntile(
        lab, [F.col("o_totalprice"), F.col("o_orderkey")], WOE_BINS, "bin"
    )
    cells = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("is_returned").cast("bigint").alias("n_event"),
        F.sum(1 - F.col("is_returned")).cast("bigint").alias("n_nonevent"),
    )
    tot = cells.agg(
        F.sum("n_event").cast("bigint").alias("t_event"),
        F.sum("n_nonevent").cast("bigint").alias("t_nonevent"),
    )
    ev = (F.col("n_event") + 0.5) / (F.col("t_event") + 0.5 * WOE_BINS)
    ne = (F.col("n_nonevent") + 0.5) / (F.col("t_nonevent") + 0.5 * WOE_BINS)
    woe = F.log(ev / ne)
    return cells.crossJoin(F.broadcast(tot)).select(
        F.col("bin").cast("int").alias("bin"),
        "n_orders",
        "n_event",
        "n_nonevent",
        F.round(woe, 6).alias("woe"),
        F.round((ev - ne) * woe, 6).alias("iv_term"),
    )


# --------------------------------------------------------------------------
# Leave-one-out target encoding: the categorical-feature encoding that
# replaces each row's category with the mean target of the OTHER rows
# in that category — the standard leakage-free variant (plain mean
# encoding leaks each row's own label into its feature).
#
#   enc_i = (sum(target | segment) - target_i) / (n(segment) - 1)
#
# Scale shape: the per-segment sums are a 5-row aggregate that
# broadcasts back onto the fact scan — one map-side-combining shuffle
# plus a broadcast hash join; the per-row arithmetic runs on exact
# BIGINT cents (sum-order-proof), divided once into doubles at the
# end, so per-row outputs hash-match cross-engine at any volume.
# --------------------------------------------------------------------------
@register(
    "feat_target_encoding_loo",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, c_mktsegment,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    seg AS (
      SELECT c_mktsegment,
             CAST(sum(cents) AS BIGINT) AS seg_cents,
             CAST(count(*) AS BIGINT) AS seg_n
      FROM base GROUP BY 1
    )
    SELECT b.o_orderkey, b.c_mktsegment,
           round(b.cents / 100.0, 2) AS o_totalprice,
           round((s.seg_cents - b.cents) * 1.0 / (s.seg_n - 1) / 100.0, 2)
               AS loo_target_enc
    FROM base b JOIN seg s ON b.c_mktsegment = s.c_mktsegment
    """,
)
def feat_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free (leave-one-out) mean-price encoding of the customer
    market segment, on exact integer cents."""
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    base = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    ).select(
        "o_orderkey",
        "c_mktsegment",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    seg = base.groupBy("c_mktsegment").agg(
        F.sum("cents").cast("bigint").alias("seg_cents"),
        F.count(F.lit(1)).cast("bigint").alias("seg_n"),
    )
    return base.join(F.broadcast(seg), "c_mktsegment").select(
        "o_orderkey",
        "c_mktsegment",
        F.round(F.col("cents") / 100.0, 2).alias("o_totalprice"),
        F.round(
            (F.col("seg_cents") - F.col("cents"))
            * 1.0
            / (F.col("seg_n") - 1)
            / 100.0,
            2,
        ).alias("loo_target_enc"),
    )


# --------------------------------------------------------------------------
# Next-event training-sequence assembly — the dataset-building step of
# a session-based recommender / next-action model: per user, the most
# recent event is the LABEL and the up-to-10 events before it
# (time-ascending) are the CONTEXT sequence. The exact shape an LLM
# pipeline uses to build "history -> next token" examples from logs.
#
# Determinism: (ts, event_id) is a total order, so context membership,
# order within the sequence, and the label are engine-independent.
# Scale: one user-keyed ranking window (the shuffle a per-user dataset
# needs anyway) + one groupBy with an array_sort(collect_list(struct))
# — no driver-side loops; collect_list is bounded to <= 10 rows per
# user by the rank filter BEFORE aggregation.
# --------------------------------------------------------------------------
SEQ_CONTEXT = 10


@register(
    "feat_next_event_sequences",
    oracle=f"""
    WITH ranked AS (
      SELECT user_id, event_type, ts, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS seq_len,
           COALESCE(string_agg(CASE WHEN rn > 1 THEN event_type END, '>'
                               ORDER BY ts, event_id), '') AS context_seq,
           max(CASE WHEN rn = 1 THEN event_type END) AS label
    FROM ranked
    WHERE rn <= {SEQ_CONTEXT} + 1
    GROUP BY user_id
    """,
)
def feat_next_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user (context sequence, next-event label) training examples:
    the latest event is the label, the up-to-{SEQ_CONTEXT} prior events
    form the time-ascending context string."""
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = ev.select("user_id", "event_type", "ts", "event_id").withColumn(
        "rn", F.row_number().over(w)
    ).filter(F.col("rn") <= SEQ_CONTEXT + 1)
    ctx = F.expr(
        "transform(array_sort(collect_list(CASE WHEN rn > 1 THEN "
        "struct(ts, event_id, event_type) END)), s -> s.event_type)"
    )
    return ranked.groupBy("user_id").agg(
        F.sum((F.col("rn") > 1).cast("int")).cast("bigint").alias("seq_len"),
        F.concat_ws(">", ctx).alias("context_seq"),
        F.max(F.when(F.col("rn") == 1, F.col("event_type"))).alias("label"),
    )


# --------------------------------------------------------------------------
# Hashing-trick collision audit — for the (segment x priority x
# quarter) categorical cross feature, how much does each hash width
# (16 / 64 / 256 buckets) collide, in KEYS and in ROW MASS? The
# feature-engineering sizing question behind every hashed cross
# column: too narrow a width silently merges distinct feature values,
# and the ROW-mass collision share (not the key share) is what the
# model actually feels. md5-derived buckets are engine-identical.
#
# Scale shape: one fact-sized key rollup (the cross feature has ~100
# distinct values), then per-width bucket rollups over that
# dimension-sized relation. Exact counts throughout.
# --------------------------------------------------------------------------
HASH_WIDTHS = (16, 64, 256)


def _cross_hash_sql() -> str:
    src = "k.key_str"
    return (
        "CAST(("
        + " + ".join(
            f"(CASE substr(md5({src}), {i + 1}, 1) "
            + " ".join(
                f"WHEN '{h}' THEN {v}" for v, h in enumerate("0123456789abcdef")
            )
            + f" END) * CAST({16 ** (7 - i)} AS BIGINT)"
            for i in range(8)
        )
        + ") AS BIGINT)"
    )


@register(
    "feat_hash_collision_audit",
    oracle=f"""
    WITH keys AS (
      SELECT c_mktsegment || '|' || o_orderpriority || '|'
               || CAST(quarter(CAST(o_orderdate AS DATE)) AS VARCHAR)
               AS key_str,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1
    ),
    widths(w) AS (VALUES {", ".join(f"({w})" for w in HASH_WIDTHS)}),
    bucketed AS (
      SELECT CAST(w.w AS BIGINT) AS w, k.key_str, k.n_rows,
             {_cross_hash_sql()} % w.w AS bucket
      FROM keys k CROSS JOIN widths w
    ),
    per_bucket AS (
      SELECT w, bucket,
             CAST(count(*) AS BIGINT) AS keys_in_bucket,
             CAST(sum(n_rows) AS BIGINT) AS rows_in_bucket
      FROM bucketed GROUP BY w, bucket
    )
    SELECT w AS n_buckets,
           (SELECT CAST(count(*) AS BIGINT) FROM keys) AS n_keys,
           CAST(count(*) AS BIGINT) AS buckets_used,
           CAST(sum(CASE WHEN keys_in_bucket > 1
                         THEN keys_in_bucket ELSE 0 END) AS BIGINT)
               AS collided_keys,
           CAST(max(keys_in_bucket) AS BIGINT) AS max_bucket_keys,
           round(sum(CASE WHEN keys_in_bucket > 1
                          THEN rows_in_bucket ELSE 0 END) * 1.0
                 / sum(rows_in_bucket), 6) AS collided_row_share
    FROM per_bucket GROUP BY w ORDER BY w
    """,
)
def feat_hash_collision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key- and row-mass collision rates of the hashed
    segment x priority x quarter cross feature at widths
    {HASH_WIDTHS}."""
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    keys = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.concat_ws(
                "|",
                F.col("c_mktsegment"),
                F.col("o_orderpriority"),
                F.quarter(F.col("o_orderdate").cast("date")).cast("string"),
            ).alias("key_str")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        .persist()
    )
    widths = local_frame(spark, [(w,) for w in HASH_WIDTHS], "w bigint")
    h = F.conv(F.substring(F.md5(F.col("key_str")), 1, 8), 16, 10).cast(
        "bigint"
    )
    bucketed = keys.crossJoin(F.broadcast(widths)).select(
        "w", "key_str", "n_rows", (h % F.col("w")).alias("bucket")
    )
    per_bucket = bucketed.groupBy("w", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("keys_in_bucket"),
        F.sum("n_rows").cast("bigint").alias("rows_in_bucket"),
    )
    n_keys = keys.agg(F.count(F.lit(1)).cast("bigint").alias("n_keys"))
    collided = F.when(
        F.col("keys_in_bucket") > 1, F.col("keys_in_bucket")
    ).otherwise(F.lit(0))
    collided_rows = F.when(
        F.col("keys_in_bucket") > 1, F.col("rows_in_bucket")
    ).otherwise(F.lit(0))
    return (
        per_bucket.groupBy("w")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("buckets_used"),
            F.sum(collided).cast("bigint").alias("collided_keys"),
            F.max("keys_in_bucket").cast("bigint").alias("max_bucket_keys"),
            F.round(
                F.sum(collided_rows) * 1.0 / F.sum("rows_in_bucket"), 6
            ).alias("collided_row_share"),
        )
        .crossJoin(F.broadcast(n_keys))
        .select(
            F.col("w").alias("n_buckets"),
            "n_keys",
            "buckets_used",
            "collided_keys",
            "max_bucket_keys",
            "collided_row_share",
        )
        .orderBy("n_buckets")
    )
