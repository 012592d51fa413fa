"""Slowly-changing-dimension (SCD Type 2) history and event-sequence
analytics: versioned dimension builds, Markov transitions, and top user
paths.

The reference's warehouse is overwrite-only (`src/storage.py` upsert,
SURVEY.md §2.2 S7): history is lost on every update. SCD Type 2 is the
warehouse-standard fix — each key keeps a *run* of versioned rows with
``[effective_from, effective_to)`` validity ranges — and the sequence
operators (transition matrix, path mining) are the clickstream
counterparts: both reduce an ordered per-key history with window
functions instead of per-key loops.

Scale notes (100 TB):
- All three operators shuffle **once** on their entity key
  (``o_custkey`` / ``user_id``); every window in a query shares that
  partitioning so Catalyst plans a single Exchange + sort. No
  self-joins on the fact table: the naive "event JOIN next event"
  formulation duplicates the log; ``lag``/``lead`` are O(rows) with
  sort-based state.
- The change-detection filter (``lag != current``) runs *before* the
  second windowing in the SCD build, so version numbering and
  ``effective_to`` only process change rows — on a 100 TB order
  history with mostly-stable priorities that is a large reduction
  ahead of the second sort.
- Path mining caps each user at the first ``PATH_LEN`` events before
  aggregating strings (bounded memory per user regardless of power
  users), and the path roll-up is dimension-sized after the per-user
  reduction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import register
from ..session import local_frame

PATH_LEN = 5
TOP_PATHS = 20


# --------------------------------------------------------------------------
# SCD Type 2: customer order-priority history with validity ranges.
# --------------------------------------------------------------------------
@register(
    "scd2_priority_history",
    oracle="""
    WITH ordered AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
             lag(o_orderpriority) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ) AS prev_priority
      FROM orders
    ),
    changes AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey
      FROM ordered
      WHERE prev_priority IS NULL OR prev_priority <> o_orderpriority
    )
    SELECT o_custkey AS custkey,
           o_orderpriority AS priority,
           o_orderdate AS effective_from,
           lead(o_orderdate) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) AS effective_to,
           CAST(row_number() OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) AS INTEGER) AS version,
           CAST(lead(o_orderdate) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) IS NULL AS BOOLEAN) AS is_current
    FROM changes
    """,
)
def scd2_priority_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 dimension build: one row per (customer, priority run).

    Change detection via ``lag`` over (custkey, orderdate) keeps only
    rows where the priority actually changed; a second window over the
    *change rows only* assigns ``version`` and closes each range with
    ``effective_to = lead(effective_from)`` (NULL = current). Ties on
    the same date break on ``o_orderkey`` so both engines see one
    deterministic sequence.
    """
    orders = table(spark, sf_dir, "orders")
    seq = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    changed = (
        orders.withColumn("prev_priority", F.lag("o_orderpriority").over(seq))
        .filter(
            F.col("prev_priority").isNull()
            | (F.col("prev_priority") != F.col("o_orderpriority"))
        )
        .select("o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey")
    )
    # Two same-day orders with different priorities both survive the
    # change filter, so the version window keeps the o_orderkey
    # tiebreak — both engines must see one deterministic sequence.
    ver = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return changed.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").alias("effective_from"),
        F.lead("o_orderdate").over(ver).alias("effective_to"),
        F.row_number().over(ver).alias("version"),
        F.lead("o_orderdate").over(ver).isNull().alias("is_current"),
    )


# --------------------------------------------------------------------------
# Markov transition matrix over the event stream.
# --------------------------------------------------------------------------
@register(
    "ev_event_transitions",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS next_type
      FROM events
    ),
    pairs AS (
      SELECT event_type, next_type, count(*) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT event_type, next_type, n,
           round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY event_type), 6)
             AS p_transition
    FROM pairs
    """,
)
def ev_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts + probabilities.

    ``lead`` pairs each event with its successor inside the user's
    ordered stream (one shuffle on user_id), then a dimension-sized
    groupBy counts (from, to) pairs; the row-probability normalization
    windows over the tiny transition matrix, not the log.
    """
    ev = table(spark, sf_dir, "events")
    seq = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select("event_type", F.lead("event_type").over(seq).alias("next_type"))
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    norm = W.partitionBy("event_type")
    return pairs.select(
        "event_type",
        "next_type",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(norm), 6).alias("p_transition"),
    )


# --------------------------------------------------------------------------
# Top user paths: most common first-K event-type sequences.
# --------------------------------------------------------------------------
@register(
    "ev_top_user_paths",
    oracle=f"""
    WITH ranked AS (
      SELECT user_id, event_type,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS rn
      FROM events
    ),
    paths AS (
      SELECT user_id,
             string_agg(event_type, '>' ORDER BY rn) AS path
      FROM ranked WHERE rn <= {PATH_LEN}
      GROUP BY user_id
    ),
    counted AS (
      SELECT path, count(*) AS n_users FROM paths GROUP BY path
    )
    SELECT path, n_users
    FROM counted
    ORDER BY n_users DESC, path
    LIMIT {TOP_PATHS}
    """,
)
def ev_top_user_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOP_PATHS} first-{PATH_LEN}-event paths across all users.

    Each user's stream is truncated to its first ``PATH_LEN`` events
    (row_number filter — bounded state per user), joined into a
    ``'a>b>c'`` path string via an order-preserving sort of
    (rn, event_type) structs, then counted. The final ORDER BY + LIMIT
    compiles to TakeOrderedAndProject (no global sort materialization).
    """
    ev = table(spark, sf_dir, "events")
    seq = W.partitionBy("user_id").orderBy("ts", "event_id")
    paths = (
        ev.select("user_id", "event_type", F.row_number().over(seq).alias("rn"))
        .filter(F.col("rn") <= PATH_LEN)
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.col("n_users").desc(), "path")
        .limit(TOP_PATHS)
    )


# --------------------------------------------------------------------------
# Peak concurrency via a two-level sweep line — interval analytics with
# NO interval self-join and NO single global sort.
# --------------------------------------------------------------------------
@register(
    "ev_peak_concurrency",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                       OR date_diff('second',
                            lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                            ts) > 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sess AS (
      SELECT user_id, ts,
             sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    ),
    spans AS (
      SELECT user_id, sid, min(ts) AS s, max(ts) AS e
      FROM sess GROUP BY 1, 2
    ),
    bounds AS (
      SELECT s AS ts, 1 AS delta FROM spans
      UNION ALL
      SELECT e + INTERVAL 1 SECOND AS ts, -1 AS delta FROM spans
    ),
    daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, ts, delta FROM bounds
    ),
    net AS (SELECT day, sum(delta) AS net FROM daily GROUP BY day),
    carry AS (
      SELECT day,
             coalesce(sum(net) OVER (
               ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS carried
      FROM net
    ),
    run AS (
      SELECT d.day,
             sum(d.delta) OVER (
               PARTITION BY d.day ORDER BY d.ts, d.delta
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + c.carried AS conc,
             d.delta
      FROM daily d JOIN carry c USING (day)
    )
    SELECT day,
           CAST(max(conc) AS BIGINT) AS peak_concurrency,
           CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_sessions_started
    FROM run
    GROUP BY day
    """,
)
def ev_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily peak number of simultaneously-open user sessions.

    Sweep line over session boundaries (+1 at start, -1 one second
    after end), computed as a TWO-LEVEL prefix sum: the running count
    partitions by day (parallel across days), and a dimension-sized
    per-day net-delta window carries the midnight-spanning sessions
    into the next day's offset. The naive alternatives — an interval
    self-join (quadratic on hot days) or one global unpartitioned sort
    — never touch the plan. Ties at the same boundary instant carry
    equal deltas after the (ts, delta) sort, so the running maximum is
    permutation-invariant and cross-engine deterministic.
    """
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    gap_sec = F.unix_timestamp("ts") - F.unix_timestamp(prev_ts)
    run_w = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    sess = ev.select(
        "user_id",
        "ts",
        F.sum(F.when(prev_ts.isNull() | (gap_sec > 1800), 1).otherwise(0))
        .over(run_w)
        .alias("sid"),
    )
    spans = sess.groupBy("user_id", "sid").agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    )
    # Both sweep-line boundary rows from ONE reference to the span
    # aggregate (a flip-union would run the sessionization window +
    # groupBy twice).
    bounds = spans.select(
        F.explode(
            F.array(
                F.struct(F.col("s").alias("ts"), F.lit(1).alias("delta")),
                F.struct(
                    F.expr("e + INTERVAL 1 SECOND").alias("ts"),
                    F.lit(-1).alias("delta"),
                ),
            )
        ).alias("_b")
    ).select("_b.*")
    daily = bounds.select(
        F.date_trunc("day", "ts").cast("date").alias("day"), "ts", "delta"
    )
    net = daily.groupBy("day").agg(F.sum("delta").alias("net"))
    # carried-over concurrency = exclusive prefix sum over the day
    # spine, via the range-partitioned 2-pass scan (no single-partition
    # window, shape-uniform with the unbounded-input gate)
    from ..functions.ranking import global_running_sum

    carry = global_running_sum(
        net, [F.col("day")], F.col("net"), "carried", inclusive=False
    ).select("day", "carried")
    run_day = W.partitionBy("day").orderBy("ts", "delta").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    conc = daily.join(F.broadcast(carry), "day").select(
        "day",
        (F.sum("delta").over(run_day) + F.col("carried")).alias("conc"),
        "delta",
    )
    return conc.groupBy("day").agg(
        F.max("conc").cast("bigint").alias("peak_concurrency"),
        F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_sessions_started"),
    )


# --------------------------------------------------------------------------
# CDC apply: reduce an ordered change log (insert/update/delete) to the
# current snapshot — MERGE INTO semantics as one window + filter, no
# per-op loop, no target-table rewrite per change.
# --------------------------------------------------------------------------
@register(
    "cdc_apply_orders",
    oracle="""
    WITH log AS (
      SELECT o_orderkey AS key,
             CASE o_orderkey % 4 WHEN 0 THEN 'D' WHEN 1 THEN 'U' ELSE 'I' END AS op,
             CAST(o_orderkey % 7 AS BIGINT) AS seq,
             o_totalprice AS price
      FROM orders
      UNION ALL
      SELECT o_orderkey AS key, 'U' AS op,
             CAST(o_orderkey % 7 + 3 AS BIGINT) AS seq,
             o_totalprice * 2 AS price
      FROM orders WHERE o_orderkey % 5 = 0
    ),
    latest AS (
      SELECT key, op, seq, price,
             row_number() OVER (PARTITION BY key ORDER BY seq DESC, op DESC) AS rn
      FROM log
    )
    SELECT key, op AS last_op, seq AS last_seq, price
    FROM latest
    WHERE rn = 1 AND op <> 'D'
    """,
)
def cdc_apply_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a CDC log: latest op per key wins, deletes drop the key.

    The log is synthesized deterministically from ``orders`` (base op
    per key plus a later update for every 5th key). One shuffle on the
    key; ``row_number`` over (seq DESC, op DESC) picks the winner and a
    filter drops deleted keys — the scalable MERGE INTO reduction
    (upsert-by-read), same shape as the warehouse's latest-wins view.
    At 100 TB the log is far smaller than the snapshot, so production
    applies this reduction to the log alone and joins the survivors
    onto the unchanged snapshot partitions.
    """
    orders = table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderkey").alias("key"),
        F.when(F.col("o_orderkey") % 4 == 0, "D")
        .when(F.col("o_orderkey") % 4 == 1, "U")
        .otherwise("I")
        .alias("op"),
        (F.col("o_orderkey") % 7).cast("bigint").alias("seq"),
        F.col("o_totalprice").alias("price"),
    )
    # *2 (not *1.1): a dyadic factor keeps the update price exact in
    # binary, so no rounding is needed — round(x*1.1, 2) lands on .005
    # boundaries where the engines' rounding algorithms disagree.
    updates = orders.filter(F.col("o_orderkey") % 5 == 0).select(
        F.col("o_orderkey").alias("key"),
        F.lit("U").alias("op"),
        (F.col("o_orderkey") % 7 + 3).cast("bigint").alias("seq"),
        (F.col("o_totalprice") * 2).alias("price"),
    )
    log = base.unionByName(updates)
    w = W.partitionBy("key").orderBy(F.col("seq").desc(), F.col("op").desc())
    return (
        log.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select(
            "key",
            F.col("op").alias("last_op"),
            F.col("seq").alias("last_seq"),
            "price",
        )
    )


# --------------------------------------------------------------------------
# Point-in-time (temporal) join: enrich each order with the SCD2
# dimension version valid AT the order date — the consumer side of
# scd2_priority_history, and the pattern behind feature-store
# "as-of-event-time" training joins (no leakage from future versions).
# --------------------------------------------------------------------------
@register(
    "pit_orders_with_priority_version",
    oracle="""
    WITH ordered AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
             lag(o_orderpriority) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ) AS prev_priority
      FROM orders
    ),
    changes AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey
      FROM ordered
      WHERE prev_priority IS NULL OR prev_priority <> o_orderpriority
    ),
    hist AS (
      SELECT o_custkey AS custkey,
             o_orderpriority AS priority,
             o_orderdate AS effective_from,
             coalesce(lead(o_orderdate) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ), TIMESTAMP '9999-12-31') AS effective_to,
             CAST(row_number() OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ) AS INTEGER) AS version
      FROM changes
    )
    SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
           h.priority AS priority_at_order, h.version
    FROM orders o
    JOIN hist h
      ON o.o_custkey = h.custkey
     AND o.o_orderdate >= h.effective_from
     AND o.o_orderdate < h.effective_to
    """,
)
def pit_orders_with_priority_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join each order to the dimension version valid at its date.

    Equi-join on custkey narrows the candidates to one customer's few
    versions before the range predicate selects the covering interval —
    a hash join with a residual filter, never a cartesian. (The
    half-open [from, to) ranges tile each customer's timeline, so
    exactly one version matches; same-day priority changes resolve to
    the later change, matching the history build's ordering.) At scale
    this is the feature-store point-in-time join: broadcast the
    dimension when it fits, else both sides shuffle once on the entity
    key.
    """
    orders = table(spark, sf_dir, "orders")
    hist = scd2_priority_history(spark, sf_dir).select(
        "custkey",
        "priority",
        "effective_from",
        F.coalesce("effective_to", F.lit("9999-12-31").cast("timestamp")).alias(
            "effective_to"
        ),
        "version",
    )
    return orders.join(
        hist,
        (orders.o_custkey == hist.custkey)
        & (orders.o_orderdate >= hist.effective_from)
        & (orders.o_orderdate < hist.effective_to),
    ).select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.col("priority").alias("priority_at_order"),
        "version",
    )


# --------------------------------------------------------------------------
# Rolling 7-day active users (WAU): exact windowed COUNT DISTINCT.
# A range-frame COUNT(DISTINCT) window is not supported (and a naive
# events x events day self-join explodes); the scalable exact shape is
# (user, day) distinct -> day-spine range join -> per-day distinct
# count, where the join input is already reduced to one row per
# (user, active day).
# --------------------------------------------------------------------------
WAU_DAYS = 7


@register(
    "ev_rolling_wau",
    oracle=f"""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events
    ),
    spine AS (SELECT DISTINCT day FROM ud),
    joined AS (
      SELECT s.day, u.user_id
      FROM spine s
      JOIN ud u
        ON u.day BETWEEN s.day - INTERVAL {WAU_DAYS - 1} DAY AND s.day
    )
    SELECT day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS wau
    FROM joined
    GROUP BY day
    """,
)
def ev_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users active in the trailing {WAU_DAYS}-day window, per day.

    The range join runs over the (user, day) DISTINCT relation — at
    100 TB that is |users| x |active days|, orders of magnitude smaller
    than the event log, and each spine day matches at most {WAU_DAYS}
    activity days per user. For very long horizons the HLL sketch
    variant (sk_approx_event_profile) bounds this further; this is the
    exact twin.
    """
    ev = table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).distinct()
    spine = ud.select("day").distinct().withColumnRenamed("day", "sday")
    joined = spine.join(
        ud,
        (F.col("day") >= F.date_sub(F.col("sday"), WAU_DAYS - 1))
        & (F.col("day") <= F.col("sday")),
    )
    return joined.groupBy(F.col("sday").alias("day")).agg(
        F.countDistinct("user_id").cast("bigint").alias("wau")
    )


# --------------------------------------------------------------------------
# Snapshot diff: reconcile two versions of a keyed table — the
# anti-entropy audit after any replication/CDC/backfill (did the apply
# produce exactly the expected adds/drops/changes?). One full-outer
# join on the key; counts are dimension-sized.
# --------------------------------------------------------------------------
@register(
    "snap_orders_diff",
    oracle="""
    WITH prev AS (
      SELECT o_orderkey AS key, o_totalprice AS price
      FROM orders WHERE o_orderkey % 10 <> 0
    ),
    curr AS (
      SELECT o_orderkey AS key,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2
                  ELSE o_totalprice END AS price
      FROM orders WHERE o_orderkey % 10 <> 3
    ),
    classified AS (
      SELECT CASE
               WHEN p.key IS NULL THEN 'added'
               WHEN c.key IS NULL THEN 'removed'
               WHEN p.price <> c.price THEN 'changed'
               ELSE 'unchanged'
             END AS change
      FROM prev p FULL OUTER JOIN curr c ON p.key = c.key
    )
    SELECT change, count(*) AS n FROM classified GROUP BY change
    """,
)
def snap_orders_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classify every key across two synthetic order snapshots.

    prev = orders minus the %10==0 slice; curr = orders minus the
    %10==3 slice with the %7==0 prices doubled (dyadic — no rounding
    hazard). FULL OUTER on the key, one CASE classification, 4-row
    report: added / removed / changed / unchanged.
    """
    orders = table(spark, sf_dir, "orders")
    prev = orders.filter(F.col("o_orderkey") % 10 != 0).select(
        F.col("o_orderkey").alias("key"), F.col("o_totalprice").alias("p_price")
    )
    curr = orders.filter(F.col("o_orderkey") % 10 != 3).select(
        F.col("o_orderkey").alias("key"),
        F.when(F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") * 2)
        .otherwise(F.col("o_totalprice"))
        .alias("c_price"),
    )
    joined = prev.withColumnRenamed("key", "p_key").join(
        curr.withColumnRenamed("key", "c_key"),
        F.col("p_key") == F.col("c_key"),
        "full_outer",
    )
    change = (
        F.when(F.col("p_key").isNull(), "added")
        .when(F.col("c_key").isNull(), "removed")
        .when(F.col("p_price") != F.col("c_price"), "changed")
        .otherwise("unchanged")
    )
    return joined.select(change.alias("change")).groupBy("change").agg(
        F.count(F.lit(1)).alias("n")
    )


# --------------------------------------------------------------------------
# Daily bounce rate: share of sessions with exactly one event — the
# standard engagement KPI on top of the sessionization relation; one
# extra dimension-sized aggregate over the session spans.
# --------------------------------------------------------------------------
@register(
    "ev_daily_bounce_rate",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                       OR date_diff('second',
                            lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                            ts) > 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sess AS (
      SELECT user_id, ts,
             sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    ),
    spans AS (
      SELECT user_id, sid, min(ts) AS s, count(*) AS n_events
      FROM sess GROUP BY 1, 2
    )
    SELECT CAST(date_trunc('day', s) AS DATE) AS day,
           count(*) AS n_sessions,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           round(avg(CASE WHEN n_events = 1 THEN 1.0 ELSE 0.0 END), 6)
             AS bounce_rate
    FROM spans
    GROUP BY 1
    """,
)
def ev_daily_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessions, bounces, and bounce rate per session-start day."""
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    gap_sec = F.unix_timestamp("ts") - F.unix_timestamp(prev_ts)
    run_w = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    sess = ev.select(
        "user_id",
        "ts",
        F.sum(F.when(prev_ts.isNull() | (gap_sec > 1800), 1).otherwise(0))
        .over(run_w)
        .alias("sid"),
    )
    spans = sess.groupBy("user_id", "sid").agg(
        F.min("ts").alias("s"), F.count(F.lit(1)).alias("n_events")
    )
    bounce = F.when(F.col("n_events") == 1, 1.0).otherwise(0.0)
    return spans.groupBy(F.date_trunc("day", "s").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(bounce.cast("int")).cast("bigint").alias("n_bounces"),
        F.round(F.avg(bounce), 6).alias("bounce_rate"),
    )


# --------------------------------------------------------------------------
# Incremental SCD2 maintenance: apply an order delta to an existing
# Type-2 history WITHOUT rebuilding untouched keys. The nightly
# warehouse workflow: history was built through the cutover date; the
# new day's orders arrive; only customers PRESENT IN THE DELTA get
# their dimension rows recomputed (closing open versions / appending
# new ones), everyone else's history is carried over byte-identical.
#
# Correctness contract (and the oracle): the incrementally-maintained
# result must EQUAL the full from-scratch rebuild over all orders —
# the same stream==batch equivalence the incremental MV and HLL store
# prove for aggregates, proven here for a windowed dimension build.
#
# Scale: the delta's key set is dimension-sized; per run the recompute
# touches only affected keys' order history (semi-join), while the
# pass-through side is a key-keyed ANTI join on the existing compact
# history — no window function runs over untouched keys.
# --------------------------------------------------------------------------
SCD2_CUTOVER = "2000-01-01"


def _scd2_build(orders_df: DataFrame) -> DataFrame:
    """Type-2 (custkey, priority-run) build over an arbitrary order set
    — same logic as scd2_priority_history."""
    seq = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    changed = (
        orders_df.withColumn("prev_priority", F.lag("o_orderpriority").over(seq))
        .filter(
            F.col("prev_priority").isNull()
            | (F.col("prev_priority") != F.col("o_orderpriority"))
        )
        .select("o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey")
    )
    ver = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return changed.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").alias("effective_from"),
        F.lead("o_orderdate").over(ver).alias("effective_to"),
        F.row_number().over(ver).alias("version"),
        F.lead("o_orderdate").over(ver).isNull().alias("is_current"),
    )


@register(
    "scd2_apply_delta",
    # The oracle is the FULL REBUILD over all orders — incremental
    # maintenance must be indistinguishable from it.
    oracle="""
    WITH ordered AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
             lag(o_orderpriority) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ) AS prev_priority
      FROM orders
    ),
    changes AS (
      SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey
      FROM ordered
      WHERE prev_priority IS NULL OR prev_priority <> o_orderpriority
    )
    SELECT o_custkey AS custkey,
           o_orderpriority AS priority,
           o_orderdate AS effective_from,
           lead(o_orderdate) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) AS effective_to,
           CAST(row_number() OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) AS INTEGER) AS version,
           CAST(lead(o_orderdate) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) IS NULL AS BOOLEAN) AS is_current
    FROM changes
    """,
)
def scd2_apply_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existing history (orders < {SCD2_CUTOVER}) + delta (orders >=
    cutover) applied by recomputing ONLY affected customers; output
    equals the full rebuild (the oracle) exactly."""
    orders = table(spark, sf_dir, "orders")
    cut = F.lit(SCD2_CUTOVER).cast("timestamp")
    hist_pre = _scd2_build(orders.filter(F.col("o_orderdate") < cut))
    delta = orders.filter(F.col("o_orderdate") >= cut)
    # referenced by the anti-join AND the recompute semi-join —
    # persist so the delta scan + distinct runs once.
    affected = (
        delta.select(F.col("o_custkey").alias("custkey")).distinct().persist()
    )
    untouched = hist_pre.join(F.broadcast(affected), "custkey", "left_anti")
    recomputed = _scd2_build(
        orders.join(
            F.broadcast(affected.withColumnRenamed("custkey", "o_custkey")),
            "o_custkey",
            "left_semi",
        )
    )
    return untouched.unionByName(recomputed)


# --------------------------------------------------------------------------
# Markov path likelihood — score every user's event sequence under the
# corpus-learned first-order transition model (ev_event_transitions is
# the model estimation; this is the scoring pass). Users whose paths
# are improbable under the global model are the bot / broken-client /
# fraud candidates a behavioral pipeline routes to review — the
# event-stream analog of txt_bigram_logprob's perplexity outliers.
#
# Determinism: per-step log-probabilities quantize to BIGINT
# fixed-point (1e-6 grid) BEFORE the per-user sum, so the score is
# exact under any shuffle order (same policy as the text LMs). The
# transition model is |event_types|^2 rows — broadcast; the only big
# shuffle is the user-keyed lead() the transition estimate already
# pays.
# --------------------------------------------------------------------------
@register(
    "ev_markov_path_likelihood",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS next_type
      FROM events
    ),
    steps AS (
      SELECT user_id, event_type, next_type FROM seq
      WHERE next_type IS NOT NULL
    ),
    tm AS (
      SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n
      FROM steps GROUP BY 1, 2
    ),
    fm AS (
      SELECT event_type, CAST(sum(n) AS BIGINT) AS nf FROM tm GROUP BY 1
    ),
    lp AS (
      SELECT tm.event_type, tm.next_type,
             CAST(floor(ln(CAST(tm.n AS DOUBLE) / fm.nf) * 1000000 + 0.5)
                  AS BIGINT) AS fx
      FROM tm JOIN fm USING (event_type)
    ),
    peruser AS (
      SELECT s.user_id, CAST(count(*) AS BIGINT) AS n_steps,
             CAST(sum(l.fx) AS BIGINT) AS sfx
      FROM steps s
      JOIN lp l ON l.event_type = s.event_type AND l.next_type = s.next_type
      GROUP BY s.user_id
    )
    SELECT user_id, n_steps,
           round(sfx / (1000000.0 * n_steps), 6) AS mean_logp,
           round(exp(-(sfx / (1000000.0 * n_steps))), 6) AS perplexity
    FROM peruser
    """,
)
def ev_markov_path_likelihood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user mean transition log-likelihood (and perplexity) under
    the global first-order event-transition model."""
    ev = table(spark, sf_dir, "events")
    seq = W.partitionBy("user_id").orderBy("ts", "event_id")
    steps = (
        ev.select(
            "user_id",
            "event_type",
            F.lead("event_type").over(seq).alias("next_type"),
        )
        .filter(F.col("next_type").isNotNull())
    )
    tm = steps.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    fm = tm.groupBy("event_type").agg(F.sum("n").cast("bigint").alias("nf"))
    lp = tm.join(fm, "event_type").select(
        "event_type",
        "next_type",
        F.floor(F.log(F.col("n").cast("double") / F.col("nf")) * 1000000 + 0.5)
        .cast("bigint")
        .alias("fx"),
    )
    peruser = (
        steps.join(F.broadcast(lp), ["event_type", "next_type"])
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_steps"),
            F.sum("fx").cast("bigint").alias("sfx"),
        )
    )
    mean = F.col("sfx") / (1000000.0 * F.col("n_steps"))
    return peruser.select(
        "user_id",
        "n_steps",
        F.round(mean, 6).alias("mean_logp"),
        F.round(F.exp(-mean), 6).alias("perplexity"),
    )


# --------------------------------------------------------------------------
# Markov stationary distribution — the long-run state occupancy of the
# first-order event-transition chain (where does a user's session
# settle if the observed dynamics run forever?), via MARKOV_POWER_ROUNDS
# synchronous power-iteration rounds from the uniform start, compared
# against the empirical marginal share (for an ergodic chain in
# equilibrium the two agree; a gap means the observed stream is NOT in
# equilibrium — e.g. funnels that leak users toward terminal states).
#
# Exactness: the transition model quantizes to per-million integers
# (p_ppm = n*1e6 DIV n_row); each iterate lives in integer pico-units
# (1e12), and every round is sum((u * p_ppm) DIV 1e6) — BIGINT-exact,
# shuffle-order independent, and overflow-safe at ANY corpus size
# because u <= 1e12 and p_ppm <= 1e6 bound the product at 1e18.
#
# Scale: the model is |event_types|^2 rows; every round is a
# broadcast-sized join — the iteration costs nothing at any SF. The
# only fact-sized work is the transition estimation the whole family
# shares (user-keyed lead window + grouped count).
# --------------------------------------------------------------------------
MARKOV_POWER_ROUNDS = 8


def _ppm_rows(p) -> list:
    """Collect the transition model — |event_types|^2 rows (<= ~100 at
    any SF; the state space is the fixed event-type domain, not the
    corpus). Round-10 optimization: the power-/value-iteration rounds
    over this dimension-sized model used to run as
    MARKOV_POWER_ROUNDS/VI_ROUNDS chained broadcast-join + aggregate
    stages (each a separate broadcast build + tiny shuffle); they are
    pure BIGINT arithmetic, so they run driver-side exactly (Python
    ints, `//` == SQL DIV on the non-negative operands involved) and
    the final vector re-enters Spark as a literal relation. Rounding
    and any float math stay IN Spark so engine float semantics are
    untouched. Corpus-scale work (the lead() window + transition
    counts) is unchanged."""
    return p.collect()


def _mkv_power_iterate(rows: list, rounds: int) -> dict[str, int]:
    """Driver-side twin of the unrolled power-iteration rounds: same
    initial 1e12 DIV k mass, same u * p_ppm DIV 1e6 terms, same
    drop-states-with-no-incoming-mass inner-join semantics."""
    states = sorted({r.event_type for r in rows})
    if not states:
        return {}
    k = len(states)
    u = {s: 10**12 // k for s in states}
    for _ in range(rounds):
        nu: dict[str, int] = {}
        for r in rows:
            if r.event_type in u:
                nu[r.next_type] = (
                    nu.get(r.next_type, 0)
                    + (u[r.event_type] * r.p_ppm) // 10**6
                )
        u = nu
    return u


def _mkv_vector_df(spark, u: dict[str, int], col: str):
    rows = [(s, int(u[s])) for s in sorted(u)]
    return local_frame(spark, rows, f"state string, {col} bigint")


def _mkv_round_sql(i: int) -> str:
    return f"""v{i} AS (
      SELECT p.next_type AS state,
             CAST(sum((v.u * p.p_ppm) // 1000000) AS BIGINT) AS u
      FROM v{i - 1} v JOIN p ON p.event_type = v.state
      GROUP BY 1
    )"""


@register(
    "ev_markov_stationary",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS next_type
      FROM events
    ),
    steps AS (
      SELECT event_type, next_type FROM seq WHERE next_type IS NOT NULL
    ),
    tm AS (
      SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n
      FROM steps GROUP BY 1, 2
    ),
    fm AS (
      SELECT event_type, CAST(sum(n) AS BIGINT) AS nf FROM tm GROUP BY 1
    ),
    p AS (
      SELECT tm.event_type, tm.next_type,
             CAST(tm.n * 1000000 // fm.nf AS BIGINT) AS p_ppm
      FROM tm JOIN fm USING (event_type)
    ),
    v0 AS (
      SELECT event_type AS state,
             CAST(1000000000000 // (SELECT count(*) FROM fm) AS BIGINT) AS u
      FROM fm
    ),
    {",".join(_mkv_round_sql(i) for i in range(1, MARKOV_POWER_ROUNDS + 1))},
    marginal AS (
      SELECT event_type AS state, CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM events)
    SELECT v.state,
           round(v.u / 1e12, 6) AS stationary,
           round(m.n_events * 1.0 / t.n, 6) AS marginal_share,
           round(abs(v.u / 1e12 - m.n_events * 1.0 / t.n), 6) AS abs_gap
    FROM v{MARKOV_POWER_ROUNDS} v
    JOIN marginal m ON m.state = v.state
    CROSS JOIN tot t
    """,
)
def ev_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type transition chain
    after {MARKOV_POWER_ROUNDS} fixed-point power-iteration rounds,
    vs the empirical marginal share."""
    ev = table(spark, sf_dir, "events")
    seq = W.partitionBy("user_id").orderBy("ts", "event_id")
    steps = (
        ev.select(
            "event_type", F.lead("event_type").over(seq).alias("next_type")
        )
        .filter(F.col("next_type").isNotNull())
    )
    tm = steps.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    fm = tm.groupBy("event_type").agg(F.sum("n").cast("bigint").alias("nf"))
    p = (
        tm.join(fm, "event_type")
        .select(
            "event_type",
            "next_type",
            F.expr("n * 1000000 DIV nf").cast("bigint").alias("p_ppm"),
        )
        .persist()
    )
    v = _mkv_vector_df(
        spark, _mkv_power_iterate(_ppm_rows(p), MARKOV_POWER_ROUNDS), "u"
    )
    marginal = ev.groupBy(F.col("event_type").alias("state")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events")
    ).persist()
    # total = sum of the marginal counts — no third scan of events.
    # coalesce(…, 0): sum over zero groups is NULL but the oracle's
    # count(*) total is 0 — keep both sides identical on empty input
    # (output is empty either way; this pins the intermediate too).
    tot = marginal.agg(
        F.coalesce(F.sum("n_events"), F.lit(0)).cast("bigint").alias("n")
    )
    stat = F.col("u") / 1e12
    share = F.col("n_events") * 1.0 / F.col("n")
    return (
        v.join(marginal, "state")
        .crossJoin(F.broadcast(tot))
        .select(
            "state",
            F.round(stat, 6).alias("stationary"),
            F.round(share, 6).alias("marginal_share"),
            F.round(F.abs(stat - share), 6).alias("abs_gap"),
        )
    )


# --------------------------------------------------------------------------
# Incremental view maintenance for a JOIN view — the delta-join
# algebra: with base relations R (orders) and S (customer) each
# receiving a delta, the view over (R ∪ ΔR) ⋈ (S ∪ ΔS) equals the old
# view PLUS the three delta joins ΔR⋈S ∪ R⋈ΔS ∪ ΔR⋈ΔS — an update
# whose cost is delta-sized, not base-sized (the reason warehouses
# can keep join MVs fresh at 100 TB). Here the view is revenue per
# nation; orders split old/new on a date cutoff, customers old/new on
# an md5 hash; Spark computes the view INCREMENTALLY (base + three
# delta joins, additive merge), while the DuckDB oracle recomputes
# from scratch — the hash match is the IVM-correctness proof.
#
# Exactness: money in BIGINT cents; the merge is an additive grouped
# sum. Scale: each delta join keys on custkey (ΔR⋈S broadcasts the
# dimension; R⋈ΔS broadcasts the customer delta); the merge
# aggregates nation-sized partials.
# --------------------------------------------------------------------------
IVM_CUTOFF = "1997-01-01"


@register(
    "ivm_join_delta_parity",
    oracle=f"""
    WITH tagged_c AS (
      SELECT c_custkey, c_nationkey FROM customer
    )
    SELECT c.c_nationkey AS nationkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
    FROM orders o JOIN tagged_c c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
)
def ivm_join_delta_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-per-nation join view maintained incrementally via the
    three delta joins; oracle recomputes from scratch."""
    orders = table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        (F.col("o_orderdate") < F.lit(IVM_CUTOFF).cast("date")).alias("is_old_o"),
    )
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        (
            F.conv(F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 1), 16, 10)
            .cast("int")
            < 12
        ).alias("is_old_c"),
    )
    r_old = orders.filter(F.col("is_old_o"))
    r_new = orders.filter(~F.col("is_old_o"))
    s_old = cust.filter(F.col("is_old_c"))
    s_new = cust.filter(~F.col("is_old_c"))

    def view(o, c):
        return (
            o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .groupBy(F.col("c_nationkey").alias("nationkey"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                F.sum("cents").cast("bigint").alias("revenue_cents"),
            )
        )

    base = view(r_old, s_old)          # the stored MV
    d1 = view(r_new, s_old)            # ΔR ⋈ S
    d2 = view(r_old, s_new)            # R ⋈ ΔS
    d3 = view(r_new, s_new)            # ΔR ⋈ ΔS
    merged = base.unionByName(d1).unionByName(d2).unionByName(d3)
    return merged.groupBy("nationkey").agg(
        F.sum("n_orders").cast("bigint").alias("n_orders"),
        F.sum("revenue_cents").cast("bigint").alias("revenue_cents"),
    )


# --------------------------------------------------------------------------
# Absorbing-chain expected steps to purchase — make 'purchase' the
# absorbing state of the event-transition chain and run unrolled
# value-iteration rounds of E_s = 1 + sum_j P_sj * E_j (E_purchase =
# 0): the "how many more interactions until this user converts, given
# their current state?" product metric, the absorbing companion to
# ev_markov_stationary's long-run occupancy.
#
# Exactness: the same ppm transition model; iterates live in integer
# MICRO-steps (1e6), each round is 1e6 + sum((p_ppm * e) DIV 1e6) —
# BIGINT-exact and overflow-safe (e converges to ~steps * 1e6, p_ppm
# <= 1e6, so products stay far below 2^63). VI_ROUNDS=12 rounds
# (kept moderate: Catalyst analysis cost grows with the unrolled
# chain depth) define the statistic by truncation — both engines run
# the SAME rounds, the policy every power-iteration/Pregel operator
# here shares.
#
# Scale: the iteration runs on the |event_types|-row relation against
# the broadcast ppm model — free at any SF; the only fact-sized work
# is the shared transition estimation.
# --------------------------------------------------------------------------
VI_ROUNDS = 12
VI_ABSORB = "purchase"


def _vi_round_sql(i: int) -> str:
    return f"""e{i} AS (
      SELECT p.event_type AS state,
             CASE WHEN p.event_type = '{VI_ABSORB}' THEN 0
                  ELSE 1000000 + CAST(sum((p.p_ppm * e.e) // 1000000)
                                      AS BIGINT) END AS e
      FROM p JOIN e{i - 1} e ON p.next_type = e.state
      GROUP BY p.event_type
    )"""


@register(
    "ev_markov_absorbing_steps",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS next_type
      FROM events
    ),
    steps AS (
      SELECT event_type, next_type FROM seq WHERE next_type IS NOT NULL
    ),
    tm AS (
      SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n
      FROM steps GROUP BY 1, 2
    ),
    fm AS (
      SELECT event_type, CAST(sum(n) AS BIGINT) AS nf FROM tm GROUP BY 1
    ),
    p AS (
      SELECT tm.event_type, tm.next_type,
             CAST(tm.n * 1000000 // fm.nf AS BIGINT) AS p_ppm
      FROM tm JOIN fm USING (event_type)
    ),
    e0 AS (
      SELECT event_type AS state, CAST(0 AS BIGINT) AS e FROM fm
    ),
    {",".join(_vi_round_sql(i) for i in range(1, VI_ROUNDS + 1))},
    direct AS (
      SELECT event_type AS state, p_ppm FROM p
      WHERE next_type = '{VI_ABSORB}'
    )
    SELECT e.state,
           round(e.e / 1000000.0, 6) AS expected_steps,
           round(coalesce(d.p_ppm, 0) / 1000000.0, 6) AS p_direct
    FROM e{VI_ROUNDS} e LEFT JOIN direct d ON d.state = e.state
    """,
)
def ev_markov_absorbing_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected interactions until purchase per current state, after
    {VI_ROUNDS} fixed-point value-iteration rounds."""
    ev = table(spark, sf_dir, "events")
    seq = W.partitionBy("user_id").orderBy("ts", "event_id")
    steps = (
        ev.select(
            "event_type", F.lead("event_type").over(seq).alias("next_type")
        )
        .filter(F.col("next_type").isNotNull())
    )
    tm = steps.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    fm = tm.groupBy("event_type").agg(F.sum("n").cast("bigint").alias("nf"))
    p = (
        tm.join(fm, "event_type")
        .select(
            "event_type",
            "next_type",
            F.expr("n * 1000000 DIV nf").cast("bigint").alias("p_ppm"),
        )
        .persist()
    )
    # Driver-side exact twin of the VI rounds (same dimension-sized
    # model + BIGINT arithmetic rationale as _mkv_power_iterate).
    rows = _ppm_rows(p)
    ev_map: dict[str, int] = {r.event_type: 0 for r in rows}
    for _ in range(VI_ROUNDS):
        s_acc: dict[str, int] = {}
        for r in rows:
            if r.next_type in ev_map:
                s_acc[r.event_type] = (
                    s_acc.get(r.event_type, 0) + (r.p_ppm * ev_map[r.next_type]) // 10**6
                )
        ev_map = {
            et: (0 if et == VI_ABSORB else 10**6 + sv)
            for et, sv in s_acc.items()
        }
    e = _mkv_vector_df(spark, ev_map, "e")
    direct = p.filter(F.col("next_type") == VI_ABSORB).select(
        F.col("event_type").alias("state"), "p_ppm"
    )
    return e.join(F.broadcast(direct), "state", "left").select(
        "state",
        F.round(F.col("e") / 1000000.0, 6).alias("expected_steps"),
        F.round(F.coalesce(F.col("p_ppm"), F.lit(0)) / 1000000.0, 6).alias(
            "p_direct"
        ),
    )


# --------------------------------------------------------------------------
# Entropy rate of the event-type Markov chain — how predictable user
# behavior is: H = sum_i pi_i * H_i with H_i = -sum_j P_ij ln P_ij.
# Composes the stationary-distribution machinery above (same p_ppm
# transition matrix, same fixed-point pico-unit power iteration) with
# the repo's quantized-ln policy: lnq = floor(ln(p_ppm/1e6)*1e6 + .5)
# is a BIGINT both engines compute identically, so every per-state row
# entropy (micro-nats) and stationary weight is an exact integer.
# --------------------------------------------------------------------------
@register(
    "ev_markov_entropy_rate",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS next_type
      FROM events
    ),
    steps AS (
      SELECT event_type, next_type FROM seq WHERE next_type IS NOT NULL
    ),
    tm AS (
      SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n
      FROM steps GROUP BY 1, 2
    ),
    fm AS (
      SELECT event_type, CAST(sum(n) AS BIGINT) AS nf FROM tm GROUP BY 1
    ),
    p AS (
      SELECT tm.event_type, tm.next_type,
             CAST(tm.n * 1000000 // fm.nf AS BIGINT) AS p_ppm
      FROM tm JOIN fm USING (event_type)
    ),
    v0 AS (
      SELECT event_type AS state,
             CAST(1000000000000 // (SELECT count(*) FROM fm) AS BIGINT) AS u
      FROM fm
    ),
    {",".join(_mkv_round_sql(i) for i in range(1, MARKOV_POWER_ROUNDS + 1))},
    hrow AS (
      SELECT event_type AS state,
             CAST(sum(CASE WHEN p_ppm > 0 THEN
               (p_ppm * -CAST(floor(ln(p_ppm / 1000000.0) * 1000000 + 0.5)
                              AS BIGINT)) // 1000000
               ELSE 0 END) AS BIGINT) AS h_row_micro
      FROM p GROUP BY 1
    )
    SELECT v.state,
           round(v.u / 1e12, 6) AS stationary,
           h.h_row_micro,
           CAST((v.u * h.h_row_micro) // 1000000000000 AS BIGINT)
               AS contribution_micro,
           round(h.h_row_micro / 1e6, 6) AS h_row_nats
    FROM v{MARKOV_POWER_ROUNDS} v JOIN hrow h USING (state)
    """,
)
def ev_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-state conditional entropy (micro-nats) of the event-type
    chain with stationary-weighted contributions — entropy rate =
    sum of contribution_micro / 1e6 nats."""
    ev = table(spark, sf_dir, "events")
    seq = W.partitionBy("user_id").orderBy("ts", "event_id")
    steps = ev.select(
        "event_type", F.lead("event_type").over(seq).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    tm = steps.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    fm = tm.groupBy("event_type").agg(F.sum("n").cast("bigint").alias("nf"))
    p = (
        tm.join(fm, "event_type")
        .select(
            "event_type",
            "next_type",
            F.expr("n * 1000000 DIV nf").cast("bigint").alias("p_ppm"),
        )
        .persist()
    )
    v = _mkv_vector_df(
        spark, _mkv_power_iterate(_ppm_rows(p), MARKOV_POWER_ROUNDS), "u"
    )
    hrow = p.groupBy(F.col("event_type").alias("state")).agg(
        F.sum(
            F.when(
                F.col("p_ppm") > 0,
                F.expr(
                    "(p_ppm * -CAST(floor(ln(p_ppm / 1000000.0) * 1000000"
                    " + 0.5) AS BIGINT)) DIV 1000000"
                ),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("h_row_micro")
    )
    return v.join(hrow, "state").select(
        "state",
        F.round(F.col("u") / 1e12, 6).alias("stationary"),
        "h_row_micro",
        F.expr("(u * h_row_micro) DIV 1000000000000")
        .cast("bigint")
        .alias("contribution_micro"),
        F.round(F.col("h_row_micro") / 1e6, 6).alias("h_row_nats"),
    )


# --------------------------------------------------------------------------
# Aggregate-delta IVM parity — the incremental-view-maintenance
# algebra for distributive aggregates: maintaining per-customer
# (count, sum) by ADDING the delta partition's partial aggregate to
# the base partition's must equal recomputing from scratch. The Spark
# side actually exercises the maintenance plan (base agg + delta agg,
# full-outer coalesce-add merge); the oracle is the from-scratch
# recompute, so any drift in the merge algebra (NULL handling on
# groups present in only one side, cent-exact sums) is a hash
# mismatch. Split = last 90 days of o_orderdate as the "new data".
# --------------------------------------------------------------------------
IVM_DELTA_DAYS = 90


@register(
    "ivm_agg_delta_parity",
    oracle="""
    SELECT o_custkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM orders
    GROUP BY o_custkey
    """,
)
def ivm_agg_delta_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintain groupBy(count, sum) incrementally: base-partition agg
    merged with the delta-partition agg via a full-outer coalesce-add —
    value-identical to the oracle's full recompute."""
    orders = table(spark, sf_dir, "orders")
    wm = orders.agg(
        F.date_sub(F.max(F.col("o_orderdate").cast("date")), IVM_DELTA_DAYS)
        .alias("cut")
    )
    t = orders.crossJoin(F.broadcast(wm)).select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        (F.col("o_orderdate").cast("date") > F.col("cut")).alias("is_delta"),
    )

    def agg(df: DataFrame, n: str, s: str) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).cast("bigint").alias(n),
            F.sum("cents").cast("bigint").alias(s),
        )

    base = agg(t.filter(~F.col("is_delta")), "n0", "s0")
    delta = agg(t.filter(F.col("is_delta")), "n1", "s1")
    merged = base.join(delta, "o_custkey", "full")
    return merged.select(
        "o_custkey",
        (F.coalesce("n0", F.lit(0)) + F.coalesce("n1", F.lit(0)))
        .cast("bigint")
        .alias("n_orders"),
        (F.coalesce("s0", F.lit(0)) + F.coalesce("s1", F.lit(0)))
        .cast("bigint")
        .alias("cents"),
    )
