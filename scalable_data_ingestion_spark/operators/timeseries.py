"""Time-series resampling: date-spine gap fill with carry-forward.

Event logs are irregular; downstream consumers (feature stores, drift
monitors, forecasting) want a dense regular grid. ``ts_daily_fill``
resamples each user's event stream to a daily grid over the user's own
active span:

- build the per-user date spine with ``sequence(first_day, last_day)``
  + explode — map-side, no join against a calendar table;
- left-join the observed daily aggregates onto the spine;
- fill gaps: observed-day flag, zero-fill for additive measures, and
  last-observation-carried-forward (LOCF) for the running value via
  ``last(ignorenulls)`` over an ordered user window.

Scale notes:
- The spine explode produces exactly sum(span_days) rows — linear in
  the output, not |users| x |calendar|; a user active 3 days costs 3
  rows no matter how long the log runs.
- One shuffle keys the daily aggregate on (user_id, day); the spine
  join and the LOCF window reuse the same user_id partitioning
  (Catalyst plans a single Exchange chain, no re-shuffle).
- LOCF as `last(value, ignorenulls) over (rows unbounded preceding)`
  is a running-frame window — streaming-friendly state, no per-gap
  recursion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import table
from ._branches import explode_branches
from ..registry import register
from ..session import local_frame


@register(
    "ts_daily_fill",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             count(*) AS n_events, round(sum(value), 2) AS day_value
      FROM events GROUP BY 1, 2
    ),
    span AS (
      SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY user_id
    ),
    spine AS (
      SELECT user_id, CAST(g AS DATE) AS day
      FROM span, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS t(g)
    ),
    joined AS (
      SELECT s.user_id, s.day,
             coalesce(d.n_events, 0) AS n_events,
             d.day_value,
             CAST(d.user_id IS NOT NULL AS BOOLEAN) AS observed
      FROM spine s LEFT JOIN daily d USING (user_id, day)
    )
    SELECT user_id, day,
           CAST(n_events AS BIGINT) AS n_events,
           coalesce(day_value, 0.0) AS day_value,
           last_value(day_value IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_value,
           observed
    FROM joined
    """,
)
def ts_daily_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense daily grid per user with zero-fill and LOCF.

    ``sequence()`` builds each user's date spine inline (output-linear,
    no calendar join); gaps get n_events=0, day_value=0.0, and the
    carried-forward last observed value — the standard resample step
    before windowed feature extraction.
    """
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("day_value"),
    )
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = span.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    joined = spine.join(
        daily.withColumn("observed", F.lit(True)), ["user_id", "day"], "left"
    )
    locf = F.last("day_value", ignorenulls=True).over(
        W.partitionBy("user_id").orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return joined.select(
        "user_id",
        "day",
        F.coalesce("n_events", F.lit(0)).cast("bigint").alias("n_events"),
        F.coalesce("day_value", F.lit(0.0)).alias("day_value"),
        locf.alias("locf_value"),
        F.coalesce("observed", F.lit(False)).alias("observed"),
    )


# --------------------------------------------------------------------------
# Exponentially-weighted moving average: genuinely iterative per-key
# state (each output depends on the previous output), the one shape
# window frames cannot express. Spark side: applyInPandas — ONE shuffle
# on user_id, O(1) state per key, Arrow-batched; the batch twin of the
# streaming applyInPandasWithState pattern. Oracle: DuckDB recursive
# CTE runs the identical recurrence, so the hash check proves the
# escape hatch preserves exact semantics (alpha=0.25 and 1-alpha=0.75
# are dyadic, so both engines' doubles round identically at every
# step). The output is deliberately UNROUNDED: the recurrence
# produces bit-identical doubles in both engines, while decimal
# rounding of a double near a .5 ulp boundary is
# implementation-defined (DuckDB multiplies, Python rounds the exact
# binary value) and flipped one row in 30k at sf0.01.
# --------------------------------------------------------------------------
EWMA_ALPHA = 0.25


@register(
    "ts_ewma_daily",
    oracle=f"""
    WITH RECURSIVE daily AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             round(sum(value), 2) AS x,
             CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY CAST(date_trunc('day', ts) AS DATE)
             ) AS INTEGER) AS rn
      FROM events GROUP BY 1, 2
    ),
    rec AS (
      SELECT user_id, rn, day, x, x AS s FROM daily WHERE rn = 1
      UNION ALL
      SELECT d.user_id, d.rn, d.day, d.x,
             {EWMA_ALPHA} * d.x + {1 - EWMA_ALPHA} * r.s
      FROM daily d JOIN rec r ON d.user_id = r.user_id AND d.rn = r.rn + 1
    )
    SELECT user_id, day, x AS day_value, s AS ewma FROM rec
    """,
)
def ts_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily EWMA (alpha={EWMA_ALPHA}) of event value sums.

    The recurrence s_t = alpha*x_t + (1-alpha)*s_(t-1), s_1 = x_1 runs
    in an Arrow-batched applyInPandas over each user's day-sorted
    series — the canonical "output depends on previous output" operator
    that needs the per-key iterative escape hatch rather than a window
    frame.
    """
    import pandas as pd

    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.round(F.sum("value"), 2).alias("day_value"))

    # One applyInPandas call per USER pays a Python/Arrow round trip per
    # key (~10k tiny groups at sf0.1 — it benchmarked as the slowest
    # headline query). Group by a 64-way user bucket instead: each call
    # receives many users, sorts once, and runs one in-process loop that
    # resets state at user boundaries. Same arithmetic, same results,
    # two orders of magnitude fewer UDF invocations; bucket count is a
    # parallelism knob, not a semantic one.
    def ewma_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["user_id", "day"]).reset_index(drop=True)
        out = []
        s = 0.0
        prev_user = None
        for u, x in zip(pdf["user_id"], pdf["day_value"]):
            x = float(x)
            s = x if u != prev_user else EWMA_ALPHA * x + (1 - EWMA_ALPHA) * s
            prev_user = u
            out.append(s)
        pdf["ewma"] = out
        return pdf.drop(columns=["bucket"])

    return (
        daily.withColumn("bucket", (F.col("user_id") % 64).cast("int"))
        .groupBy("bucket")
        .applyInPandas(
            ewma_bucket,
            schema="user_id bigint, day date, day_value double, ewma double",
        )
    )


# --------------------------------------------------------------------------
# Day-of-week seasonal indices over order revenue — the
# seasonal-decomposition primitive (ratio-to-overall-mean method) that
# feeds demand forecasting and anomaly baselines (the volume-anomaly
# monitor, operators/monitor.py, flags deviations; this explains the
# weekly shape they deviate FROM).
#
# Exactness policy: daily revenue is summed in BIGINT cents; the
# day-of-week is computed ARITHMETICALLY from the epoch-day number
# (((days + 3) % 7) + 1, ISO 1=Mon) instead of engine dayofweek()
# functions, whose week-start conventions differ across engines. The
# per-dow / overall averages are scalar divisions of exact integers.
#
# Scale: one groupBy per calendar day (partial agg over the fact),
# then a 7-row rollup joined to a broadcast 1-row total.
# --------------------------------------------------------------------------
@register(
    "ts_dow_seasonality",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents
      FROM orders GROUP BY 1
    ),
    dowd AS (
      SELECT ((date_diff('day', DATE '1970-01-01', day) + 3) % 7) + 1 AS dow,
             cents
      FROM daily
    ),
    per_dow AS (
      SELECT dow, CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(cents) AS BIGINT) AS revenue_cents
      FROM dowd GROUP BY dow
    ),
    total AS (
      SELECT CAST(sum(n_days) AS BIGINT) AS all_days,
             CAST(sum(revenue_cents) AS BIGINT) AS all_cents
      FROM per_dow
    )
    SELECT CAST(dow AS INTEGER) AS dow, n_days, revenue_cents,
           round((CAST(revenue_cents AS DOUBLE) / n_days)
                 / (CAST(all_cents AS DOUBLE) / all_days), 6) AS seasonal_index
    FROM per_dow CROSS JOIN total
    """,
)
def ts_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO day-of-week seasonal indices of order revenue (index 1.0 =
    an average day; computed from exact BIGINT cent sums)."""
    orders = table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    dow = (
        (F.datediff("day", F.to_date(F.lit("1970-01-01"))) + 3) % 7 + 1
    ).cast("int")
    per_dow = daily.select(dow.alias("dow"), "cents").groupBy("dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("cents").cast("bigint").alias("revenue_cents"),
    )
    total = per_dow.agg(
        F.sum("n_days").cast("bigint").alias("all_days"),
        F.sum("revenue_cents").cast("bigint").alias("all_cents"),
    )
    return per_dow.crossJoin(F.broadcast(total)).select(
        "dow",
        "n_days",
        "revenue_cents",
        F.round(
            (F.col("revenue_cents").cast("double") / F.col("n_days"))
            / (F.col("all_cents").cast("double") / F.col("all_days")),
            6,
        ).alias("seasonal_index"),
    )


# --------------------------------------------------------------------------
# Rolling correlation of two behavioral series — trailing-14-day
# Pearson correlation between daily view counts and daily purchase
# counts. The cross-metric health signal: engagement and conversion
# normally co-move; a correlation collapse flags a broken funnel step
# even when each series' own volume looks fine (complementing the
# per-series z-scores in mon_daily_volume_anomaly).
#
# Exactness: the window accumulates the five regression primitives
# (n, sx, sy, sxx, syy, sxy) as INTEGER sums over a value-RANGE frame
# keyed on the epoch-day number (robust to calendar gaps); the
# correlation is one scalar expression per row. Windows with
# degenerate variance yield NULL, and only full 14-day windows emit.
#
# Scale: the daily series is dimension-sized (one row per day) after
# a single partial-aggregated groupBy of the event log; the window
# runs over that series, not the log.
# --------------------------------------------------------------------------
ROLL_CORR_DAYS = 14


@register(
    "ts_rolling_view_purchase_corr",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)
                 AS x,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
                 AS y
      FROM events GROUP BY 1
    ),
    keyed AS (
      SELECT day, date_diff('day', DATE '1970-01-01', day) AS dayn, x, y
      FROM daily
    ),
    win AS (
      SELECT day, x, y,
             count(*) OVER w AS n,
             sum(x) OVER w AS sx, sum(y) OVER w AS sy,
             sum(x * x) OVER w AS sxx, sum(y * y) OVER w AS syy,
             sum(x * y) OVER w AS sxy
      FROM keyed
      WINDOW w AS (ORDER BY dayn
                   RANGE BETWEEN {ROLL_CORR_DAYS - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT day, CAST(n AS INTEGER) AS n_days,
           round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                 / (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                    * sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)),
                 6) AS rolling_corr
    FROM win
    WHERE n = {ROLL_CORR_DAYS}
      AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
    """,
)
def ts_rolling_view_purchase_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-{ROLL_CORR_DAYS}-day Pearson correlation between daily
    view and purchase counts, from exact integer window sums."""
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("y"),
    )
    keyed = daily.withColumn(
        "dayn", F.datediff("day", F.to_date(F.lit("1970-01-01")))
    )
    w = W.orderBy("dayn").rangeBetween(-(ROLL_CORR_DAYS - 1), 0)
    win = keyed.select(
        "day",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    corr = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    return (
        win.filter(
            (n == ROLL_CORR_DAYS)
            & (n * F.col("sxx") - F.col("sx") * F.col("sx") > 0)
            & (n * F.col("syy") - F.col("sy") * F.col("sy") > 0)
        )
        .select("day", n.cast("int").alias("n_days"), F.round(corr, 6).alias("rolling_corr"))
    )


# --------------------------------------------------------------------------
# Holt's linear (double-exponential) smoothing — the trend-aware
# sibling of ts_ewma_daily and the simplest real forecasting
# primitive: per-user level + trend recurrences
#
#   l_t = a*x_t + (1-a)*(l_{t-1} + b_{t-1})      l_1 = x_1
#   b_t = g*(l_t - l_{t-1}) + (1-g)*b_{t-1}      b_1 = 0
#   one-step forecast f_{t+1} = l_t + b_t
#
# Same escape-hatch policy as the EWMA: output depends on previous
# output, so it runs as a 64-way-bucketed applyInPandas (one Arrow
# round trip per bucket, state reset at user boundaries) and is
# value-checked against a DuckDB recursive CTE running the identical
# recurrence. a and g are dyadic so every double rounds identically in
# both engines at every step; outputs stay unrounded (the EWMA's
# documented .5-ulp rounding hazard).
# --------------------------------------------------------------------------
HOLT_ALPHA = 0.25  # level smoothing (dyadic)
HOLT_GAMMA = 0.5  # trend smoothing (dyadic)


@register(
    "ts_holt_linear",
    oracle=f"""
    WITH RECURSIVE daily AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             round(sum(value), 2) AS x,
             CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY CAST(date_trunc('day', ts) AS DATE)
             ) AS INTEGER) AS rn
      FROM events GROUP BY 1, 2
    ),
    rec AS (
      SELECT user_id, rn, day, x, x AS l, CAST(0.0 AS DOUBLE) AS b
      FROM daily WHERE rn = 1
      UNION ALL
      SELECT d.user_id, d.rn, d.day, d.x,
             {HOLT_ALPHA} * d.x + {1 - HOLT_ALPHA} * (r.l + r.b),
             {HOLT_GAMMA} * (({HOLT_ALPHA} * d.x
                              + {1 - HOLT_ALPHA} * (r.l + r.b)) - r.l)
               + {1 - HOLT_GAMMA} * r.b
      FROM daily d JOIN rec r ON d.user_id = r.user_id AND d.rn = r.rn + 1
    )
    SELECT user_id, day, x AS day_value, l AS level, b AS trend,
           l + b AS forecast_next
    FROM rec
    """,
)
def ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Holt linear smoothing (alpha={HOLT_ALPHA},
    gamma={HOLT_GAMMA}) of daily event value sums, with the one-step
    forecast."""
    import pandas as pd

    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.round(F.sum("value"), 2).alias("day_value"))

    def holt_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["user_id", "day"]).reset_index(drop=True)
        levels, trends = [], []
        l = b = 0.0
        prev_user = None
        for u, x in zip(pdf["user_id"], pdf["day_value"]):
            x = float(x)
            if u != prev_user:
                l, b = x, 0.0
            else:
                l_new = HOLT_ALPHA * x + (1 - HOLT_ALPHA) * (l + b)
                b = HOLT_GAMMA * (l_new - l) + (1 - HOLT_GAMMA) * b
                l = l_new
            prev_user = u
            levels.append(l)
            trends.append(b)
        pdf["level"] = levels
        pdf["trend"] = trends
        pdf["forecast_next"] = pdf["level"] + pdf["trend"]
        return pdf.drop(columns=["bucket"])

    return (
        daily.withColumn("bucket", (F.col("user_id") % 64).cast("int"))
        .groupBy("bucket")
        .applyInPandas(
            holt_bucket,
            schema=(
                "user_id bigint, day date, day_value double,"
                " level double, trend double, forecast_next double"
            ),
        )
    )


# --------------------------------------------------------------------------
# Autocorrelation function of the daily-revenue series at lags 1..7 —
# the seasonality probe a forecasting pipeline runs before picking a
# model (a weekly cycle shows as a spike at lag 7).
#
# Scale shape: one fact-sized aggregate collapses orders to the day
# grain (calendar-bounded, ~2.5k rows at any corpus size). The series
# index comes from the range-partitioned offset ranking
# (``global_rank`` — never a single-partition window); the lag
# alignment is a hash equi-join on idx+lag over the bounded day
# relation. Sums of cents/cents² ride in DECIMAL(38,0) (cents² alone
# can exceed BIGINT), so every aggregate is exact under any shuffle
# order; the mean-centred ACF arithmetic is derived from those exact
# sums:
#   acf(L) = (Σ x_i x_{i+L} - m Σ x_i - m Σ x_{i+L} + c m²) / Σ(x - m)²
# with m the full-series mean — the standard "fixed-mean" estimator.
# --------------------------------------------------------------------------
ACF_MAX_LAG = 7

_ACF_DAILY = """
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents
      FROM orders GROUP BY 1
"""


@register(
    "ts_acf_daily_revenue",
    oracle=f"""
    WITH daily AS ({_ACF_DAILY}),
    ranked AS (
      SELECT cents, row_number() OVER (ORDER BY d) AS idx FROM daily
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(CAST(cents AS DOUBLE)) / count(*) AS m,
             sum(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT)) AS sxx,
             CAST(sum(CAST(cents AS HUGEINT)) AS DOUBLE) AS sx
      FROM ranked
    ),
    lags AS (SELECT unnest(range(1, {ACF_MAX_LAG + 1})) AS lag),
    pairs AS (
      SELECT l.lag,
             CAST(count(*) AS BIGINT) AS n_pairs,
             sum(CAST(a.cents AS HUGEINT) * CAST(b.cents AS HUGEINT)) AS sxy,
             CAST(sum(CAST(a.cents AS HUGEINT)) AS DOUBLE) AS sa,
             CAST(sum(CAST(b.cents AS HUGEINT)) AS DOUBLE) AS sb
      FROM lags l
      JOIN ranked a ON true
      JOIN ranked b ON b.idx = a.idx + l.lag
      GROUP BY l.lag
    )
    SELECT CAST(lag AS INTEGER) AS lag, n_pairs,
           round((CAST(sxy AS DOUBLE) - m * sa - m * sb + n_pairs * m * m)
                 / (CAST(sxx AS DOUBLE) - 2 * m * sx + n * m * m), 6) AS acf
    FROM pairs, stats
    ORDER BY lag
    """,
)
def ts_acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACF of daily revenue at lags 1..7 from exact decimal sums."""
    from ..catalog import table
    from ..functions.ranking import bounded_global_rank

    daily = (
        table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    ranked = bounded_global_rank(daily, [F.col("d")], "idx").select("cents", "idx")
    ranked = ranked.persist()
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    stats = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.sum(F.col("cents").cast("double")) / F.count(F.lit(1))).alias("m"),
        F.sum(dec("cents") * dec("cents")).alias("sxx"),
        F.sum(dec("cents")).cast("double").alias("sx"),
    )
    lags = spark.range(1, ACF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = ranked.alias("a").crossJoin(F.broadcast(lags))
    b = ranked.alias("b")
    pairs = (
        a.join(b, F.col("b.idx") == F.col("a.idx") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(dec("a.cents") * dec("b.cents")).alias("sxy"),
            F.sum(dec("a.cents")).cast("double").alias("sa"),
            F.sum(dec("b.cents")).cast("double").alias("sb"),
        )
    )
    j = pairs.crossJoin(F.broadcast(stats))
    m = F.col("m")
    num = (
        F.col("sxy").cast("double")
        - m * F.col("sa")
        - m * F.col("sb")
        + F.col("n_pairs") * m * m
    )
    den = F.col("sxx").cast("double") - 2 * m * F.col("sx") + F.col("n") * m * m
    return j.select(
        F.col("lag").cast("int").alias("lag"),
        "n_pairs",
        F.round(num / den, 6).alias("acf"),
    ).orderBy("lag")


# --------------------------------------------------------------------------
# CUSUM changepoint scan over daily revenue: cusum_i = P_i - i * (T/n)
# (prefix sum minus the same-length prefix of the global mean). A level
# shift in the series shows as a V/Λ extremum; the flagged day is the
# classic single-changepoint estimate.
#
# Scale shape: day-grain aggregate, then ONE range-partitioned
# prefix-sum pass (``global_running_sums``: running cents AND running
# index in the same slicing). P_i and i are exact integers; T/n is one
# deterministic double — both engines compute bit-identical cusum
# values, so even the argmax flag is hash-stable.
# --------------------------------------------------------------------------
@register(
    "ts_cusum_changepoint",
    oracle=f"""
    WITH daily AS ({_ACF_DAILY}),
    cum AS (
      SELECT d, cents,
             CAST(sum(cents) OVER w AS BIGINT) AS p,
             CAST(count(*) OVER w AS BIGINT) AS i
      FROM daily
      WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ),
    tot AS (
      SELECT CAST(sum(cents) AS BIGINT) AS t,
             CAST(count(*) AS BIGINT) AS n
      FROM daily
    ),
    scan AS (
      SELECT d, cents, (p - i * (t * 1.0 / n)) / 100.0 AS cusum
      FROM cum, tot
    ),
    peak AS (SELECT max(abs(cusum)) AS mx FROM scan)
    SELECT d, round(cents / 100.0, 2) AS revenue,
           round(cusum, 2) AS cusum,
           CAST(abs(cusum) = peak.mx AS BOOLEAN) AS is_changepoint
    FROM scan, peak
    """,
)
def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day CUSUM deviations with the max-|deviation| changepoint
    flag, from one range-partitioned prefix-sum pass."""
    from ..catalog import table
    from ..functions.ranking import bounded_running_sums

    daily = (
        table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    # day grain: calendar-bounded input -> bounded global window
    # (allowlisted; round-10 optimization)
    cum = bounded_running_sums(
        daily, [F.col("d")], {"p": F.col("cents"), "i": F.lit(1)}
    )
    tot = daily.agg(
        F.sum("cents").cast("bigint").alias("t"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    scan = cum.crossJoin(F.broadcast(tot)).select(
        "d",
        "cents",
        ((F.col("p") - F.col("i") * (F.col("t") * 1.0 / F.col("n"))) / 100.0).alias(
            "cusum"
        ),
    ).persist()
    peak = scan.agg(F.max(F.abs(F.col("cusum"))).alias("mx"))
    return scan.crossJoin(F.broadcast(peak)).select(
        "d",
        F.round(F.col("cents") / 100.0, 2).alias("revenue"),
        F.round("cusum", 2).alias("cusum"),
        (F.abs(F.col("cusum")) == F.col("mx")).alias("is_changepoint"),
    )


# --------------------------------------------------------------------------
# STL-lite additive decomposition of daily revenue: trend = 7-day
# centered moving average (defined only on full windows), seasonal =
# day-of-week mean of the detrended series, residual = the rest. The
# classic decomposition readout an anomaly monitor subtracts before
# alerting (companions: ts_dow_seasonality's indices, ts_holt_linear's
# forecast, ts_cusum_changepoint's level shifts).
#
# Exactness: daily cents are BIGINT; the 7-day window SUM is an integer
# (division by 7.0 is one correctly-rounded step); detrended values
# quantize to 1e6 fixed point before the per-DOW mean. Windows run over
# the POST-AGGREGATION daily series (calendar-bounded by construction —
# the documented dimension-sized-window policy).
# --------------------------------------------------------------------------
STL_FX = 10**6


_STL_CTES = f"""daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents
      FROM orders GROUP BY 1
    ),
    w AS (
      SELECT day, cents,
             ((date_diff('day', DATE '1970-01-01', day) + 3) % 7) + 1 AS dow,
             CASE WHEN count(*) OVER w7 = 7
                  THEN sum(cents) OVER w7 / 7.0 END AS trend_c
      FROM daily
      WINDOW w7 AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    det AS (
      SELECT *, CASE WHEN trend_c IS NOT NULL
                     THEN CAST(floor((cents - trend_c) * {STL_FX} + 0.5)
                          AS BIGINT) END AS det_fx
      FROM w
    ),
    seas AS (
      SELECT dow, CAST(sum(det_fx) AS BIGINT) AS sfx,
             CAST(count(det_fx) AS BIGINT) AS n
      FROM det WHERE det_fx IS NOT NULL GROUP BY dow
    )"""


@register(
    "ts_stl_daily_revenue",
    oracle=f"""
    WITH {_STL_CTES}
    SELECT d.day,
           round(d.cents / 100.0, 2) AS revenue,
           round(d.trend_c / 100.0, 6) AS trend,
           CASE WHEN d.trend_c IS NOT NULL
                THEN round(s.sfx / ({STL_FX}.0 * s.n) / 100.0, 6) END AS seasonal,
           CASE WHEN d.trend_c IS NOT NULL
                THEN round((d.cents - d.trend_c
                            - s.sfx / ({STL_FX}.0 * s.n)) / 100.0, 6)
           END AS residual
    FROM det d JOIN seas s USING (dow)
    """,
)
def ts_stl_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive trend / day-of-week seasonal / residual decomposition
    of daily order revenue (7-day centered MA trend, exact-arithmetic
    seasonal means)."""
    det, seas = _stl_parts(spark, sf_dir)
    seas_c = F.col("sfx") / (F.lit(float(STL_FX)) * F.col("n"))
    return det.join(F.broadcast(seas), "dow").select(
        "day",
        F.round(F.col("cents") / 100.0, 2).alias("revenue"),
        F.round(F.col("trend_c") / 100.0, 6).alias("trend"),
        F.when(F.col("trend_c").isNotNull(), F.round(seas_c / 100.0, 6)).alias(
            "seasonal"
        ),
        F.when(
            F.col("trend_c").isNotNull(),
            F.round((F.col("cents") - F.col("trend_c") - seas_c) / 100.0, 6),
        ).alias("residual"),
    )


def _stl_parts(spark: SparkSession, sf_dir: str):
    """(det, seas) relations of the STL-lite pipeline (exact cents)."""
    orders = table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    w7 = W.orderBy("day").rowsBetween(-3, 3)
    dow = ((F.datediff("day", F.to_date(F.lit("1970-01-01"))) + 3) % 7 + 1).cast(
        "int"
    )
    wd = daily.select(
        "day",
        "cents",
        dow.alias("dow"),
        F.when(
            F.count(F.lit(1)).over(w7) == 7, F.sum("cents").over(w7) / 7.0
        ).alias("trend_c"),
    )
    det = wd.withColumn(
        "det_fx",
        F.when(
            F.col("trend_c").isNotNull(),
            F.floor((F.col("cents") - F.col("trend_c")) * STL_FX + 0.5).cast(
                "bigint"
            ),
        ),
    )
    seas = (
        det.filter(F.col("det_fx").isNotNull())
        .groupBy("dow")
        .agg(
            F.sum("det_fx").cast("bigint").alias("sfx"),
            F.count("det_fx").cast("bigint").alias("n"),
        )
    )
    return det, seas


# --------------------------------------------------------------------------
# STL-residual anomaly days — the detector the decomposition above
# exists for: a day is anomalous when its residual (what trend and
# day-of-week seasonality CANNOT explain) exceeds 3 robust sigmas
# (MAD-scaled) of the residual distribution. Subtracting structure
# first is what separates "Tuesday is always slow" from "something
# broke on this Tuesday"; the MAD threshold keeps the anomalies from
# inflating their own gate (same robust policy as
# dq_price_outliers_mad).
# --------------------------------------------------------------------------
STL_MAD_K = 1.4826
STL_MAD_THRESHOLD = 3.0


@register(
    "ts_stl_residual_anomalies",
    oracle=f"""
    WITH {_STL_CTES},
    resid AS (
      SELECT d.day, d.cents,
             d.cents - d.trend_c - s.sfx / ({STL_FX}.0 * s.n) AS r_c
      FROM det d JOIN seas s USING (dow)
      WHERE d.trend_c IS NOT NULL
    ),
    gate AS (
      SELECT quantile_cont(abs(r_c), 0.5) AS mad_c FROM resid
    )
    SELECT r.day,
           round(r.cents / 100.0, 2) AS revenue,
           round(r.r_c / 100.0, 6) AS residual,
           round({STL_MAD_THRESHOLD} * {STL_MAD_K} * g.mad_c / 100.0, 6)
               AS threshold,
           CASE WHEN r.r_c > 0 THEN 'high' ELSE 'low' END AS direction
    FROM resid r CROSS JOIN gate g
    WHERE abs(r.r_c) > {STL_MAD_THRESHOLD} * {STL_MAD_K} * g.mad_c
    """,
)
def ts_stl_residual_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days whose STL residual exceeds {STL_MAD_THRESHOLD} MAD-scaled
    robust sigmas — structure-adjusted revenue anomalies."""
    det, seas = _stl_parts(spark, sf_dir)
    resid = (
        det.join(F.broadcast(seas), "dow")
        .filter(F.col("trend_c").isNotNull())
        .select(
            "day",
            "cents",
            (
                F.col("cents")
                - F.col("trend_c")
                - F.col("sfx") / (F.lit(float(STL_FX)) * F.col("n"))
            ).alias("r_c"),
        )
    )
    gate = resid.agg(F.percentile(F.abs("r_c"), F.lit(0.5)).alias("mad_c"))
    thr = STL_MAD_THRESHOLD * STL_MAD_K * F.col("mad_c")
    return (
        resid.crossJoin(F.broadcast(gate))
        .filter(F.abs("r_c") > thr)
        .select(
            "day",
            F.round(F.col("cents") / 100.0, 2).alias("revenue"),
            F.round(F.col("r_c") / 100.0, 6).alias("residual"),
            F.round(thr / 100.0, 6).alias("threshold"),
            F.when(F.col("r_c") > 0, "high").otherwise("low").alias("direction"),
        )
    )


# --------------------------------------------------------------------------
# Rolling-origin forecast backtest — the honest way to pick a
# forecasting baseline: for every origin day in the observed daily
# revenue series (after a 7-step warmup), forecast the origin's value
# with each method using ONLY prior days, then score MAE and sMAPE
# per method over all origins. Methods: naive (previous observed
# day), seasonal-naive (7 observed days back), and the trailing
# 7-day floor-mean. The winner's row is the yardstick any fancier
# model must beat (cf. mon_seasonal_naive_mape, which fixes one
# method and one split).
#
# Exactness: the series is BIGINT cents; forecasts are integers
# (lags / floor-mean), absolute errors are BIGINT, and the per-origin
# sMAPE quantizes to ppm (floor(2e6*|a-f|/(a+f))) before summation —
# no unordered float sums. Windows run over the observed daily series
# (calendar-bounded, dimension-sized — the allowlisted family).
# --------------------------------------------------------------------------
@register(
    "ts_rolling_origin_backtest",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents
      FROM orders GROUP BY 1
    ),
    feat AS (
      SELECT day, cents,
             CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn,
             lag(cents, 1) OVER (ORDER BY day) AS f_naive,
             lag(cents, 7) OVER (ORDER BY day) AS f_seasonal,
             CAST(sum(cents) OVER (ORDER BY day
                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) // 7
                  AS BIGINT) AS f_ma7
      FROM daily
    ),
    origins AS (SELECT * FROM feat WHERE rn > 7),
    stacked AS (
      SELECT day, cents, method,
             CASE method WHEN 'naive' THEN f_naive
                         WHEN 'seasonal_naive' THEN f_seasonal
                         ELSE f_ma7 END AS f
      FROM origins
      CROSS JOIN (SELECT unnest(['naive', 'seasonal_naive', 'ma7'])
                  AS method)
    ),
    scored AS (
      SELECT method, abs(cents - f) AS abs_err,
             CAST(floor(2000000.0 * abs(cents - f) / (cents + f)) AS BIGINT)
                 AS smape_ppm
      FROM stacked
    )
    SELECT method,
           CAST(count(*) AS BIGINT) AS n_origins,
           round(sum(abs_err) / (100.0 * count(*)), 4) AS mae,
           round(sum(smape_ppm) / (10000.0 * count(*)), 6) AS smape_pct
    FROM scored GROUP BY method
    """,
)
def ts_rolling_origin_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAE and sMAPE of naive / seasonal-naive / trailing-mean
    forecasts over every rolling origin of the daily revenue series."""
    orders = table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    w = W.orderBy("day")
    feat = daily.select(
        "day",
        "cents",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.lag("cents", 1).over(w).alias("f_naive"),
        F.lag("cents", 7).over(w).alias("f_seasonal"),
        F.expr(
            "sum(cents) OVER (ORDER BY day"
            " ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) DIV 7"
        )
        .cast("bigint")
        .alias("f_ma7"),
    )
    origins = feat.filter(F.col("rn") > 7)
    stacked = origins.select(
        "day",
        "cents",
        F.expr(
            "stack(3, 'naive', f_naive, 'seasonal_naive', f_seasonal,"
            " 'ma7', f_ma7) AS (method, f)"
        ),
    )
    abs_err = F.abs(F.col("cents") - F.col("f"))
    scored = stacked.select(
        "method",
        abs_err.alias("abs_err"),
        F.floor(2000000.0 * abs_err / (F.col("cents") + F.col("f")))
        .cast("bigint")
        .alias("smape_ppm"),
    )
    return scored.groupBy("method").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_origins"),
        F.round(F.sum("abs_err") / (100.0 * F.count(F.lit(1))), 4).alias("mae"),
        F.round(F.sum("smape_ppm") / (10000.0 * F.count(F.lit(1))), 6).alias(
            "smape_pct"
        ),
    )


# --------------------------------------------------------------------------
# Harmonic periodogram at candidate periods — "how much of the daily
# revenue variance does a single sine wave at period P explain?" for
# P in {weekly, fortnightly, monthly, quarterly}. This is the DFT
# power at selected frequencies, computed as an exact two-regressor
# OLS (cos, sin at period P) against the daily series, so the output
# is a true R^2 per period rather than an un-normalized spectrum bin.
#
# Trig determinism: cos/sin values are PRECOMPUTED at module import
# (math.cos over the P distinct phase residues) and quantized to 1e6
# fixed point; both engines consume the SAME integer table (a
# broadcast literal relation on the Spark side, an inline VALUES list
# in the oracle), so no libm call happens in either engine and the
# hash cannot drift. The statistic is defined BY the quantized table.
#
# Exactness: daily cents, the day counter, and every sum the OLS
# needs (x, x^2, x*cos_fx, cos_fx, cos_fx^2, cos_fx*sin_fx, ...) are
# exact integers (the x-weighted quadratic sums run in
# decimal(38)/HUGEINT so daily-cents magnitudes never overflow, then
# take ONE deterministic rounding to double at the aggregate output);
# the normal-equation solve and R^2 are fixed double expressions of
# those aggregates. The calendar, not the data volume, bounds the day
# count, so only per-day cents magnitude grows with scale — decimal
# sums keep exactness at any SF.
#
# Scale shape: one fact-sized groupBy to the calendar-bounded daily
# grain, a broadcast join against the 142-row harmonics literal, and
# a 4-group aggregate. No shuffle beyond the daily rollup.
# --------------------------------------------------------------------------
import math as _math

PGRAM_FX = 10**6
PGRAM_PERIODS = (7, 14, 30, 91)
_PGRAM_ROWS: list[tuple[int, int, int, int]] = [
    (
        p,
        r,
        round(_math.cos(2.0 * _math.pi * r / p) * PGRAM_FX),
        round(_math.sin(2.0 * _math.pi * r / p) * PGRAM_FX),
    )
    for p in PGRAM_PERIODS
    for r in range(p)
]
_PGRAM_VALUES = ", ".join(f"({p}, {r}, {c}, {s})" for p, r, c, s in _PGRAM_ROWS)


@register(
    "ts_harmonic_periodogram",
    oracle=f"""
    WITH harmonics_raw(period, r, cos_raw, sin_raw) AS (
      VALUES {_PGRAM_VALUES}
    ),
    harmonics AS (
      SELECT period, r, CAST(cos_raw AS BIGINT) AS cos_fx,
             CAST(sin_raw AS BIGINT) AS sin_fx
      FROM harmonics_raw
    ),
    daily AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                 AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents
      FROM orders GROUP BY 1
    ),
    joined AS (
      SELECT h.period, d.cents, h.cos_fx, h.sin_fx
      FROM daily d JOIN harmonics h ON d.d % h.period = h.r
    ),
    sums AS (
      SELECT period,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS sx,
             CAST(sum(CAST(cents AS HUGEINT) * cents) AS DOUBLE) AS sxx,
             CAST(sum(CAST(cents AS HUGEINT) * cos_fx) AS DOUBLE) AS sxc,
             CAST(sum(CAST(cents AS HUGEINT) * sin_fx) AS DOUBLE) AS sxs,
             CAST(sum(cos_fx) AS BIGINT) AS cc,
             CAST(sum(sin_fx) AS BIGINT) AS cs,
             CAST(sum(cos_fx * cos_fx) AS BIGINT) AS ccc,
             CAST(sum(sin_fx * sin_fx) AS BIGINT) AS css,
             CAST(sum(cos_fx * sin_fx) AS BIGINT) AS ccs
      FROM joined GROUP BY period
    ),
    ols AS (
      SELECT period, n,
             sxc / {PGRAM_FX}.0 - (sx * 1.0 / n) * (cc / {PGRAM_FX}.0) AS a,
             sxs / {PGRAM_FX}.0 - (sx * 1.0 / n) * (cs / {PGRAM_FX}.0) AS b,
             ccc / ({PGRAM_FX}.0 * {PGRAM_FX}.0)
               - (cc / {PGRAM_FX}.0) * (cc / {PGRAM_FX}.0) / n AS gcc,
             css / ({PGRAM_FX}.0 * {PGRAM_FX}.0)
               - (cs / {PGRAM_FX}.0) * (cs / {PGRAM_FX}.0) / n AS gss,
             ccs / ({PGRAM_FX}.0 * {PGRAM_FX}.0)
               - (cc / {PGRAM_FX}.0) * (cs / {PGRAM_FX}.0) / n AS gcs,
             sxx - (sx * 1.0 / n) * sx AS sxx_c
      FROM sums
    ),
    beta AS (
      SELECT period, n, a, b, sxx_c,
             (gss * a - gcs * b) / (gcc * gss - gcs * gcs) AS beta_c,
             (gcc * b - gcs * a) / (gcc * gss - gcs * gcs) AS beta_s
      FROM ols
    )
    SELECT period,
           n AS n_days,
           round((beta_c * a + beta_s * b) / sxx_c, 6) AS r2,
           round(sqrt(beta_c * beta_c + beta_s * beta_s) / 100.0, 4)
               AS amplitude_usd
    FROM beta
    ORDER BY period
    """,
)
def ts_harmonic_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-period harmonic R^2 of daily revenue (quantized-trig OLS at
    periods 7/14/30/91 days) with the fitted sine amplitude."""
    orders = table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.to_date(F.lit("1970-01-01"))
        ).alias("d")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    harmonics = local_frame(
        spark, _PGRAM_ROWS, "period int, r int, cos_fx bigint, sin_fx bigint"
    )
    joined = daily.join(
        F.broadcast(harmonics), daily.d % harmonics.period == harmonics.r
    )
    sums = joined.groupBy("period").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("sx"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents"))
        .cast("double")
        .alias("sxx"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cos_fx"))
        .cast("double")
        .alias("sxc"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("sin_fx"))
        .cast("double")
        .alias("sxs"),
        F.sum("cos_fx").cast("bigint").alias("cc"),
        F.sum("sin_fx").cast("bigint").alias("cs"),
        F.sum(F.col("cos_fx") * F.col("cos_fx")).cast("bigint").alias("ccc"),
        F.sum(F.col("sin_fx") * F.col("sin_fx")).cast("bigint").alias("css"),
        F.sum(F.col("cos_fx") * F.col("sin_fx")).cast("bigint").alias("ccs"),
    )
    fx = float(PGRAM_FX)
    a = F.col("sxc") / fx - (F.col("sx") * 1.0 / F.col("n")) * (F.col("cc") / fx)
    b = F.col("sxs") / fx - (F.col("sx") * 1.0 / F.col("n")) * (F.col("cs") / fx)
    gcc = F.col("ccc") / (fx * fx) - (F.col("cc") / fx) * (F.col("cc") / fx) / F.col("n")
    gss = F.col("css") / (fx * fx) - (F.col("cs") / fx) * (F.col("cs") / fx) / F.col("n")
    gcs = F.col("ccs") / (fx * fx) - (F.col("cc") / fx) * (F.col("cs") / fx) / F.col("n")
    sxx_c = F.col("sxx") - (F.col("sx") * 1.0 / F.col("n")) * F.col("sx")
    ols = sums.select("period", "n", a.alias("a"), b.alias("b"),
                      gcc.alias("gcc"), gss.alias("gss"), gcs.alias("gcs"),
                      sxx_c.alias("sxx_c"))
    det = F.col("gcc") * F.col("gss") - F.col("gcs") * F.col("gcs")
    beta = ols.select(
        "period", "n", "a", "b", "sxx_c",
        ((F.col("gss") * F.col("a") - F.col("gcs") * F.col("b")) / det).alias("beta_c"),
        ((F.col("gcc") * F.col("b") - F.col("gcs") * F.col("a")) / det).alias("beta_s"),
    )
    return beta.select(
        "period",
        F.col("n").alias("n_days"),
        F.round(
            (F.col("beta_c") * F.col("a") + F.col("beta_s") * F.col("b"))
            / F.col("sxx_c"),
            6,
        ).alias("r2"),
        F.round(
            F.sqrt(
                F.col("beta_c") * F.col("beta_c")
                + F.col("beta_s") * F.col("beta_s")
            )
            / 100.0,
            4,
        ).alias("amplitude_usd"),
    ).orderBy("period")


# --------------------------------------------------------------------------
# Per-region additive Holt-Winters (weekly season) over daily order
# revenue — the seasonal upgrade of ts_holt_linear: level + trend +
# a 7-slot seasonal state, one state machine per region key. The
# genuinely-iterative recurrence class (output depends on previous
# output through THREE coupled states) that window frames cannot
# express; runs as an Arrow-batched applyInPandas over each region's
# day-sorted series, value-checked against a DuckDB recursive CTE
# that carries the seven seasonal slots as columns.
#
# Init (standard): l0 = mean of the first week, b0 = 0, s_i = x_i -
# l0 for the first seven observations; the recurrence starts at the
# eighth day and emits (fitted-before-update, level, trend, seasonal).
# The seasonal index is the OBSERVATION counter mod 7, not the
# calendar weekday, so calendar gaps cannot desynchronize the slots.
#
# Determinism: x is cents/100.0 (one correctly-rounded division from
# the exact BIGINT daily cents); every recurrence step is the same
# literal double expression in both engines, so the trajectories are
# bit-identical and ship UNROUNDED (ts_ewma_daily precedent — Python
# round() is half-even, engine round() is half-away, so rounding in
# the kernel would be the one way to BREAK parity).
#
# Scale shape: one fact-sized groupBy to the (region, day) grain
# (broadcast dimension joins), then per-key sequential work whose
# length is calendar-bounded (~10^3 rows per key); keys fan out
# across executors — 1e6 store/region/SKU keys is the realistic
# deployment shape and parallelizes perfectly.
# --------------------------------------------------------------------------
HW_ALPHA = 0.3
HW_BETA = 0.05
HW_GAMMA = 0.2


def _hw_step_sql() -> str:
    """Recursive step columns shared by the oracle's seven slots."""
    slot = "((d.rn - 1) % 7)"
    s_cur = " ".join(
        f"WHEN {i} THEN r.s{i}" for i in range(7)
    )
    l_new = (
        f"{HW_ALPHA} * (d.x - (CASE {slot} {s_cur} END))"
        f" + {1 - HW_ALPHA} * (r.l + r.b)"
    )
    return slot, s_cur, l_new


_HW_SLOT, _HW_SCUR, _HW_LNEW = _hw_step_sql()
_HW_SUPD = ", ".join(
    f"CASE WHEN {_HW_SLOT} = {i} THEN {HW_GAMMA} * (d.x - ({_HW_LNEW}))"
    f" + {1 - HW_GAMMA} * r.s{i} ELSE r.s{i} END AS s{i}"
    for i in range(7)
)


@register(
    "ts_holt_winters_weekly",
    oracle=f"""
    WITH RECURSIVE daily AS (
      SELECT r_name AS region, CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY 1, 2
    ),
    seq AS (
      SELECT region, day, cents / 100.0 AS x,
             CAST(row_number() OVER (
               PARTITION BY region ORDER BY day) AS INTEGER) AS rn
      FROM daily
    ),
    init AS (
      SELECT region,
             sum(CASE WHEN rn <= 7 THEN x END) / 7.0 AS l0,
             {", ".join(f"max(CASE WHEN rn = {i + 1} THEN x END) AS x{i}"
                        for i in range(7))}
      FROM seq GROUP BY region
    ),
    rec AS (
      SELECT region, 7 AS rn, CAST(NULL AS DATE) AS day,
             CAST(NULL AS DOUBLE) AS x, CAST(NULL AS DOUBLE) AS fitted,
             l0 AS l, CAST(0.0 AS DOUBLE) AS b,
             {", ".join(f"x{i} - l0 AS s{i}" for i in range(7))}
      FROM init
      UNION ALL
      SELECT d.region, d.rn, d.day, d.x,
             r.l + r.b + (CASE {_HW_SLOT} {_HW_SCUR} END) AS fitted,
             {_HW_LNEW} AS l,
             {HW_BETA} * (({_HW_LNEW}) - r.l) + {1 - HW_BETA} * r.b AS b,
             {_HW_SUPD}
      FROM seq d JOIN rec r ON d.region = r.region AND d.rn = r.rn + 1
    )
    SELECT region, day, x AS revenue, fitted, l AS level, b AS trend,
           fitted - x AS fit_error
    FROM rec WHERE rn > 7
    """,
)
def ts_holt_winters_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-region additive Holt-Winters (alpha={HW_ALPHA},
    beta={HW_BETA}, gamma={HW_GAMMA}, weekly season) over daily
    revenue, with the one-step-ahead fit and its error."""
    import pandas as pd

    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    daily = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"),
            F.col("o_orderdate").cast("date").alias("day"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )

    def hw_region(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        out = []
        xs = [c / 100.0 for c in pdf["cents"]]
        if len(xs) >= 8:
            l = sum(xs[:7]) / 7.0
            b = 0.0
            s = [xs[i] - l for i in range(7)]
            for t in range(7, len(xs)):
                x = xs[t]
                slot = t % 7
                fitted = l + b + s[slot]
                l_new = HW_ALPHA * (x - s[slot]) + (1 - HW_ALPHA) * (l + b)
                b = HW_BETA * (l_new - l) + (1 - HW_BETA) * b
                s[slot] = HW_GAMMA * (x - l_new) + (1 - HW_GAMMA) * s[slot]
                l = l_new
                out.append(
                    (
                        pdf["region"].iat[t],
                        pdf["day"].iat[t],
                        x,
                        fitted,
                        l,
                        b,
                        fitted - x,
                    )
                )
        return pd.DataFrame(
            out,
            columns=[
                "region", "day", "revenue", "fitted",
                "level", "trend", "fit_error",
            ],
        )

    return daily.groupBy("region").applyInPandas(
        hw_region,
        schema=(
            "region string, day date, revenue double, fitted double,"
            " level double, trend double, fit_error double"
        ),
    )


# --------------------------------------------------------------------------
# Croston's method for intermittent demand — per-part demand-size and
# demand-interval EWMAs over the part's order-occurrence sequence,
# with the demand-rate forecast z/p. Classic supply-chain forecasting
# for sparse series (most parts sell on a few scattered days), where
# plain EWMA systematically lags: Croston smooths the SIZES and the
# GAPS separately.
#
# Recurrence class: per-key iterative (two coupled states over the
# occurrence sequence) — the ts_ewma_daily Arrow escape hatch, bucket-
# grouped so one applyInPandas call handles many parts; value-checked
# against a DuckDB recursive CTE. States are doubles with identical
# literal expressions in both engines; demand sums and day intervals
# are exact integers. Output is the FINAL state per part (one row per
# part with >= 2 occurrences), rounded engine-side in both engines.
#
# Scale shape: one (part, day) fact rollup, then per-key sequential
# work over occurrence counts (tens per part); millions of parts fan
# out across executors — the per-SKU forecasting deployment shape.
# --------------------------------------------------------------------------
CROSTON_ALPHA = 0.2


@register(
    "ts_croston_intermittent",
    oracle=f"""
    WITH RECURSIVE occ AS (
      SELECT l_partkey AS part, CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
             CAST(row_number() OVER (
               PARTITION BY l_partkey ORDER BY CAST(o_orderdate AS DATE)
             ) AS INTEGER) AS rn,
             date_diff('day',
               lag(CAST(o_orderdate AS DATE)) OVER (
                 PARTITION BY l_partkey ORDER BY CAST(o_orderdate AS DATE)),
               CAST(o_orderdate AS DATE)) AS gap
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1, 2
    ),
    rec AS (
      SELECT part, rn, CAST(q AS DOUBLE) AS z, CAST(NULL AS DOUBLE) AS p
      FROM occ WHERE rn = 1
      UNION ALL
      SELECT o.part, o.rn,
             {CROSTON_ALPHA} * o.q + {1 - CROSTON_ALPHA} * r.z,
             CASE WHEN r.p IS NULL THEN CAST(o.gap AS DOUBLE)
                  ELSE {CROSTON_ALPHA} * o.gap
                       + {1 - CROSTON_ALPHA} * r.p END
      FROM occ o JOIN rec r ON o.part = r.part AND o.rn = r.rn + 1
    ),
    last_n AS (
      SELECT part, CAST(max(rn) AS BIGINT) AS n_occ FROM occ GROUP BY part
    )
    SELECT r.part AS partkey, l.n_occ,
           round(r.z, 6) AS demand_size_ewma,
           round(r.p, 6) AS interval_ewma_days,
           round(r.z / r.p, 6) AS demand_rate_per_day
    FROM rec r JOIN last_n l ON r.part = l.part AND r.rn = l.n_occ
    WHERE l.n_occ >= 2
    """,
)
def ts_croston_intermittent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston intermittent-demand state (size EWMA, interval EWMA,
    rate forecast) per part, alpha={CROSTON_ALPHA}."""
    import pandas as pd

    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    occ = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("l_partkey").alias("part"),
            F.col("o_orderdate").cast("date").alias("day"),
        )
        .agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("q"))
    )

    def croston_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["part", "day"]).reset_index(drop=True)
        out = []
        z = p = 0.0
        prev_part = None
        prev_day = None
        n_occ = 0
        def flush():
            if prev_part is not None and n_occ >= 2:
                out.append((prev_part, n_occ, z, p, z / p))
        for part, day, q in zip(pdf["part"], pdf["day"], pdf["q"]):
            q = float(q)
            if part != prev_part:
                flush()
                z, p, n_occ = q, float("nan"), 1
            else:
                gap = float((day - prev_day).days)
                z = CROSTON_ALPHA * q + (1 - CROSTON_ALPHA) * z
                p = (
                    gap
                    if n_occ == 1
                    else CROSTON_ALPHA * gap + (1 - CROSTON_ALPHA) * p
                )
                n_occ += 1
            prev_part, prev_day = part, day
        flush()
        return pd.DataFrame(
            out, columns=["partkey", "n_occ", "z", "p", "rate"]
        )

    final = (
        occ.withColumn("bucket", (F.col("part") % 64).cast("int"))
        .groupBy("bucket")
        .applyInPandas(
            croston_bucket,
            schema=(
                "partkey bigint, n_occ bigint, z double, p double,"
                " rate double"
            ),
        )
    )
    return final.select(
        "partkey",
        "n_occ",
        F.round("z", 6).alias("demand_size_ewma"),
        F.round("p", 6).alias("interval_ewma_days"),
        F.round("rate", 6).alias("demand_rate_per_day"),
    )


# --------------------------------------------------------------------------
# Hurst exponent via rescaled-range (R/S) analysis of daily revenue —
# the long-range-dependence diagnostic (H > 0.5 = persistent trends,
# H < 0.5 = mean-reverting) a capacity planner reads before trusting
# any i.i.d.-based forecast interval. Window sizes 8/16/32/64 days;
# per full window, R = range of the cumulative mean-deviation and
# S = the window standard deviation; H = the log-log OLS slope of
# mean(R/S) against window size.
#
# Exactness: the within-window deviation (cents - mean) scales by w
# into the EXACT integer w*cents - sum(cents), so the cumulative
# deviations and their range are exact BIGINTs and the squared sum
# runs in HUGEINT/decimal (the 1/w factors cancel in R/S up to one
# fixed division). Per-window R/S quantizes to 1e-6 before the
# cross-window mean (exact sum); ln(w) values are Python literals
# baked into both engines, so the final OLS touches only two
# 4-element in-order folds.
#
# Scale shape: the series is calendar-bounded; windows partition by
# (size, bucket) — thousands of small partitions, never a global
# window (the idx comes from global_rank). At deployment scale the
# same query runs per key (store/SKU/tenant) with keys fanned out.
# --------------------------------------------------------------------------
HURST_SIZES = (8, 16, 32, 64)
HURST_FX = 10**6
_H_LNW = {w: _math.log(w) for w in HURST_SIZES}
_H_SX = sum(_H_LNW.values())
_H_SXX = sum(v * v for v in _H_LNW.values())
_H_K = len(HURST_SIZES)
_H_LNW_CASE = " ".join(f"WHEN {w} THEN {v!r}" for w, v in _H_LNW.items())


@register(
    "ts_hurst_rescaled_range",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents
      FROM orders GROUP BY 1
    ),
    ranked AS (
      SELECT cents, CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS idx
      FROM daily
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM ranked),
    sizes(w) AS (VALUES {", ".join(f"({w})" for w in HURST_SIZES)}),
    bucketed AS (
      SELECT CAST(s.w AS BIGINT) AS w, (r.idx - 1) // s.w AS b,
             r.idx, r.cents
      FROM ranked r CROSS JOIN sizes s, n
      WHERE (r.idx - 1) // s.w < n.n_days // s.w
    ),
    wsum AS (
      SELECT w, b, CAST(sum(cents) AS BIGINT) AS s_b
      FROM bucketed GROUP BY w, b
    ),
    dev AS (
      SELECT d.w, d.b, d.idx,
             d.w * d.cents - ws.s_b AS dv,
             CAST(sum(d.w * d.cents - ws.s_b) OVER (
               PARTITION BY d.w, d.b ORDER BY d.idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum
      FROM bucketed d JOIN wsum ws ON d.w = ws.w AND d.b = ws.b
    ),
    per_bucket AS (
      SELECT w, b,
             CAST(max(cum) - min(cum) AS BIGINT) AS r_fx,
             CAST(sum(CAST(dv AS HUGEINT) * dv) AS DOUBLE) AS ss
      FROM dev GROUP BY w, b
    ),
    rs AS (
      SELECT w,
             CAST(floor(r_fx / sqrt(ss / w) * {HURST_FX}) AS BIGINT) AS rs_fx
      FROM per_bucket WHERE ss > 0
    ),
    per_w AS (
      SELECT w, CAST(count(*) AS BIGINT) AS n_buckets,
             CAST(sum(rs_fx) AS BIGINT) AS s_rs
      FROM rs GROUP BY w
    ),
    folds AS (
      SELECT
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list(ln(s_rs * 1.0 / (n_buckets * {HURST_FX})) ORDER BY w)),
          (a, x) -> a + x) AS sy,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list((CASE w {_H_LNW_CASE} END)
               * ln(s_rs * 1.0 / (n_buckets * {HURST_FX})) ORDER BY w)),
          (a, x) -> a + x) AS sxy
      FROM per_w
    )
    SELECT (SELECT n_days FROM n) AS n_days,
           {" ,".join(
               f"(SELECT n_buckets FROM per_w WHERE w = {w}) AS nb_{w}"
               for w in HURST_SIZES)},
           {" ,".join(
               f"round((SELECT s_rs * 1.0 / (n_buckets * {HURST_FX})"
               f" FROM per_w WHERE w = {w}), 6) AS rs_{w}"
               for w in HURST_SIZES)},
           round(({_H_K} * sxy - {_H_SX!r} * sy)
                 / ({_H_K} * {_H_SXX!r} - {_H_SX!r} * {_H_SX!r}), 6)
               AS hurst
    FROM folds
    """,
)
def ts_hurst_rescaled_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent (R/S log-log slope over 8/16/32/64-day windows)
    of daily order revenue, with per-size mean rescaled ranges."""
    from ..functions.ranking import bounded_global_rank

    orders = table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    ranked = bounded_global_rank(daily, [F.col("day")], "idx").select("cents", "idx")
    n = ranked.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    sizes = local_frame(spark, [(w,) for w in HURST_SIZES], "w bigint")
    bucketed = (
        ranked.crossJoin(F.broadcast(sizes))
        .crossJoin(F.broadcast(n))
        .filter(
            ((F.col("idx") - 1) / F.col("w")).cast("bigint")
            < (F.col("n_days") / F.col("w")).cast("bigint")
        )
        .select(
            "w",
            ((F.col("idx") - 1) / F.col("w")).cast("bigint").alias("b"),
            "idx",
            "cents",
        )
    )
    wsum = bucketed.groupBy("w", "b").agg(
        F.sum("cents").cast("bigint").alias("s_b")
    )
    dv = F.col("w") * F.col("cents") - F.col("s_b")
    cum_w = (
        W.partitionBy("w", "b")
        .orderBy("idx")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    dev = bucketed.join(wsum, ["w", "b"]).select(
        "w",
        "b",
        "idx",
        dv.alias("dv"),
        F.sum(dv).over(cum_w).cast("bigint").alias("cum"),
    )
    per_bucket = dev.groupBy("w", "b").agg(
        (F.max("cum") - F.min("cum")).cast("bigint").alias("r_fx"),
        F.sum(F.col("dv").cast("decimal(38,0)") * F.col("dv"))
        .cast("double")
        .alias("ss"),
    )
    rs = per_bucket.filter(F.col("ss") > 0).select(
        "w",
        F.floor(
            F.col("r_fx") / F.sqrt(F.col("ss") / F.col("w")) * HURST_FX
        )
        .cast("bigint")
        .alias("rs_fx"),
    )
    per_w = rs.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum("rs_fx").cast("bigint").alias("s_rs"),
    ).persist()
    mean_rs = F.col("s_rs") * 1.0 / (F.col("n_buckets") * HURST_FX)
    lnw = F.lit(None).cast("double")
    for w_, v in _H_LNW.items():
        lnw = F.when(F.col("w") == w_, F.lit(v)).otherwise(lnw)
    folds = per_w.agg(
        F.aggregate(
            F.sort_array(
                F.collect_list(F.struct("w", "n_buckets", "s_rs"))
            ),
            F.lit(0.0),
            lambda acc, x: acc
            + F.log(x["s_rs"] * 1.0 / (x["n_buckets"] * HURST_FX)),
        ).alias("sy"),
        F.aggregate(
            F.sort_array(
                F.collect_list(F.struct("w", "n_buckets", "s_rs"))
            ),
            F.lit(0.0),
            lambda acc, x: acc
            + _lnw_of(x["w"])
            * F.log(x["s_rs"] * 1.0 / (x["n_buckets"] * HURST_FX)),
        ).alias("sxy"),
    )
    wide_cols = []
    for w_ in HURST_SIZES:
        wide_cols.append(
            F.max(F.when(F.col("w") == w_, F.col("n_buckets"))).alias(
                f"nb_{w_}"
            )
        )
        wide_cols.append(
            F.round(
                F.max(F.when(F.col("w") == w_, mean_rs)), 6
            ).alias(f"rs_{w_}")
        )
    wide = per_w.agg(*wide_cols)
    hurst = F.round(
        (_H_K * F.col("sxy") - _H_SX * F.col("sy"))
        / (_H_K * _H_SXX - _H_SX * _H_SX),
        6,
    ).alias("hurst")
    return (
        n.crossJoin(F.broadcast(wide))
        .crossJoin(F.broadcast(folds))
        .select("n_days", *[c for w_ in HURST_SIZES for c in (f"nb_{w_}", f"rs_{w_}")], hurst)
    )


def _lnw_of(col):
    """ln(w) literal lookup (Python-precomputed) for the Hurst fold."""
    expr = F.lit(None).cast("double")
    for w_, v in _H_LNW.items():
        expr = F.when(col == w_, F.lit(v)).otherwise(expr)
    return expr


# --------------------------------------------------------------------------
# Partial autocorrelation (PACF) of daily revenue via Durbin-Levinson
# — the AR-order selector that completes the ACF: acf(7) tells you a
# weekly cycle exists; pacf tells you how many AR lags actually carry
# independent signal once the shorter lags are regressed out.
#
# Cross-engine determinism: the recursion is UNROLLED at query-build
# time into one named intermediate per ladder level (a_k, then the
# updated phi_k_j columns), generated by the SAME Python loop for the
# Spark plan and the oracle CTE chain — both engines evaluate the
# identical arithmetic DAG over the identical exact-sum ACF inputs,
# so no lambda/recursion feature disparity can bite. rho_k are the
# unrounded fixed-double ACF values (exact decimal sums underneath).
#
# Scale shape: identical to ts_acf_daily_revenue (one fact rollup +
# bounded lag joins); the ladder itself is 1-row arithmetic.
# --------------------------------------------------------------------------
PACF_MAX_LAG = 7


def _dl_levels() -> list[tuple[str, list[tuple[str, str]]]]:
    """Durbin-Levinson ladder as (a_k expr, [(phi_col, expr), ...]) per
    level, over named columns rho{j}, a{k}, f{k}_{j}."""
    levels = []
    for k in range(1, PACF_MAX_LAG + 1):
        if k == 1:
            a_expr = "rho1"
        else:
            num = " - ".join(
                [f"rho{k}"]
                + [f"f{k - 1}_{j} * rho{k - j}" for j in range(1, k)]
            )
            den = " - ".join(
                ["1.0"] + [f"f{k - 1}_{j} * rho{j}" for j in range(1, k)]
            )
            a_expr = f"({num}) / ({den})"
        phis = [
            (f"f{k}_{j}", f"f{k - 1}_{j} - a{k} * f{k - 1}_{k - j}")
            for j in range(1, k)
        ] + [(f"f{k}_{k}", f"a{k}")]
        levels.append((a_expr, phis))
    return levels


def _pacf_oracle() -> str:
    rho_cols = ", ".join(
        f"max(CASE WHEN lag = {k} THEN rho END) AS rho{k}"
        for k in range(1, PACF_MAX_LAG + 1)
    )
    ctes = [f"r0 AS (SELECT {rho_cols} FROM acf)"]
    prev = "r0"
    for k, (a_expr, phis) in enumerate(_dl_levels(), start=1):
        ctes.append(f"s{k} AS (SELECT *, {a_expr} AS a{k} FROM {prev})")
        phi_sel = ", ".join(f"{e} AS {c}" for c, e in phis)
        ctes.append(f"p{k} AS (SELECT *, {phi_sel} FROM s{k})")
        prev = f"p{k}"
    unpivot = " UNION ALL ".join(
        f"SELECT CAST({k} AS INTEGER) AS lag, round(rho{k}, 6) AS acf,"
        f" round(a{k}, 6) AS pacf FROM {prev}"
        for k in range(1, PACF_MAX_LAG + 1)
    )
    return ",\n    ".join(ctes) + f"\n    {unpivot}"


@register(
    "ts_pacf_durbin_levinson",
    oracle=f"""
    WITH daily AS ({_ACF_DAILY}),
    ranked AS (
      SELECT cents, row_number() OVER (ORDER BY d) AS idx FROM daily
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(CAST(cents AS DOUBLE)) / count(*) AS m,
             sum(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT)) AS sxx,
             CAST(sum(CAST(cents AS HUGEINT)) AS DOUBLE) AS sx
      FROM ranked
    ),
    lags AS (SELECT unnest(range(1, {PACF_MAX_LAG + 1})) AS lag),
    pairs AS (
      SELECT l.lag,
             CAST(count(*) AS BIGINT) AS n_pairs,
             sum(CAST(a.cents AS HUGEINT) * CAST(b.cents AS HUGEINT)) AS sxy,
             CAST(sum(CAST(a.cents AS HUGEINT)) AS DOUBLE) AS sa,
             CAST(sum(CAST(b.cents AS HUGEINT)) AS DOUBLE) AS sb
      FROM lags l
      JOIN ranked a ON true
      JOIN ranked b ON b.idx = a.idx + l.lag
      GROUP BY l.lag
    ),
    acf AS (
      SELECT lag,
             (CAST(sxy AS DOUBLE) - m * sa - m * sb + n_pairs * m * m)
             / (CAST(sxx AS DOUBLE) - 2 * m * sx + n * m * m) AS rho
      FROM pairs, stats
    ),
    {_pacf_oracle()}
    """,
)
def ts_pacf_durbin_levinson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PACF of daily revenue at lags 1..{PACF_MAX_LAG} via the
    unrolled Durbin-Levinson ladder over exact-sum ACF inputs."""
    from ..functions.ranking import bounded_global_rank

    daily = (
        table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    ranked = bounded_global_rank(daily, [F.col("d")], "idx").select("cents", "idx")
    ranked = ranked.persist()
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    stats = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.sum(F.col("cents").cast("double")) / F.count(F.lit(1))).alias("m"),
        F.sum(dec("cents") * dec("cents")).alias("sxx"),
        F.sum(dec("cents")).cast("double").alias("sx"),
    )
    lags = spark.range(1, PACF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = ranked.alias("a").crossJoin(F.broadcast(lags))
    b = ranked.alias("b")
    pairs = (
        a.join(b, F.col("b.idx") == F.col("a.idx") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(dec("a.cents") * dec("b.cents")).alias("sxy"),
            F.sum(dec("a.cents")).cast("double").alias("sa"),
            F.sum(dec("b.cents")).cast("double").alias("sb"),
        )
    )
    m = F.col("m")
    rho = (
        F.col("sxy").cast("double")
        - m * F.col("sa")
        - m * F.col("sb")
        + F.col("n_pairs") * m * m
    ) / (
        F.col("sxx").cast("double")
        - 2 * m * F.col("sx")
        + F.col("n") * m * m
    )
    acf = pairs.crossJoin(F.broadcast(stats)).select(
        "lag", rho.alias("rho")
    )
    row = acf.agg(
        *[
            F.max(F.when(F.col("lag") == k, F.col("rho"))).alias(f"rho{k}")
            for k in range(1, PACF_MAX_LAG + 1)
        ]
    )
    for k, (a_expr, phis) in enumerate(_dl_levels(), start=1):
        row = row.select("*", F.expr(a_expr).alias(f"a{k}"))
        row = row.select(
            "*", *[F.expr(e).alias(c) for c, e in phis]
        )
    # Single reference to the one-row Durbin-Levinson grid (a per-lag
    # union of selects would re-run the lag-pair aggregate per lag).
    return explode_branches(
        row,
        [
            F.struct(
                F.lit(k).cast("int").alias("lag"),
                F.round(F.col(f"rho{k}"), 6).alias("acf"),
                F.round(F.col(f"a{k}"), 6).alias("pacf"),
            )
            for k in range(1, PACF_MAX_LAG + 1)
        ],
    )


# --------------------------------------------------------------------------
# Interrupted time series (segmented regression) — fit daily revenue
# ~ t separately before and after an intervention date and report the
# LEVEL JUMP and SLOPE CHANGE at the break: the quasi-experimental
# design for "we changed pricing on date X, did the trajectory
# move?" when no control group exists (the single-series companion
# to ev_synthetic_control and ev_did_estimate).
#
# Exactness: t centers on the split day (small integers), cents are
# exact BIGINT; each segment's OLS uses the decimal-exact moment-sum
# pattern; the jump/slope-change are fixed double expressions of the
# two closed-form fits evaluated AT the break point.
# --------------------------------------------------------------------------
ITS_SPLIT = "1995-06-01"


def _its_fit_sql(name: str, cond: str) -> str:
    return f"""{name} AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(t) AS BIGINT) AS st,
             CAST(sum(cents) AS BIGINT) AS sy,
             CAST(sum(CAST(t AS HUGEINT) * t) AS DOUBLE) AS stt,
             CAST(sum(CAST(t AS HUGEINT) * cents) AS DOUBLE) AS sty
      FROM daily WHERE {cond}
    ),
    {name}_fit AS (
      SELECT n,
             (n * sty - CAST(st AS DOUBLE) * sy)
               / (n * stt - CAST(st AS DOUBLE) * st) AS slope,
             (sy - (n * sty - CAST(st AS DOUBLE) * sy)
                   / (n * stt - CAST(st AS DOUBLE) * st) * st) * 1.0 / n
                 AS icept
      FROM {name}
    )"""


@register(
    "ts_intervention_its",
    oracle=f"""
    WITH daily AS (
      SELECT date_diff('day', DATE '{ITS_SPLIT}', CAST(o_orderdate AS DATE))
                 AS t,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents
      FROM orders GROUP BY 1
    ),
    {_its_fit_sql("pre", "t < 0")},
    {_its_fit_sql("post", "t >= 0")}
    SELECT pre_fit.n AS n_pre_days, post_fit.n AS n_post_days,
           round(pre_fit.slope / 100.0, 6) AS pre_slope_usd_per_day,
           round(post_fit.slope / 100.0, 6) AS post_slope_usd_per_day,
           round((post_fit.slope - pre_fit.slope) / 100.0, 6)
               AS slope_change,
           round((post_fit.icept - pre_fit.icept) / 100.0, 4)
               AS level_jump_usd
    FROM pre_fit, post_fit
    """,
)
def ts_intervention_its(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segmented-regression level jump and slope change of daily
    revenue at the {ITS_SPLIT} intervention date."""
    orders = table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.to_date(F.lit(ITS_SPLIT))
        ).alias("t")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    ).persist()
    dt = F.col("t").cast("decimal(38,0)")

    def fit(cond):
        seg = daily.filter(cond).agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("t").cast("bigint").alias("st"),
            F.sum("cents").cast("bigint").alias("sy"),
            F.sum(dt * F.col("t")).cast("double").alias("stt"),
            F.sum(dt * F.col("cents")).cast("double").alias("sty"),
        )
        slope = (
            F.col("n") * F.col("sty")
            - F.col("st").cast("double") * F.col("sy")
        ) / (
            F.col("n") * F.col("stt")
            - F.col("st").cast("double") * F.col("st")
        )
        return seg.select(
            "n",
            slope.alias("slope"),
            (
                (F.col("sy") - slope * F.col("st")) * 1.0 / F.col("n")
            ).alias("icept"),
        )

    pre = fit(F.col("t") < 0)
    post = fit(F.col("t") >= 0)
    pre = pre.select(
        F.col("n").alias("n_pre"), F.col("slope").alias("pre_slope"),
        F.col("icept").alias("pre_icept"),
    )
    post = post.select(
        F.col("n").alias("n_post"), F.col("slope").alias("post_slope"),
        F.col("icept").alias("post_icept"),
    )
    return pre.crossJoin(F.broadcast(post)).select(
        F.col("n_pre").alias("n_pre_days"),
        F.col("n_post").alias("n_post_days"),
        F.round(F.col("pre_slope") / 100.0, 6).alias("pre_slope_usd_per_day"),
        F.round(F.col("post_slope") / 100.0, 6).alias(
            "post_slope_usd_per_day"
        ),
        F.round(
            (F.col("post_slope") - F.col("pre_slope")) / 100.0, 6
        ).alias("slope_change"),
        F.round(
            (F.col("post_icept") - F.col("pre_icept")) / 100.0, 4
        ).alias("level_jump_usd"),
    )


# --------------------------------------------------------------------------
# Month-over-month / year-over-year revenue growth — the single most
# common BI time-series report, done hash-stably: monthly revenue in
# exact BIGINT cents, growth rates as ppm via cross-multiplied floor
# division (never a float ratio of float sums). The month grain is
# calendar-bounded (<= 84 rows for the 7-year corpus), so the lag
# window over the month axis is dimension-sized by construction; the
# heavy lifting is the one fact-table reduction.
# --------------------------------------------------------------------------
@register(
    "ts_mom_yoy_growth",
    oracle="""
    WITH monthly AS (
      SELECT year(o_orderdate) * 100 + month(o_orderdate) AS ym,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents
      FROM orders GROUP BY 1
    ),
    lagged AS (
      SELECT ym, cents,
             lag(cents, 1) OVER (ORDER BY ym) AS prev_m,
             lag(cents, 12) OVER (ORDER BY ym) AS prev_y
      FROM monthly
    )
    SELECT CAST(ym AS INTEGER) AS ym,
           round(cents / 100.0, 2) AS revenue,
           CASE WHEN prev_m > 0
                THEN (cents - prev_m) * 1000000 // prev_m END AS mom_ppm,
           CASE WHEN prev_y > 0
                THEN (cents - prev_y) * 1000000 // prev_y END AS yoy_ppm
    FROM lagged
    """,
)
def ts_mom_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue with exact-ppm MoM and YoY growth rates."""
    orders = table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias("ym")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    w = W.orderBy("ym")
    lagged = monthly.withColumn("prev_m", F.lag("cents", 1).over(w)).withColumn(
        "prev_y", F.lag("cents", 12).over(w)
    )
    return lagged.select(
        F.col("ym").cast("int").alias("ym"),
        F.round(F.col("cents") / 100.0, 2).alias("revenue"),
        F.when(
            F.col("prev_m") > 0,
            F.expr("(cents - prev_m) * CAST(1000000 AS BIGINT) DIV prev_m"),
        ).alias("mom_ppm"),
        F.when(
            F.col("prev_y") > 0,
            F.expr("(cents - prev_y) * CAST(1000000 AS BIGINT) DIV prev_y"),
        ).alias("yoy_ppm"),
    )


# --------------------------------------------------------------------------
# Ljung-Box portmanteau test on daily revenue — the standard residual
# whiteness diagnostic: Q = n(n+2) * sum_k rho_k^2 / (n-k), k=1..7.
# Autocorrelations come from the ACF query's exact decimal moment sums
# (doubles only in the final formula, identical IEEE steps cross-
# engine); the seven rho_k are PIVOTED into columns so Q's summation
# order is a fixed expression tree, never an order-dependent float
# aggregate. chi2 critical value (df=7, alpha=.05) baked as a literal.
# --------------------------------------------------------------------------
LB_CHI2_CRIT_7 = 14.067140  # chi2 0.95 quantile, df = 7


@register(
    "ts_ljung_box_q",
    oracle=f"""
    WITH daily AS ({_ACF_DAILY}),
    ranked AS (
      SELECT cents, row_number() OVER (ORDER BY d) AS idx FROM daily
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(CAST(cents AS DOUBLE)) / count(*) AS m,
             sum(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT)) AS sxx,
             CAST(sum(CAST(cents AS HUGEINT)) AS DOUBLE) AS sx
      FROM ranked
    ),
    lags AS (SELECT unnest(range(1, {ACF_MAX_LAG + 1})) AS lag),
    pairs AS (
      SELECT l.lag,
             CAST(count(*) AS BIGINT) AS n_pairs,
             sum(CAST(a.cents AS HUGEINT) * CAST(b.cents AS HUGEINT)) AS sxy,
             CAST(sum(CAST(a.cents AS HUGEINT)) AS DOUBLE) AS sa,
             CAST(sum(CAST(b.cents AS HUGEINT)) AS DOUBLE) AS sb
      FROM lags l
      JOIN ranked a ON true
      JOIN ranked b ON b.idx = a.idx + l.lag
      GROUP BY l.lag
    ),
    rho AS (
      SELECT lag,
             (CAST(sxy AS DOUBLE) - m * sa - m * sb + n_pairs * m * m)
               / (CAST(sxx AS DOUBLE) - 2 * m * sx + n * m * m) AS r
      FROM pairs, stats
    ),
    piv AS (
      SELECT
        {", ".join(f"max(CASE WHEN lag = {k} THEN r END) AS r{k}"
                   for k in range(1, ACF_MAX_LAG + 1))}
      FROM rho
    )
    SELECT n,
           {", ".join(f"round(r{k}, 6) AS rho{k}"
                      for k in range(1, ACF_MAX_LAG + 1))},
           round(n * (n + 2.0) * ({" + ".join(
               f"r{k} * r{k} / (n - {k})" for k in range(1, ACF_MAX_LAG + 1)
           )}), 6) AS q_stat,
           CAST({ACF_MAX_LAG} AS INTEGER) AS dof,
           CASE WHEN n * (n + 2.0) * ({" + ".join(
               f"r{k} * r{k} / (n - {k})" for k in range(1, ACF_MAX_LAG + 1)
           )}) > {LB_CHI2_CRIT_7} THEN 1 ELSE 0 END AS reject_white_noise
    FROM piv, stats
    """,
)
def ts_ljung_box_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box Q over daily-revenue autocorrelations (lags 1..7),
    fixed-order expression arithmetic on exact decimal moments."""
    from ..catalog import table
    from ..functions.ranking import bounded_global_rank

    daily = (
        table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    ranked = bounded_global_rank(daily, [F.col("d")], "idx").select("cents", "idx")
    ranked = ranked.persist()
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    stats = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.sum(F.col("cents").cast("double")) / F.count(F.lit(1))).alias("m"),
        F.sum(dec("cents") * dec("cents")).alias("sxx"),
        F.sum(dec("cents")).cast("double").alias("sx"),
    )
    lags = ranked.sparkSession.range(1, ACF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = ranked.alias("a").crossJoin(F.broadcast(lags))
    b = ranked.alias("b")
    pairs = (
        a.join(b, F.col("b.idx") == F.col("a.idx") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(dec("a.cents") * dec("b.cents")).alias("sxy"),
            F.sum(dec("a.cents")).cast("double").alias("sa"),
            F.sum(dec("b.cents")).cast("double").alias("sb"),
        )
    )
    m = F.col("m")
    rho = pairs.crossJoin(F.broadcast(stats)).select(
        "lag",
        "n",
        (
            (
                F.col("sxy").cast("double")
                - m * F.col("sa")
                - m * F.col("sb")
                + F.col("n_pairs") * m * m
            )
            / (
                F.col("sxx").cast("double")
                - 2 * m * F.col("sx")
                + F.col("n") * m * m
            )
        ).alias("r"),
    )
    piv = rho.groupBy("n").agg(
        *[
            F.max(F.when(F.col("lag") == k, F.col("r"))).alias(f"r{k}")
            for k in range(1, ACF_MAX_LAG + 1)
        ]
    )
    q_expr = None
    for k in range(1, ACF_MAX_LAG + 1):
        term = F.col(f"r{k}") * F.col(f"r{k}") / (F.col("n") - k)
        q_expr = term if q_expr is None else q_expr + term
    q = F.col("n") * (F.col("n") + 2.0) * q_expr
    return piv.select(
        "n",
        *[F.round(F.col(f"r{k}"), 6).alias(f"rho{k}")
          for k in range(1, ACF_MAX_LAG + 1)],
        F.round(q, 6).alias("q_stat"),
        F.lit(ACF_MAX_LAG).cast("int").alias("dof"),
        F.when(q > LB_CHI2_CRIT_7, 1).otherwise(0).alias(
            "reject_white_noise"
        ),
    )


# --------------------------------------------------------------------------
# Seasonal MASE — the scale-free forecast-accuracy companion to
# mon_seasonal_naive_mape: the lag-7 (seasonal-naive) forecast's MAE
# scaled by the lag-1 (naive) MAE, as an EXACT integer rational
# (mase = (mae7_sum * n1) / (mae1_sum * n7) — absolute cent errors
# never touch floats). MASE < 1 means weekly seasonality genuinely
# helps. Day-grain lag joins on the ranked axis, fact-linear below.
# --------------------------------------------------------------------------
@register(
    "eval_seasonal_naive_mase",
    oracle=f"""
    WITH daily AS ({_ACF_DAILY}),
    ranked AS (
      SELECT cents, row_number() OVER (ORDER BY d) AS idx FROM daily
    ),
    e7 AS (
      SELECT CAST(count(*) AS BIGINT) AS n7,
             CAST(sum(abs(a.cents - b.cents)) AS BIGINT) AS mae7_sum
      FROM ranked a JOIN ranked b ON a.idx = b.idx + 7
    ),
    e1 AS (
      SELECT CAST(count(*) AS BIGINT) AS n1,
             CAST(sum(abs(a.cents - b.cents)) AS BIGINT) AS mae1_sum
      FROM ranked a JOIN ranked b ON a.idx = b.idx + 1
    )
    SELECT n7, mae7_sum, n1, mae1_sum,
           mae7_sum * n1 AS mase_num,
           mae1_sum * n7 AS mase_den,
           round(CAST(mae7_sum AS DOUBLE) * n1 / (CAST(mae1_sum AS DOUBLE) * n7), 6)
               AS mase
    FROM e7, e1
    """,
)
def eval_seasonal_naive_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE of the lag-7 seasonal-naive forecast vs the lag-1 naive
    scale, as an exact integer rational."""
    from ..catalog import table
    from ..functions.ranking import bounded_global_rank

    daily = (
        table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    ranked = bounded_global_rank(daily, [F.col("d")], "idx").select("cents", "idx")
    ranked = ranked.persist()

    def lag_err(k: int, n_col: str, s_col: str) -> DataFrame:
        a, b = ranked.alias("a"), ranked.alias("b")
        return a.join(b, F.col("a.idx") == F.col("b.idx") + k).agg(
            F.count(F.lit(1)).cast("bigint").alias(n_col),
            F.sum(F.abs(F.col("a.cents") - F.col("b.cents")))
            .cast("bigint")
            .alias(s_col),
        )

    e7 = lag_err(7, "n7", "mae7_sum")
    e1 = lag_err(1, "n1", "mae1_sum")
    return e7.crossJoin(F.broadcast(e1)).select(
        "n7",
        "mae7_sum",
        "n1",
        "mae1_sum",
        (F.col("mae7_sum") * F.col("n1")).cast("bigint").alias("mase_num"),
        (F.col("mae1_sum") * F.col("n7")).cast("bigint").alias("mase_den"),
        F.round(
            F.col("mae7_sum").cast("double")
            * F.col("n1")
            / (F.col("mae1_sum").cast("double") * F.col("n7")),
            6,
        ).alias("mase"),
    )
