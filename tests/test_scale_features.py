"""Scale-posture tests: partition pruning, skew helpers, plan shapes."""

from __future__ import annotations

from pyspark.sql import functions as F

from scalable_data_ingestion_spark.operators.skew import (
    salted_topk_values,
    two_stage_count_distinct,
)
from scalable_data_ingestion_spark.storage import Warehouse


def test_partitioned_warehouse_prunes(spark, tmp_path):
    """orders partitioned by the month derived from order_date -> a
    month filter on the raw table scans one partition."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.range(1000).select(
        F.format_string("ORD-%04d", F.col("id")).alias("order_id"),
        F.make_date(F.lit(2024), (F.col("id") % 12 + 1).cast("int"), F.lit(1)).alias(
            "order_date"
        ),
        (F.col("id").cast("double") * 1.5).alias("total_amount"),
    )
    wh.save_orders(df)

    filtered = wh.table("orders").filter(F.col("order_month") == "2024-03")
    assert filtered.count() == 1000 // 12 + (1 if 3 <= 1000 % 12 else 0)

    plan = filtered._jdf.queryExecution().executedPlan().toString()
    # partition filter present and the scan reads only the matching dir
    assert "PartitionFilters" in plan
    assert "order_month" in plan.split("PartitionFilters")[1][:200]


def test_default_month_partitioning_prunes(spark, tmp_path):
    """Default save path derives order_month from order_date and hive-
    partitions by it; a month-bounded read prunes to one directory."""
    import os

    from pyspark.sql import functions as F

    wh = Warehouse(spark, str(tmp_path / "wh2"))
    df = spark.range(300).select(
        F.format_string("ORD-%04d", F.col("id")).alias("order_id"),
        F.date_add(
            F.lit("2024-01-01").cast("date"), (F.col("id") % 90).cast("int")
        ).alias("order_date"),
        (F.col("id").cast("double") * 2.0).alias("total_amount"),
    )
    wh.save_orders(df)

    dirs = sorted(
        d
        for d in os.listdir(str(tmp_path / "wh2" / "orders"))
        if d.startswith("order_month=")
    )
    assert dirs == ["order_month=2024-01", "order_month=2024-02", "order_month=2024-03"]

    feb = wh.read_orders_month("2024-02")
    plan = feb._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "order_month" in plan.split("PartitionFilters")[1][:200]
    # ids with (id % 90) in Feb 2024 days 31..59: 3 ids per residue
    assert feb.count() == 29 * 3
    assert "order_month" not in feb.columns  # derived key, not payload

    # full read keeps prior schema (no partition key leak) + upsert works
    wh.compact()
    assert wh.read_orders(order_by="order_id", desc=False).count() == 300


def test_two_stage_count_distinct_matches_naive(spark):
    df = spark.range(10000).select(
        (F.col("id") % 7).alias("k"),
        # skew: key 0 sees many more distinct values
        F.when(F.col("id") % 7 == 0, F.col("id")).otherwise(F.col("id") % 50).alias("v"),
    )
    got = {
        r["k"]: r["n_distinct_v"]
        for r in two_stage_count_distinct(df, "k", "v").collect()
    }
    naive = {
        r["k"]: r["n"]
        for r in df.groupBy("k").agg(F.countDistinct("v").alias("n")).collect()
    }
    assert got == naive


def test_salted_topk_matches_naive(spark):
    df = spark.range(5000).select(
        (F.col("id") % 4).alias("k"), (F.col("id") % 13).cast("string").alias("v")
    )
    got = sorted(
        (r["k"], r["v"], r["n"], r["rnk"])
        for r in salted_topk_values(df, "k", "v", k=2).collect()
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("k").orderBy(F.col("n").desc(), F.col("v"))
    naive = sorted(
        (r["k"], r["v"], r["n"], r["rnk"])
        for r in df.groupBy("k", "v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 2)
        .collect()
    )
    assert got == naive


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Bucketing both sides on the join key -> SortMergeJoin with no
    Exchange (the documented co-location upgrade for fact-fact joins at
    100 TB; SURVEY.md §7 / README scale notes)."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bktdb LOCATION '{tmp_path}/bktdb'")
    try:
        orders = spark.range(10000).select(
            F.col("id").alias("o_key"), (F.col("id") % 97).alias("o_val")
        )
        items = spark.range(30000).select(
            (F.col("id") % 10000).alias("i_key"), (F.col("id") % 13).alias("i_val")
        )
        orders.write.bucketBy(8, "o_key").sortBy("o_key").mode("overwrite").saveAsTable(
            "bktdb.orders_b"
        )
        items.write.bucketBy(8, "i_key").sortBy("i_key").mode("overwrite").saveAsTable(
            "bktdb.items_b"
        )

        ob = spark.table("bktdb.orders_b")
        ib = spark.table("bktdb.items_b")
        joined = ob.join(ib, ob.o_key == ib.i_key)
        # force sort-merge (disable broadcast) to expose the shuffle question
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = joined._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
            )
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-located: zero shuffle
        assert joined.count() == 30000
    finally:
        spark.sql("DROP DATABASE IF EXISTS bktdb CASCADE")


def test_salted_join_matches_plain_join(spark):
    from scalable_data_ingestion_spark.operators.skew import salted_join

    # 90% of rows share one hot key
    skewed = spark.range(20000).select(
        F.when(F.col("id") % 10 < 9, 7).otherwise(F.col("id") % 100).alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("dim_val")
    )
    got = salted_join(skewed, small, "k")
    plain = skewed.join(small, "k")
    assert got.count() == plain.count()
    g = sorted(map(tuple, got.select("k", "payload", "dim_val").collect()))
    p = sorted(map(tuple, plain.select("k", "payload", "dim_val").collect()))
    assert g == p


def test_bucketed_join_has_no_exchange(spark, tmp_path, sf_dir):
    """Two tables bucketed on the join key with equal bucket counts
    join without any shuffle — the co-located fact/fact join strategy
    for 100 TB scale."""
    wh = Warehouse(spark, str(tmp_path / "whb"))
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    ob = wh.save_bucketed(orders, "orders_bucketed", "o_custkey", buckets=8)
    cb = wh.save_bucketed(customer, "customer_bucketed", "c_custkey", buckets=8)

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = ob.join(cb, ob.o_custkey == cb.c_custkey).groupBy("c_mktsegment").count()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        n_rows = joined.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS orders_bucketed")
        spark.sql("DROP TABLE IF EXISTS customer_bucketed")

    assert n_rows > 0
    # the join itself is exchange-free: the only Exchange in the plan (if
    # any) belongs to the groupBy ABOVE the join, never below it
    join_part = plan.split("SortMergeJoin")[-1]
    assert "Exchange" not in join_part, join_part[:2000]
    assert "SelectedBucketsCount" in plan


def test_zorder_layout_skips_files(spark, tmp_path, sf_dir):
    """Z-ordered write yields per-file bounding boxes that are narrow in
    BOTH clustered dimensions (the precondition for 2-D min/max file
    skipping), where a date-sorted layout is full-width on customer."""
    import glob

    import pyarrow.parquet as pq

    from scalable_data_ingestion_spark.operators.layout import zorder_write

    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select(
            "o_orderkey",
            (F.col("o_custkey") % 256).cast("int").alias("cust"),
            (F.dayofyear("o_orderdate") % 256).cast("int").alias("day"),
        )
    )
    out = str(tmp_path / "zorders")
    zorder_write(orders, ("cust", "day"), out, n_files=8)

    spans = []
    for f in glob.glob(f"{out}/part-*.parquet"):
        md = pq.read_metadata(f)
        lo = {"cust": 1 << 30, "day": 1 << 30}
        hi = {"cust": -1, "day": -1}
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                name = col.path_in_schema
                if name in lo and col.statistics is not None:
                    lo[name] = min(lo[name], col.statistics.min)
                    hi[name] = max(hi[name], col.statistics.max)
        spans.append(
            ((hi["cust"] - lo["cust"]) / 255.0, (hi["day"] - lo["day"]) / 255.0)
        )

    assert len(spans) >= 4
    avg_cust = sum(s[0] for s in spans) / len(spans)
    avg_day = sum(s[1] for s in spans) / len(spans)
    # random/date-sorted layout => ~1.0 span on cust; z-order bounds both.
    assert avg_cust < 0.75, spans
    assert avg_day < 0.75, spans
    # and combined box area is far below the full domain
    avg_area = sum(s[0] * s[1] for s in spans) / len(spans)
    assert avg_area < 0.40, spans


def test_forget_customer_rewrites_only_affected_partitions(spark, tmp_path):
    """GDPR erasure removes the subject's rows and rewrites ONLY month
    partitions containing them; every other partition's files are
    byte-identical afterwards."""
    import glob
    import os

    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.range(300).select(
        F.format_string("ORD-%04d", F.col("id")).alias("order_id"),
        F.when(F.col("id") % 100 == 7, "target@x.com")
        .otherwise(F.format_string("u%d@x.com", F.col("id")))
        .alias("customer_email"),
        F.to_timestamp(
            F.format_string("2024-%02d-15", (F.col("id") % 3 + 1).cast("int"))
        ).alias("order_date"),
        (F.col("id").cast("double") * 2.0).alias("total_amount"),
    )
    wh.save_orders(df)
    root = str(tmp_path / "wh" / "orders")

    # subject rows live in months 1-3 where id%100==7 -> ids 7,107,207 ->
    # months (7%3)+1=2, (107%3)+1=3, (207%3)+1=1 ... all three months hit;
    # add an untouched month by appending one extra row in month 4.
    extra = spark.createDataFrame(
        [("ORD-9999", "safe@x.com", "2024-04-15 00:00:00", 1.0)],
        "order_id string, customer_email string, order_date string, total_amount double",
    ).withColumn("order_date", F.to_timestamp("order_date"))
    wh.save_orders(extra)

    before = {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{root}/order_month=2024-04/*.parquet")
    }
    assert before

    removed = wh.forget_customer("target@x.com")
    assert removed == 3

    remaining = wh.table("orders")
    assert remaining.filter(F.col("customer_email") == "target@x.com").count() == 0
    assert remaining.filter(F.col("customer_email") == "safe@x.com").count() == 1
    # non-subject rows in affected months survive
    assert remaining.count() == 300 + 1 - 3

    after = {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{root}/order_month=2024-04/*.parquet")
    }
    assert after == before  # untouched partition not rewritten


def test_forget_customer_drops_emptied_partition(spark, tmp_path):
    """A month where the subject was the only row disappears entirely."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [
            ("ORD-0001", "solo@x.com", "2024-01-15 00:00:00", 5.0),
            ("ORD-0002", "keep@x.com", "2024-02-15 00:00:00", 6.0),
        ],
        "order_id string, customer_email string, order_date string, total_amount double",
    ).withColumn("order_date", F.to_timestamp("order_date"))
    wh.save_orders(df)

    assert wh.forget_customer("solo@x.com") == 1
    remaining = wh.table("orders")
    assert remaining.count() == 1
    assert remaining.filter(F.col("customer_email") == "keep@x.com").count() == 1
    import os
    assert not os.path.isdir(str(tmp_path / "wh" / "orders" / "order_month=2024-01"))


def test_clustered_write_yields_per_key_ordered_runs(spark, tmp_path, sf_dir):
    """After clustered_write(events by user, time-ordered): each file
    holds whole users only, and every user's rows are contiguous and
    time-sorted within the file — streamable without re-sorting."""
    import glob

    import pyarrow.parquet as pq

    from scalable_data_ingestion_spark.operators.layout import clustered_write

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "event_id", "ts"
    )
    out = str(tmp_path / "clustered")
    clustered_write(ev, "user_id", ("ts", "event_id"), out, n_files=4)

    seen_users = {}
    for f in sorted(glob.glob(f"{out}/part-*.parquet")):
        tbl = pq.read_table(f).to_pydict()
        rows = list(zip(tbl["user_id"], tbl["ts"], tbl["event_id"]))
        assert rows == sorted(rows), f"file {f} not (user, time) sorted"
        for u in set(tbl["user_id"]):
            assert u not in seen_users or seen_users[u] == f, (
                f"user {u} split across {seen_users[u]} and {f}"
            )
            seen_users[u] = f
    assert len(seen_users) > 10


def test_forget_customer_unpartitioned_table(spark, tmp_path):
    """Erasure also works on a warehouse without month partitioning
    (no order_date column -> flat table rewrite path)."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [
            ("ORD-0001", "gone@x.com", 5.0),
            ("ORD-0002", "stay@x.com", 6.0),
            ("ORD-0003", "gone@x.com", 7.0),
        ],
        "order_id string, customer_email string, total_amount double",
    )
    wh.save_orders(df)
    assert wh.forget_customer("gone@x.com") == 2
    remaining = wh.table("orders")
    assert remaining.count() == 1
    assert remaining.filter(F.col("customer_email") == "stay@x.com").count() == 1
    # idempotent: a second call removes nothing
    assert wh.forget_customer("gone@x.com") == 0


def test_aqe_splits_skewed_join_partition(spark):
    """AQE's skew-join handling is the runtime fallback for key skew
    the salting helpers don't cover: with a hot join key, the skewed
    shuffle partition must be split into multiple tasks
    (OptimizeSkewedJoin -> AQEShuffleRead with skew=true), so one
    straggler task never serializes the stage at cluster scale."""
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1MB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1MB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        # hot key 0 carries ~95% of the fact side; payload is md5 text
        # so shuffle blocks don't compress away below the skew threshold
        fact = spark.range(200_000).select(
            F.when(F.col("id") % 20 != 0, 0).otherwise(F.col("id")).alias("k"),
            F.concat(F.md5(F.col("id").cast("string")), F.md5((F.col("id") + 1).cast("string"))).alias("payload"),
        )
        dim = spark.range(10_001).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("attr")
        )
        joined = fact.join(dim, "k").select("k", "payload")
        # collect() executes THIS DataFrame's own query execution, so
        # its AdaptiveSparkPlan is finalized (count() would run a
        # different, aggregated plan and leave this one unexecuted).
        # k=0: 190,000 hot rows + id=0; other matches: multiples of 20
        # up to 10,000 (500 rows)
        assert len(joined.collect()) == 190_501
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_zonemap_extents_form_tight_grid(spark, sf_dir):
    """The oracle-checked zone-map relation must show the 2-D skipping
    property quantitatively: 64 buckets, and every bucket's extent in
    EACH dimension stays near the ideal 1/8 of the domain (an 8x8
    Morton grid) — a one-dimensional sort would give ~1.0 extents in
    the unsorted dimension."""
    from scalable_data_ingestion_spark import registry

    registry.load_all()
    rows = registry.QUERIES["zo_zonemap_extents"](spark, sf_dir).collect()
    assert len(rows) == 64
    assert max(r["ck_extent"] for r in rows) < 0.2
    assert max(r["dy_extent"] for r in rows) < 0.2


def test_dynamic_partition_pruning(spark, tmp_path):
    """Star join: hive-partitioned fact x filtered dim -> the fact scan
    carries a dynamicpruning PartitionFilter, so only the dim-selected
    partitions are read (the 100 TB star-schema read path)."""
    fact = spark.range(200000).select(
        F.col("id").alias("f_id"),
        (F.col("id") % 50).cast("int").alias("part_key"),
        (F.col("id") % 997).alias("val"),
    )
    fact.write.mode("overwrite").partitionBy("part_key").parquet(
        f"{tmp_path}/fact"
    )
    dim = spark.range(50).select(
        F.col("id").cast("int").alias("d_key"),
        F.when(F.col("id") < 3, "hot").otherwise("cold").alias("tier"),
    )
    dim.write.mode("overwrite").parquet(f"{tmp_path}/dim")

    f = spark.read.parquet(f"{tmp_path}/fact")
    d = spark.read.parquet(f"{tmp_path}/dim")
    j = (
        f.join(d, f.part_key == d.d_key)
        .filter(d.tier == "hot")
        .groupBy("part_key")
        .count()
    )
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()
    assert j.count() == 3  # and it actually returns the 3 hot partitions


def test_runtime_bloom_filter_join(spark, tmp_path):
    """Shuffle join with a selective build side -> Spark injects a
    runtime Bloom filter (bloom_filter_agg / might_contain) that
    pre-screens the probe side map-side before the shuffle — the
    semi-join-reduction pattern that cuts shuffled bytes at 100 TB."""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        big = spark.range(500000).select(
            (F.col("id") % 10000).alias("k"), F.col("id").alias("v")
        )
        big.write.mode("overwrite").parquet(f"{tmp_path}/big")
        small = spark.range(20000).select(
            F.col("id").alias("k2"), (F.col("id") % 7).alias("grp")
        )
        small.write.mode("overwrite").parquet(f"{tmp_path}/small")
        b = spark.read.parquet(f"{tmp_path}/big")
        s = spark.read.parquet(f"{tmp_path}/small").filter(F.col("grp") == 3)
        j = b.join(s, b.k == s.k2).groupBy("grp").count()
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in opt
        assert "might_contain" in opt
        assert j.count() == 1
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_skew_strategy_auto_selects_salting_on_measured_shapes(
    spark, sf_dir, tmp_path
):
    """choose_skew_join_strategy picks 'salted' on EXACTLY the shapes
    where OptimizeSkewedJoin was measured unable to split (aggregate/
    cache-built side; single-mapper skewed side) and 'aqe' otherwise."""
    from scalable_data_ingestion_spark.operators.skew import (
        choose_skew_join_strategy,
        skew_resilient_join,
    )

    fact_src = spark.range(5000).select(
        F.when(F.col("id") % 10 < 9, 7).otherwise(F.col("id") % 50).alias("k"),
        F.col("id").alias("payload"),
    )
    fact_src.repartition(4).write.mode("overwrite").parquet(
        str(tmp_path / "fact_multi")
    )
    fact_src.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "fact_single")
    )
    dim_src = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("dim_val")
    )
    dim_src.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "dim"))

    fact_multi = spark.read.parquet(str(tmp_path / "fact_multi"))
    fact_single = spark.read.parquet(str(tmp_path / "fact_single"))
    dim = spark.read.parquet(str(tmp_path / "dim"))
    assert len(fact_multi.inputFiles()) > 1
    assert len(fact_single.inputFiles()) == 1

    # plain scan-shaped sides, many mappers: AQE path is safe
    strategy, reasons = choose_skew_join_strategy(fact_multi, dim)
    assert (strategy, reasons) == ("aqe", [])

    # measured shape 1a: dim built by an aggregation
    dim_agg = dim.groupBy("k").agg(F.max("dim_val").alias("dim_val"))
    strategy, reasons = choose_skew_join_strategy(fact_multi, dim_agg)
    assert strategy == "salted"
    assert any("Aggregate" in r for r in reasons)

    # measured shape 1b: dim served from cache
    dim_cached = dim.persist()
    dim_cached.count()
    try:
        strategy, reasons = choose_skew_join_strategy(fact_multi, dim_cached)
        assert strategy == "salted"
        assert any("InMemoryRelation" in r for r in reasons)
    finally:
        dim_cached.unpersist()

    # measured shape 2: skewed side map-only over ONE file (one mapper)
    strategy, reasons = choose_skew_join_strategy(fact_single, dim)
    assert strategy == "salted"
    assert any("single file" in r for r in reasons)

    # the auto join returns plain-join values on a blocked shape
    got = sorted(
        map(tuple, skew_resilient_join(fact_multi, dim_agg, "k").collect())
    )
    want = sorted(map(tuple, fact_multi.join(dim_agg, "k").collect()))
    assert got == want


def test_key_skew_stats_and_data_driven_downgrade(spark, tmp_path):
    """key_skew_stats returns exact distribution numbers, and
    skew_resilient_join with min_hot_share only pays the salting
    replication when the skew is REAL — a structurally-blocked but
    uniform join downgrades to the plain join."""
    from scalable_data_ingestion_spark.operators.skew import (
        key_skew_stats,
        skew_resilient_join,
    )

    hot = spark.range(1000).select(
        F.when(F.col("id") % 10 < 9, 7).otherwise(F.col("id") % 50).alias("k"),
        F.col("id").alias("payload"),
    )
    hot.repartition(4).write.mode("overwrite").parquet(str(tmp_path / "hot"))
    uniform = spark.range(1000).select(
        (F.col("id") % 50).alias("k"), F.col("id").alias("payload")
    )
    uniform.repartition(4).write.mode("overwrite").parquet(
        str(tmp_path / "uniform")
    )
    hot_df = spark.read.parquet(str(tmp_path / "hot"))
    uni_df = spark.read.parquet(str(tmp_path / "uniform"))

    stats = key_skew_stats(uni_df, "k")
    assert stats == {
        "n_rows": 1000,
        "n_keys": 50,
        "max_rows_per_key": 20,
        "top_key_share": 0.02,
    }
    assert key_skew_stats(hot_df, "k")["top_key_share"] == 0.9

    dim = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("dim_val")
    )
    dim.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "dim2"))
    dim_agg = (
        spark.read.parquet(str(tmp_path / "dim2"))
        .groupBy("k")
        .agg(F.max("dim_val").alias("dim_val"))
    )  # structurally blocked shape on the dim side

    def is_salted(df):
        return "Generate explode" in df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "simple"
        )

    # blocked + hot: salts; blocked + uniform: downgrades to plain
    assert is_salted(skew_resilient_join(hot_df, dim_agg, "k", min_hot_share=0.125))
    assert not is_salted(
        skew_resilient_join(uni_df, dim_agg, "k", min_hot_share=0.125)
    )
    # default (no data check) stays plan-only: both salt
    assert is_salted(skew_resilient_join(uni_df, dim_agg, "k"))
    # and values are identical on every path
    got = sorted(
        map(
            tuple,
            skew_resilient_join(hot_df, dim_agg, "k", min_hot_share=0.125).collect(),
        )
    )
    assert got == sorted(map(tuple, hot_df.join(dim_agg, "k").collect()))


def test_hilbert_beats_zorder_on_consecutive_bucket_locality(spark):
    """Per-bucket extents TIE at the 6-bit level (both curves induce
    the same 8x8 quadrant grid — measured, not assumed), so the
    Hilbert win must show where theory says it lives: consecutive
    buckets. The union bounding box of each adjacent bucket pair is
    strictly smaller under Hilbert on mean AND max (the z-curve jumps
    across the domain between quadrant blocks; Hilbert never does) —
    i.e. a reader scanning k consecutive files covers a compact region.
    Measured at sf0.01: mean 0.199M vs 0.112M, max 0.896M vs 0.113M."""
    from pyspark.sql import Window as W

    from scalable_data_ingestion_spark import registry

    sf = "/root/testdata/sf0.001"

    def pair_area_stats(name):
        df = registry.queries()[name](spark, sf)
        w = W.orderBy("bucket")
        pair = df.select(
            "ck_lo", "ck_hi", "dy_lo", "dy_hi",
            F.lag("ck_lo").over(w).alias("pcl"),
            F.lag("ck_hi").over(w).alias("pch"),
            F.lag("dy_lo").over(w).alias("pdl"),
            F.lag("dy_hi").over(w).alias("pdh"),
        ).filter(F.col("pcl").isNotNull())
        area = (
            (F.greatest("ck_hi", "pch") - F.least("ck_lo", "pcl") + 1).cast(
                "double"
            )
            * (F.greatest("dy_hi", "pdh") - F.least("dy_lo", "pdl") + 1)
        )
        r = pair.agg(F.avg(area).alias("mean"), F.max(area).alias("max")).first()
        return r["mean"], r["max"]

    z_mean, z_max = pair_area_stats("zo_zonemap_extents")
    h_mean, h_max = pair_area_stats("zo_hilbert_extents")
    assert h_mean < z_mean
    assert h_max < z_max
    # both layouts produce the full 64-bucket grid
    for name in ("zo_zonemap_extents", "zo_hilbert_extents"):
        assert registry.queries()[name](spark, sf).count() == 64
