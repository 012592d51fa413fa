"""Generate a ~10x synthetic slice of sf0.1 ("sf~1") for decade-scaling
evidence (round-6 verdict item #3).

/root/testdata tops out at sf0.1, so every "survives 100x" claim rests
on the 0.001/0.01/0.1 decade ratios. This tool manufactures one more
decade locally, using the engine itself, without touching /root/testdata:

- **lineitem x10** — replicas k=0..9 with re-keyed ids
  (``l_orderkey + k*200_000``, ``l_partkey + k*20_000``,
  ``l_suppkey + k*1_000``), mirroring real TPC-H sf growth where the
  order count AND the part/supplier key spaces scale together. The
  co-purchase graph the gr_ family builds therefore gains 10x nodes and
  10x edges (10 disjoint copies), and market baskets gain 10x orders
  over a 10x item vocabulary — the honest scale shape, not 10x
  duplicate rows collapsing into the same distinct edges.
- **documents x10** — ``doc_id + k*5_000``; for k>0 the word order is
  deterministically permuted per (doc, replica) by sorting tokens on
  ``md5(word:doc:k:pos)``. Vocabulary and per-doc length (the Zipf
  shape the prefix filter keys on) are preserved, while word-trigram
  shingle sets become essentially disjoint across replicas — matching
  a real corpus where new docs share vocabulary but not passages.
  Plain duplication would instead make every doc a 10-way exact
  near-dup and quadratically explode the pair output, which is a
  different (degenerate) workload.
- **embeddings x10** — ``vec_id + k*10_000``, vectors/labels copied.
  Brute-force kNN cost is O(n^2) in row count and value-independent,
  so exact replication prices the decade correctly; the LOO accuracy
  *value* is degenerate (each point's nearest neighbor is its own
  copy) and is not the measurement target.
- All other tables are copied byte-for-byte so any registry query can
  run against the directory.

Usage:
    python tools/make_sfx10.py [--out .sfx10] [--src /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import shutil
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402

from scalable_data_ingestion_spark.session import get_spark  # noqa: E402

COPY_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "events"]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default=".sfx10")
    args = ap.parse_args()

    out = Path(args.out)
    out.mkdir(parents=True, exist_ok=True)
    for t in COPY_TABLES:
        dst = out / f"{t}.parquet"
        if not dst.exists():
            shutil.copy(f"{args.src}/{t}.parquet", dst)

    spark = get_spark("make-sfx10")
    reps = spark.range(10).withColumnRenamed("id", "k")

    li = spark.read.parquet(f"{args.src}/lineitem.parquet")
    li10 = li.crossJoin(F.broadcast(reps)).select(
        (F.col("l_orderkey") + F.col("k") * 200_000).alias("l_orderkey"),
        (F.col("l_partkey") + F.col("k") * 20_000).alias("l_partkey"),
        (F.col("l_suppkey") + F.col("k") * 1_000).alias("l_suppkey"),
        *[c for c in li.columns if c not in ("l_orderkey", "l_partkey", "l_suppkey")],
    )
    li10.repartition(32).write.mode("overwrite").parquet(str(out / "lineitem.parquet"))

    emb = spark.read.parquet(f"{args.src}/embeddings.parquet")
    emb10 = emb.crossJoin(F.broadcast(reps)).select(
        (F.col("vec_id") + F.col("k") * 10_000).alias("vec_id"), "embedding", "label"
    )
    emb10.repartition(8).write.mode("overwrite").parquet(str(out / "embeddings.parquet"))

    docs = spark.read.parquet(f"{args.src}/documents.parquet")
    shuffled_text = F.expr(
        "concat_ws(' ', transform(array_sort(zip_with("
        "  split(trim(text), '\\\\s+'),"
        "  sequence(1, size(split(trim(text), '\\\\s+'))),"
        "  (w, i) -> struct(md5(concat(w, ':', cast(doc_id AS string), ':',"
        "                   cast(k AS string), ':', cast(i AS string))) AS key,"
        "            w AS w))), s -> s.w))"
    )
    docs10 = (
        docs.crossJoin(F.broadcast(reps))
        .withColumn("text", F.when(F.col("k") == 0, F.col("text")).otherwise(shuffled_text))
        .select(
            (F.col("doc_id") + F.col("k") * 5_000).alias("doc_id"),
            "text",
            "lang",
            "source",
            F.length("text").alias("n_chars"),
        )
    )
    docs10.repartition(8).write.mode("overwrite").parquet(str(out / "documents.parquet"))

    for t in ["lineitem", "documents", "embeddings"]:
        n = spark.read.parquet(str(out / f"{t}.parquet")).count()
        print(f"{t}: {n} rows")
    spark.stop()


if __name__ == "__main__":
    main()
