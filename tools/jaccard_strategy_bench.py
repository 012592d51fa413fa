"""Prefix-filter vs exhaustive-index Jaccard join on a Zipf corpus.

The provided synthetic documents table has a 31-token uniform
vocabulary — no shingle discriminates (see the strategy note in
operators/prefixjoin.py) — so this tool generates the corpus shape the
AllPairs/PPJoin family was invented for and measures both exact-join
strategies on it at equal output:

- vocabulary of ``VOCAB`` words with Zipf(s=1.1) frequencies (a head
  of stop-word-like tokens that dominates sum(df²), a long df=1..2
  tail),
- ``N_DOCS`` documents of 40-120 tokens drawn i.i.d. from that
  distribution (seeded numpy — fully deterministic),
- every ``DUP_EVERY``-th doc re-emitted with ~10% of its tokens
  mutated, so true Jaccard>=0.6 near-dup pairs exist.

Both strategies run over the SAME uncapped word-3-gram shingle
relation; outputs are asserted identical before timings are reported.

Usage:  python tools/jaccard_strategy_bench.py [--docs 20000]
Prints one timing line per (strategy, run) and a final summary row for
SCALING.md.
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import numpy as np


def make_corpus(n_docs: int, vocab: int = 30000, seed: int = 7):
    """Deterministic Zipf corpus as a list[(doc_id, text)]."""
    rng = np.random.default_rng(seed)
    ranks = np.arange(1, vocab + 1)
    probs = 1.0 / ranks**1.1
    probs /= probs.sum()
    words = np.array([f"w{i}" for i in range(vocab)])
    docs = []
    doc_id = 0
    for base in range(n_docs):
        length = int(rng.integers(40, 121))
        toks = words[rng.choice(vocab, size=length, p=probs)]
        docs.append((doc_id, " ".join(toks)))
        doc_id += 1
        if base % 20 == 0:  # inject a near-duplicate
            mut = toks.copy()
            n_mut = max(1, length // 10)
            idx = rng.choice(length, size=n_mut, replace=False)
            mut[idx] = words[rng.choice(vocab, size=n_mut, p=probs)]
            docs.append((doc_id, " ".join(mut)))
            doc_id += 1
    return docs


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=20000)
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from scalable_data_ingestion_spark.operators.dedup import (
        _jaccard_pairs,
        doc_shingles,
    )
    from scalable_data_ingestion_spark.operators.prefixjoin import (
        _prefix_jaccard,
    )

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "64g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.createDataFrame(
        make_corpus(args.docs), "doc_id: long, text: string"
    ).repartition(32).cache()
    n = docs.count()

    sh = doc_shingles(docs).cache()
    postings = sh.count()
    dfstats = (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .agg(
            F.count(F.lit(1)).alias("vocab"),
            F.max("df").alias("max_df"),
            F.sum(F.col("df") * F.col("df")).alias("sum_df2"),
        )
        .first()
    )
    print(
        f"docs={n} postings={postings} shingle_vocab={dfstats['vocab']} "
        f"max_df={dfstats['max_df']} sum_df2={dfstats['sum_df2']}",
        flush=True,
    )

    results = {}
    timings = {}
    for label, fn in [
        ("prefix", lambda: _prefix_jaccard(sh)),
        ("exhaustive", lambda: _jaccard_pairs(sh, 0.6)),
    ]:
        times = []
        for i in range(args.runs):
            t = time.time()
            out = fn()
            rows = out.count()
            dt = time.time() - t
            times.append(dt)
            print(f"{label} run{i}: {dt:.2f}s rows={rows}", flush=True)
        results[label] = {
            (r["doc_a"], r["doc_b"], r["jaccard"]) for r in fn().collect()
        }
        timings[label] = min(times)

    assert results["prefix"] == results["exhaustive"], (
        len(results["prefix"]),
        len(results["exhaustive"]),
    )
    print(
        f"SUMMARY docs={n} pairs={len(results['prefix'])} "
        f"prefix_best={timings['prefix']:.2f}s "
        f"exhaustive_best={timings['exhaustive']:.2f}s "
        f"speedup={timings['exhaustive'] / timings['prefix']:.2f}x"
    )


if __name__ == "__main__":
    main()
