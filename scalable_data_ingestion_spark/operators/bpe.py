"""BPE tokenizer merge training as unrolled declarative rounds.

Byte-pair encoding training is THE tokenizer-prep step of an LLM data
pipeline: repeatedly find the most frequent adjacent symbol pair in
the corpus and fuse it into a new symbol. Each round here is pure
relational algebra — no driver-side loop over words, no Python UDF:

  1. pair counts: explode each word's adjacent symbol pairs, weighted
     by the word's corpus count (classic BPE trains on the word-count
     table, not the raw corpus);
  2. best pair: a 1-row ``ORDER BY count DESC, pair LIMIT 1`` —
     deterministic total tie-break so both engines always pick the
     same merge;
  3. apply: a left-to-right fold over each word's symbols
     (``aggregate`` in Spark, ``list_reduce`` in DuckDB) joins the
     pair wherever it occurs non-overlappingly. The fold carries the
     symbols as a unit-separator-joined string, so "merge" is simply
     appending the right symbol with no separator — the same
     greedy-left semantics the reference BPE algorithm uses.

Scale shape: the ONE corpus-sized job is the word-count groupBy
(map-side combining); every training round then operates on the
VOCABULARY relation (distinct words x their symbol arrays), which is
bounded by the word-form universe, not the corpus. ``BPE_ROUNDS``
unrolled rounds = a linear chain of vocab-sized aggregates — the same
fixed-point unrolling policy as LPA (operators/graph.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import register
from ..session import local_frame

BPE_ROUNDS = 6
_SEP = "chr(31)"  # unit separator: never appears in corpus tokens

# Shared (Spark SQL == DuckDB SQL) fold-step condition: the
# accumulator's LAST symbol equals the merge pair's left element.
_LAST_IS_A = f"(acc = a OR right(acc, length(a) + 1) = concat({_SEP}, a))"
_FOLD_DUCK = (
    f"list_reduce(sym, (acc, x) -> CASE WHEN {_LAST_IS_A} AND x = b "
    f"THEN acc || x ELSE acc || {_SEP} || x END)"
)
_FOLD_SPARK = (
    f"aggregate(sym, '', (acc, x) -> CASE WHEN acc = '' THEN x "
    f"WHEN {_LAST_IS_A} AND x = b "
    f"THEN concat(acc, x) ELSE concat(acc, {_SEP}, x) END)"
)

# Round-10 optimization (guide §1.2 per-task work): the Spark-side
# merge application is a compiled regexp_replace over the
# separator-joined segmentation instead of the interpreted
# higher-order `aggregate` fold above (CodegenFallback, and the fold's
# per-symbol string concat is quadratic in word length). Java's regex
# scan is left-to-right over NON-OVERLAPPING matches, which is exactly
# the fold's greedy-left merge order, and the (?<![^\\x1f]) /
# (?![^\\x1f]) guards pin full-symbol boundaries (start/end of word or
# a separator) so a pair never matches inside a longer symbol — the
# same condition the fold's _LAST_IS_A check enforces. The fold stays
# the DuckDB oracle's definition; strict parity pins the equivalence.
_SEP_CH = "\x1f"


def _merge_pattern(a: str, b: str) -> str:
    import re as _re

    return (
        f"(?<![^{_SEP_CH}])" + _re.escape(a) + _SEP_CH + _re.escape(b) + f"(?![^{_SEP_CH}])"
    )


def _merge_repl(a: str, b: str) -> str:
    return (a + b).replace("\\", "\\\\").replace("$", "\\$")


def _pair_counts(seg: DataFrame) -> DataFrame:
    """Weighted adjacent-pair counts over the (word, wc, s) relation
    (s = separator-joined symbols)."""
    return (
        seg.select("wc", F.expr(f"split(s, {_SEP})").alias("sym"))
        .select(
            "wc",
            F.explode(
                F.expr(
                    "zip_with(slice(sym, 1, size(sym) - 1),"
                    "         slice(sym, 2, size(sym) - 1),"
                    "         (x, y) -> named_struct('a', x, 'b', y))"
                )
            ).alias("p"),
        )
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("wc").cast("bigint").alias("c"))
    )


def _round_sql(i: int) -> str:
    """DuckDB CTEs for training round ``i`` (1-based)."""
    return f"""pairs{i} AS (
      SELECT s.sym[j] AS a, s.sym[j + 1] AS b, CAST(sum(wc) AS BIGINT) AS c
      FROM seg{i - 1} s, unnest(range(1, len(sym))) AS u(j)
      GROUP BY 1, 2
    ),
    best{i} AS (SELECT a, b, c FROM pairs{i} ORDER BY c DESC, a, b LIMIT 1),
    seg{i} AS (
      SELECT word, wc, string_split({_FOLD_DUCK}, {_SEP}) AS sym
      FROM seg{i - 1} CROSS JOIN best{i}
    )"""


_BPE_ORACLE = f"""
WITH words AS (
  SELECT tok AS word, CAST(count(*) AS BIGINT) AS wc
  FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok
        FROM documents)
  GROUP BY tok
),
seg0 AS (SELECT word, wc, string_split(word, '') AS sym FROM words),
{",".join(_round_sql(i) for i in range(1, BPE_ROUNDS + 1))}
{" UNION ALL ".join(
    f"SELECT {i} AS round, a AS left_sym, b AS right_sym, "
    f"a || b AS merged, c AS pair_count FROM best{i}"
    for i in range(1, BPE_ROUNDS + 1)
)}
"""


@register("tok_bpe_merges", oracle=_BPE_ORACLE)
def tok_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first {BPE_ROUNDS} BPE merge rules learned from the corpus
    word-count table: (round, left, right, merged symbol, weighted
    pair count)."""
    docs = table(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(F.split(F.trim("text"), r"\s+")).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("wc"))
        .persist()
    )
    seg = words.select(
        "word", "wc", F.expr(f"concat_ws({_SEP}, split(word, ''))").alias("s")
    )
    # Round-10: the best pair is ONE row — collect it (TakeOrdered) and
    # fold it into the next round as literals, removing the per-round
    # crossJoin + broadcast build; the merge applies as a compiled
    # regexp (see _merge_pattern) instead of the interpreted fold.
    bests: list[tuple] = []
    for i in range(1, BPE_ROUNDS + 1):
        rows = _pair_counts(seg).orderBy(F.col("c").desc(), "a", "b").limit(1).collect()
        if not rows:
            seg = seg.filter(F.lit(False))
            continue
        a, b, c = rows[0].a, rows[0].b, rows[0].c
        bests.append((i, a, b, a + b, c))
        seg = seg.select(
            "word",
            "wc",
            F.regexp_replace("s", _merge_pattern(a, b), _merge_repl(a, b)).alias("s"),
        ).persist()
    return local_frame(
        spark,
        bests,
        "round int not null, left_sym string, right_sym string, merged string, "
        "pair_count bigint",
    )


_BPE_COMPRESSION_ORACLE = f"""
WITH words AS (
  SELECT tok AS word, CAST(count(*) AS BIGINT) AS wc
  FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok
        FROM documents)
  GROUP BY tok
),
seg0 AS (SELECT word, wc, string_split(word, '') AS sym FROM words),
{",".join(_round_sql(i) for i in range(1, BPE_ROUNDS + 1))}
SELECT (SELECT CAST(count(*) AS BIGINT) FROM words) AS n_word_forms,
       (SELECT CAST(sum(wc) AS BIGINT) FROM words) AS n_corpus_words,
       CAST(sum(wc * len(sym)) AS BIGINT) AS tokens_bpe,
       (SELECT CAST(sum(wc * len(sym)) AS BIGINT) FROM seg0) AS tokens_char,
       round(CAST((SELECT sum(wc * len(sym)) FROM seg0) AS DOUBLE)
             / sum(wc * len(sym)), 6) AS compression_ratio
FROM seg{BPE_ROUNDS}
"""


@register("tok_bpe_compression", oracle=_BPE_COMPRESSION_ORACLE)
def tok_bpe_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tokens-per-word compression achieved by the {BPE_ROUNDS}
    learned BPE merges — THE tokenizer figure of merit (chars-per-token
    falling is why BPE exists). Same training rounds as
    :func:`tok_bpe_merges`; the final segmentation's corpus-weighted
    symbol count is compared against the char baseline."""
    docs = table(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(F.split(F.trim("text"), r"\s+")).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("wc"))
        .persist()
    )
    seg = words.select(
        "word", "wc", F.expr(f"concat_ws({_SEP}, split(word, ''))").alias("s")
    )
    # Same collected-best + compiled-regexp rounds as tok_bpe_merges.
    for _ in range(BPE_ROUNDS):
        rows = _pair_counts(seg).orderBy(F.col("c").desc(), "a", "b").limit(1).collect()
        if not rows:
            seg = seg.filter(F.lit(False))
            continue
        a, b = rows[0].a, rows[0].b
        seg = seg.select(
            "word",
            "wc",
            F.regexp_replace("s", _merge_pattern(a, b), _merge_repl(a, b)).alias("s"),
        ).persist()
    totals = words.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_word_forms"),
        F.sum("wc").cast("bigint").alias("n_corpus_words"),
        F.sum(F.col("wc") * F.length("word")).cast("bigint").alias("tokens_char"),
    )
    return (
        seg.agg(
            F.sum(
                F.col("wc") * F.size(F.expr(f"split(s, {_SEP})"))
            ).cast("bigint").alias("tokens_bpe")
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "n_word_forms",
            "n_corpus_words",
            "tokens_bpe",
            "tokens_char",
            F.round(
                F.col("tokens_char").cast("double") / F.col("tokens_bpe"), 6
            ).alias("compression_ratio"),
        )
    )
