"""Corpus-scale text operators: duplicated-span coverage, RAG chunking,
and unigram language-model quality scoring.

Three more operations a large-scale training-data pipeline needs
(complementing ``operators/dedup.py`` document-level dedup and
``operators/curation.py`` repetition/PII signals):

- **Duplicated-span coverage** (ExactSubstr-style, cf. Lee et al. 2021,
  "Deduplicating Training Data Makes Language Models Better"): find
  every word n-gram that occurs >=2 times corpus-wide, and per document
  compute the fraction of tokens covered by at least one such
  duplicated span. Documents that are mostly duplicated spans are
  boilerplate/templates and get flagged. This is the document-granular
  rollup of the suffix-array substring-dedup idea, expressed
  relationally: span fingerprints -> corpus-wide frequency -> coverage
  union per document.
- **Token-window chunking with overlap** — the RAG/context-window
  preprocessing step: split each document into W-token chunks with
  stride S (overlap W-S), last chunk clamped, no chunk fully contained
  in its predecessor.
- **Unigram log-probability scoring** (CCNet-style, cf. Wenzek et al.
  2020): score each document by its mean per-token log-probability
  under the corpus unigram distribution; far-below-average docs are
  outliers (gibberish / wrong-language / boilerplate).

Scale notes (100 TB corpus):
- ``dd_dupspan_coverage``: the only wide operations are (1) the span
  frequency count — a window count keyed on a 16-byte md5, one shuffle,
  partial-aggregation-friendly — and (2) the per-doc coverage distinct
  +count keyed on doc_id. Span fan-out is bounded: each token starts
  exactly one span, so the shuffled relation is ~n_tokens rows, not
  n_tokens x N.
- ``chunk_token_windows`` is **map-only**: per-row array slicing plus
  one generator — zero shuffles, fully fused into the scan, trivially
  parallel at any corpus size (the plan-quality test asserts no
  Exchange).
- ``txt_unigram_logprob``: vocabulary grows ~ O(corpus^0.5) (Heaps'
  law) and the per-token table is a few counters wide, so the
  token->logprob join stays broadcastable far beyond 100 TB; were the
  vocab ever to outgrow broadcast, the join key (tok) is the natural
  shuffle key and the plan degrades gracefully to a shuffled hash join.
- Cross-engine determinism: all per-doc sums of floats are quantized
  to fixed-point BIGINT **before** summation (the same trick as
  ``operators/clustering.py``) — integer addition is exactly
  associative, so no shuffle order or engine can flip a rounded mean.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.ranking import global_rank, global_running_sum, take_ordered_ranked
from ..registry import register

# --------------------------------------------------------------------------
# Duplicated-span coverage (ExactSubstr-style document rollup).
# --------------------------------------------------------------------------
DUPSPAN_N = 6  # span length in tokens; >=6-grams repeating are near-verbatim
DUPSPAN_FLAG = 0.5  # flag docs with >50% of tokens inside duplicated spans

_TOKENS_SQL = r"string_split_regex(trim(text), '\s+')"


@register(
    "dd_dupspan_coverage",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_TOKENS_SQL} AS t FROM documents
    ),
    spans AS (
      SELECT doc_id, i,
             md5(array_to_string(list_slice(t, i, i + {DUPSPAN_N - 1}), ' ')) AS sh
      FROM tok, unnest(generate_series(1, len(t) - {DUPSPAN_N - 1})) AS u(i)
      WHERE len(t) >= {DUPSPAN_N}
    ),
    dup AS (SELECT sh FROM spans GROUP BY sh HAVING count(*) >= 2),
    cov AS (
      SELECT DISTINCT s.doc_id, p.p
      FROM spans s JOIN dup USING (sh),
           unnest(generate_series(s.i, s.i + {DUPSPAN_N - 1})) AS p(p)
    ),
    covered AS (SELECT doc_id, count(*) AS c FROM cov GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(len(t.t) AS INTEGER) AS n_tokens,
           CAST(coalesce(c.c, 0) AS INTEGER) AS covered_tokens,
           round(coalesce(c.c, 0) * 1.0 / len(t.t), 6) AS dup_coverage,
           CASE WHEN coalesce(c.c, 0) * 1.0 / len(t.t) > {DUPSPAN_FLAG}
                THEN 'duplicated' ELSE 'ok' END AS span_flag
    FROM tok t LEFT JOIN covered c USING (doc_id)
    """,
)
def dd_dupspan_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fraction of tokens covered by corpus-duplicated
    word {DUPSPAN_N}-grams.

    Every token position starts exactly one span, so the span relation
    is ~n_tokens rows keyed by a 16-byte md5 — the duplicate count is
    one window count over that key (single shuffle, map-side partial).
    Coverage is the size of the union of [i, i+N-1] intervals per doc,
    computed as explode -> distinct positions -> count keyed on doc_id.
    Both shuffles carry narrow rows; nothing is ever O(pairs).
    """
    docs = table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.split(F.trim("text"), r"\s+").alias("t"))
    span_structs = F.expr(
        f"transform(sequence(1, size(t) - {DUPSPAN_N - 1}), "
        f"i -> struct(i, md5(concat_ws(' ', slice(t, i, {DUPSPAN_N}))) AS sh))"
    )
    spans = (
        tok.filter(F.size("t") >= DUPSPAN_N)
        .select("doc_id", F.explode(span_structs).alias("s"))
        .select("doc_id", F.col("s.i").alias("i"), F.col("s.sh").alias("sh"))
    )
    # corpus-wide duplicate test as a window count — one pass over the
    # span relation instead of a groupBy + self-join (same single-shuffle
    # trick as dedup.shingles).
    dup_spans = (
        spans.withColumn("_c", F.count(F.lit(1)).over(W.partitionBy("sh")))
        .filter(F.col("_c") >= 2)
        .select("doc_id", "i")
    )
    covered = (
        dup_spans.select(
            "doc_id", F.explode(F.sequence("i", F.col("i") + (DUPSPAN_N - 1))).alias("p")
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    base = tok.select("doc_id", F.size("t").alias("n_tokens"))
    cov = F.coalesce(F.col("c"), F.lit(0))
    return base.join(covered, "doc_id", "left").select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        cov.cast("int").alias("covered_tokens"),
        F.round(cov / F.col("n_tokens"), 6).alias("dup_coverage"),
        F.when(cov / F.col("n_tokens") > DUPSPAN_FLAG, "duplicated")
        .otherwise("ok")
        .alias("span_flag"),
    )


# --------------------------------------------------------------------------
# Token-window chunking with overlap (RAG / context-window prep).
# --------------------------------------------------------------------------
CHUNK_W = 32  # window size in tokens
CHUNK_S = 24  # stride (overlap = W - S = 8)


@register(
    "chunk_token_windows",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_TOKENS_SQL} AS t FROM documents
    ),
    nc AS (
      SELECT doc_id, t,
             greatest(1, CAST(ceil((len(t) - {CHUNK_W}) * 1.0 / {CHUNK_S}) AS INTEGER) + 1)
                 AS n
      FROM tok
    ),
    ch AS (
      SELECT doc_id, c AS chunk_idx,
             list_slice(t, c * {CHUNK_S} + 1, c * {CHUNK_S} + {CHUNK_W}) AS arr
      FROM nc, unnest(generate_series(0, n - 1)) AS u(c)
    )
    SELECT doc_id,
           CAST(chunk_idx AS INTEGER) AS chunk_idx,
           CAST(chunk_idx * {CHUNK_S} + 1 AS INTEGER) AS token_start,
           CAST(len(arr) AS INTEGER) AS n_chunk_tokens,
           array_to_string(arr, ' ') AS chunk_text
    FROM ch
    """,
)
def chunk_token_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding {CHUNK_W}-token chunks with stride {CHUNK_S} per document.

    chunk_count = max(1, ceil((n - W) / S) + 1): the final chunk is
    clamped to the document end and is never fully contained in its
    predecessor, and every token lands in at least one chunk.

    **Map-only plan**: array slice + one generator per row; no shuffle,
    no join, no aggregation — the chunker runs at scan throughput on
    any partitioning (asserted by the plan-quality test).
    """
    docs = table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.split(F.trim("text"), r"\s+").alias("t"))
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((F.size("t") - F.lit(CHUNK_W)).cast("double") / CHUNK_S).cast("int")
        + F.lit(1),
    )
    chunk_structs = F.expr(
        f"transform(sequence(0, n - 1), "
        f"c -> struct(c, slice(t, c * {CHUNK_S} + 1, {CHUNK_W}) AS arr))"
    )
    return (
        tok.withColumn("n", n_chunks)
        .select("doc_id", F.explode(chunk_structs).alias("ch"))
        .select(
            "doc_id",
            F.col("ch.c").cast("int").alias("chunk_idx"),
            (F.col("ch.c") * CHUNK_S + 1).cast("int").alias("token_start"),
            F.size("ch.arr").cast("int").alias("n_chunk_tokens"),
            F.concat_ws(" ", "ch.arr").alias("chunk_text"),
        )
    )


# --------------------------------------------------------------------------
# Unigram LM quality scoring (CCNet-style outlier filter).
# --------------------------------------------------------------------------
LOGPROB_FLAG = -3.41  # ~p10 of the synthetic corpus: tail = outliers
_FX = "1000000"  # fixed-point scale for exact logprob accumulation


@register(
    "txt_unigram_logprob",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents
    ),
    vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    lp AS (
      SELECT tok,
             CAST(floor(ln(c / sum(c) OVER ()) * {_FX} + 0.5) AS BIGINT) AS fx
      FROM vocab
    ),
    perdoc AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, sum(fx) AS sfx
      FROM toks JOIN lp USING (tok) GROUP BY doc_id
    )
    SELECT doc_id, n_tokens,
           round(sfx / ({_FX}.0 * n_tokens), 6) AS mean_logprob,
           round(exp(-sfx / ({_FX}.0 * n_tokens)), 4) AS perplexity,
           CASE WHEN sfx / ({_FX}.0 * n_tokens) < {LOGPROB_FLAG}
                THEN 'outlier' ELSE 'keep' END AS lm_flag
    FROM perdoc
    """,
)
def txt_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean per-token log-probability under the corpus unigram model,
    with the derived perplexity and an outlier flag.

    The vocabulary is one groupBy over the token stream (map-side
    partial: shuffled bytes ~ distinct tokens); per-token logprobs are
    quantized to 1e-6 fixed-point BIGINT so the per-doc sum is exact
    integer arithmetic — bit-identical across engines, shuffle orders,
    and partitionings. The vocab->token join is broadcast (Heaps' law
    keeps the vocabulary orders of magnitude smaller than the corpus).
    """
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("tok")
    )
    # vocabulary-sized and referenced twice (corpus total + logprob
    # table) — persist so the corpus token count runs once; the
    # train-pass/score-pass corpus scans themselves are the two-pass
    # LM minimum.
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c")).persist()
    # corpus token total as a broadcast 1-row cross join, not a window
    # over the (unboundedly growing) vocabulary
    total = vocab.agg(F.sum("c").alias("_tot"))
    lp = vocab.crossJoin(F.broadcast(total)).select(
        "tok",
        F.floor(F.log(F.col("c") / F.col("_tot")) * int(_FX) + F.lit(0.5))
        .cast("bigint")
        .alias("fx"),
    )
    perdoc = (
        toks.join(F.broadcast(lp), "tok")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"), F.sum("fx").alias("sfx"))
    )
    mean = F.col("sfx") / (F.lit(float(_FX)) * F.col("n_tokens"))
    return perdoc.select(
        "doc_id",
        "n_tokens",
        F.round(mean, 6).alias("mean_logprob"),
        F.round(F.exp(-mean), 4).alias("perplexity"),
        F.when(mean < LOGPROB_FLAG, "outlier").otherwise("keep").alias("lm_flag"),
    )


# --------------------------------------------------------------------------
# BPE-style pretokenizer counting (GPT-2 pretokenizer shape): the token
# accounting a training pipeline budgets with, vs naive whitespace
# splitting. Word fragments keep their leading space (" fast"), digits
# and punctuation runs split off — the regex is the deterministic
# pre-merge stage of byte-pair tokenizers, so counts approximate real
# tokenizer budgets far better than whitespace counts.
# --------------------------------------------------------------------------
BPE_RX = r" ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+"


@register(
    "txt_bpe_token_stats",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             len(list_filter(regexp_extract_all(text, '{BPE_RX}', 0),
                             x -> regexp_matches(x, '\\S'))) AS n_bpe,
             len(string_split_regex(trim(text), '\\s+')) AS n_ws
      FROM documents
    )
    SELECT doc_id,
           CAST(n_bpe AS INTEGER) AS n_bpe_tokens,
           CAST(n_ws AS INTEGER) AS n_ws_tokens,
           round(n_bpe * 1.0 / n_ws, 6) AS bpe_to_ws_ratio
    FROM t
    """,
)
def txt_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretokenizer-accurate token counts per document.

    ``regexp_extract_all`` with the GPT-2-shaped pretokenizer regex runs
    JVM-side (codegen'd), map-only — zero shuffles, scan throughput at
    any corpus size. Whitespace-only matches (leading/multiple spaces)
    are excluded from the count; the ratio to whitespace tokens is the
    budget-inflation factor tokenizer-aware sampling needs.
    """
    docs = table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.col("text"), F.lit(BPE_RX), F.lit(0))
    n_bpe = F.size(F.filter(toks, lambda x: x.rlike(r"\S")))
    n_ws = F.size(F.split(F.trim("text"), r"\s+"))
    return docs.select(
        "doc_id",
        n_bpe.alias("n_bpe_tokens"),
        n_ws.alias("n_ws_tokens"),
        F.round(n_bpe.cast("double") / n_ws, 6).alias("bpe_to_ws_ratio"),
    )


# --------------------------------------------------------------------------
# Tokenizer fertility by language — the tokenizer-equity readout every
# multilingual training pipeline reports: subword (pretokenizer) tokens
# per whitespace word and bytes per token, by language. High-fertility
# languages pay more compute per word and get a smaller effective
# context window; this table is what mixture re-weighting and
# tokenizer-retraining decisions read. Uses the same GPT-2-shaped
# pretokenizer as txt_bpe_token_stats, so the counts agree with the
# per-doc budget accounting.
#
# Scale: per-doc counts are map-only codegen'd expressions; the rollup
# is a |lang|-sized hash aggregate over exact integer sums.
# --------------------------------------------------------------------------
@register(
    "tok_fertility_by_lang",
    oracle=f"""
    WITH t AS (
      SELECT lang,
             CAST(len(list_filter(regexp_extract_all(text, '{BPE_RX}', 0),
                                  x -> regexp_matches(x, '\\S'))) AS BIGINT)
                 AS n_bpe,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_ws,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_ws) AS BIGINT) AS n_words,
           CAST(sum(n_bpe) AS BIGINT) AS n_bpe_tokens,
           CAST(sum(n_bytes) AS BIGINT) AS n_bytes,
           round(sum(n_bpe) * 1.0 / sum(n_ws), 6) AS fertility,
           round(sum(n_bytes) * 1.0 / sum(n_bpe), 6) AS bytes_per_token
    FROM t GROUP BY lang
    """,
)
def tok_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language pretokenizer fertility (BPE tokens per whitespace
    word) and bytes per token — exact integer sums, map-only counting."""
    docs = table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.col("text"), F.lit(BPE_RX), F.lit(0))
    per = docs.select(
        "lang",
        F.size(F.filter(toks, lambda x: x.rlike(r"\S")))
        .cast("bigint")
        .alias("n_bpe"),
        F.size(F.split(F.trim("text"), r"\s+")).cast("bigint").alias("n_ws"),
        F.octet_length("text").cast("bigint").alias("n_bytes"),
    )
    return per.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_ws").cast("bigint").alias("n_words"),
        F.sum("n_bpe").cast("bigint").alias("n_bpe_tokens"),
        F.sum("n_bytes").cast("bigint").alias("n_bytes"),
        F.round(F.sum("n_bpe") * 1.0 / F.sum("n_ws"), 6).alias("fertility"),
        F.round(F.sum("n_bytes") * 1.0 / F.sum("n_bpe"), 6).alias(
            "bytes_per_token"
        ),
    )


# --------------------------------------------------------------------------
# Weighted systematic sampling by token count: pick documents in
# proportion to their token mass with EXACT integer arithmetic — the
# deterministic alternative to weighted reservoir sampling (whose
# u^(1/w) keys are float-order-fragile across engines). A document is
# picked once per STEP-token boundary its cumulative-token interval
# covers, so expected picks are proportional to n_tokens and huge
# documents can be picked multiple times (epoch weighting).
# --------------------------------------------------------------------------
SYSSAMP_STEP = 1000  # one pick per 1000 tokens of corpus mass


@register(
    "samp_docs_weighted_systematic",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tok,
             md5(CAST(doc_id AS VARCHAR) || '|sys') AS mk
      FROM documents
    ),
    cum AS (
      SELECT doc_id, n_tok,
             sum(n_tok) OVER (ORDER BY mk, doc_id) AS cum_tok
      FROM tok
    )
    SELECT doc_id, n_tok, CAST(cum_tok AS BIGINT) AS cum_tok,
           CAST(cum_tok // {SYSSAMP_STEP} - (cum_tok - n_tok) // {SYSSAMP_STEP}
                AS INTEGER) AS n_picks
    FROM cum
    WHERE cum_tok // {SYSSAMP_STEP} > (cum_tok - n_tok) // {SYSSAMP_STEP}
    """,
)
def samp_docs_weighted_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-proportional systematic sample: documents whose cumulative
    token interval crosses a {SYSSAMP_STEP}-token boundary, in
    deterministic md5 order.

    All selection arithmetic is BIGINT division on exact prefix sums —
    no float keys, so the sample is identical across engines, re-runs
    and partitionings. The prefix sum is the 2-pass distributed scan
    (``global_running_sum``: repartitionByRange + per-partition prefix
    sums offset by partition totals), never a single-partition window.
    """
    docs = table(spark, sf_dir, "documents")
    mk = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|sys")))
    tok = docs.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("bigint").alias("n_tok"),
        mk.alias("mk"),
    )
    cum = global_running_sum(
        tok, [F.col("mk"), F.col("doc_id")], F.col("n_tok"), "cum_tok"
    )
    hi = F.expr(f"cum_tok DIV {SYSSAMP_STEP}")
    lo = F.expr(f"(cum_tok - n_tok) DIV {SYSSAMP_STEP}")
    return (
        cum.filter(hi > lo)
        .select(
            "doc_id",
            "n_tok",
            F.col("cum_tok").cast("bigint").alias("cum_tok"),
            (hi - lo).cast("int").alias("n_picks"),
        )
    )


# --------------------------------------------------------------------------
# Vocabulary induction: global top bigrams (the counting step of a
# BPE/WordPiece merge round). Spark side builds bigrams MAP-SIDE with
# zip_with over two shifted slices of the token array — no explode of
# single tokens, no per-doc window sort, no shuffle before the partial
# aggregate; the one exchange carries partially-counted bigrams. The
# oracle reconstructs the same pairs relationally (unnest WITH
# ORDINALITY + lead) — two very different plans, same counts.
# --------------------------------------------------------------------------
TOP_BIGRAMS = 40


@register(
    "txt_top_bigrams",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
    ),
    idx AS (
      SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks
    ),
    pairs AS (SELECT t[i] || ' ' || t[i + 1] AS bigram FROM idx)
    SELECT bigram, count(*) AS n
    FROM pairs
    GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT {TOP_BIGRAMS}
    """,
)
def txt_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOP_BIGRAMS} adjacent token pairs across the corpus.

    ``zip_with(slice(t,1,n-1), slice(t,2,n-1), concat)`` emits each
    document's bigram list inside the scan stage (empty for 1-token
    docs); the only shuffle is the final bigram count, map-side
    partial-aggregated, with a TakeOrderedAndProject tail.
    """
    docs = table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    bigrams = F.expr(
        "zip_with(slice(_toks, 1, size(_toks) - 1),"
        "         slice(_toks, 2, size(_toks) - 1),"
        "         (a, b) -> concat(a, ' ', b))"
    )
    return (
        docs.select(toks.alias("_toks"))
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(TOP_BIGRAMS)
    )


# --------------------------------------------------------------------------
# Bigram LM scoring with interpolated smoothing — the upgrade path from
# txt_unigram_logprob (CCNet-style filters use exactly this shape:
# n-gram LM perplexity per doc, flag the tail). p(w2|w1) =
# 0.75*p_ML(w2|w1) + 0.25*p_uni(w2); both lambdas dyadic, logprobs
# quantized to 1e-6 BIGINT fixed-point before the per-doc sum, so the
# whole model — training AND scoring — is exact cross-engine.
# --------------------------------------------------------------------------
BIGRAM_LAMBDA = 0.75  # dyadic: exact in binary
BIGRAM_FLAG = -3.0


# Shared oracle fragment: interpolated-bigram LM trained on the full
# corpus, scored per doc -> perdoc(doc_id, n_bigrams, sfx).
_BIGRAM_PERDOC_CTES = f"""tok AS (
      SELECT doc_id, {_TOKENS_SQL} AS t FROM documents
      WHERE len({_TOKENS_SQL}) >= 2
    ),
    uni AS (
      SELECT tok, count(*) AS c
      FROM (SELECT unnest({_TOKENS_SQL}) AS tok FROM documents)
      GROUP BY tok
    ),
    tot AS (SELECT sum(c) AS t FROM uni),
    bg AS (
      SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
      FROM tok, unnest(range(1, len(t))) AS u(i)
    ),
    bgc AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY w1, w2),
    ctx AS (SELECT w1, sum(cb) AS c1 FROM bgc GROUP BY w1),
    lp AS (
      SELECT b.w1, b.w2,
             CAST(floor(ln({BIGRAM_LAMBDA} * b.cb / x.c1
                           + {1 - BIGRAM_LAMBDA} * u.c / tt.t) * {_FX} + 0.5)
                  AS BIGINT) AS fx
      FROM bgc b
      JOIN ctx x USING (w1)
      JOIN uni u ON u.tok = b.w2
      CROSS JOIN tot tt
    ),
    perdoc AS (
      SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, sum(l.fx) AS sfx
      FROM bg g JOIN lp l ON g.w1 = l.w1 AND g.w2 = l.w2
      GROUP BY g.doc_id
    )"""


@register(
    "txt_bigram_logprob",
    oracle=f"""
    WITH {_BIGRAM_PERDOC_CTES}
    SELECT doc_id, n_bigrams,
           round(sfx / ({_FX}.0 * n_bigrams), 6) AS mean_logprob,
           round(exp(-sfx / ({_FX}.0 * n_bigrams)), 4) AS perplexity,
           CASE WHEN sfx / ({_FX}.0 * n_bigrams) < {BIGRAM_FLAG}
                THEN 'outlier' ELSE 'keep' END AS lm_flag
    FROM perdoc
    """,
)
def txt_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean bigram log-probability (interpolated with unigram).

    Bigrams extract map-side (zip_with over shifted slices, doc_id
    kept); the model tables (bigram conditional + unigram backoff) are
    two grouped counts joined back broadcast — at vocabulary scale the
    bigram join key (w1, w2) degrades gracefully to a shuffled hash
    join. Fixed-point logprob sums keep per-doc scores exact under any
    execution order.
    """
    perdoc = _bigram_perdoc(spark, sf_dir)
    mean = F.col("sfx") / (F.lit(float(_FX)) * F.col("n_bigrams"))
    return perdoc.select(
        "doc_id",
        "n_bigrams",
        F.round(mean, 6).alias("mean_logprob"),
        F.round(F.exp(-mean), 4).alias("perplexity"),
        F.when(mean < BIGRAM_FLAG, "outlier").otherwise("keep").alias("lm_flag"),
    )


def _bigram_perdoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """perdoc(doc_id, n_bigrams, sfx): exact fixed-point per-doc score
    under the corpus-trained interpolated bigram LM."""
    docs = table(spark, sf_dir, "documents")
    t = F.split(F.trim("text"), r"\s+")
    toks = docs.select("doc_id", F.explode(t).alias("tok"))
    # vocabulary-sized, referenced by the total and the backoff table —
    # persist so the corpus unigram count runs once.
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c")).persist()
    # corpus token total as a broadcast 1-row cross join, not a window
    # over the (unboundedly growing) vocabulary
    total = uni.agg(F.sum("c").alias("t"))
    uni_p = uni.crossJoin(F.broadcast(total)).select("tok", "c", "t")
    bg = (
        docs.select("doc_id", t.alias("_t"))
        .filter(F.size("_t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "zip_with(slice(_t, 1, size(_t) - 1),"
                    "         slice(_t, 2, size(_t) - 1),"
                    "         (x, y) -> named_struct('w1', x, 'w2', y))"
                )
            ).alias("p"),
        )
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    # model-table-sized (distinct bigrams), referenced by the context
    # totals and the logprob table — persist so the bigram count over
    # the corpus runs once.
    bgc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb")).persist()
    ctx = bgc.groupBy("w1").agg(F.sum("cb").alias("c1"))
    lp = (
        bgc.join(F.broadcast(ctx), "w1")
        .join(
            F.broadcast(uni_p.select(F.col("tok").alias("w2"), "c", "t")), "w2"
        )
        .select(
            "w1",
            "w2",
            F.floor(
                F.log(
                    BIGRAM_LAMBDA * F.col("cb") / F.col("c1")
                    + (1 - BIGRAM_LAMBDA) * F.col("c") / F.col("t")
                )
                * int(_FX)
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("fx"),
        )
    )
    return (
        bg.join(F.broadcast(lp), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum("fx").alias("sfx"),
        )
    )


# --------------------------------------------------------------------------
# CCNet-style perplexity bucketing (Wenzek et al. 2020): rank the
# corpus by LM perplexity and cut it into head / middle / tail thirds —
# the published recipe for turning a raw web crawl into quality tiers
# (train on head+middle, drop or downweight tail). Per-doc scores come
# from the same exact fixed-point bigram LM as txt_bigram_logprob, so
# the ordering key (a double derived from two BIGINTs by one
# correctly-rounded division) is bit-identical cross-engine; ties break
# on doc_id.
#
# Scale shape: the per-doc scoring is the LM pipeline above (map-side
# bigrams + broadcast model join); the tercile cut is the
# range-partitioned global_ntile helper — NO single-partition window —
# and the rollup is a 3-row hash aggregate with integer-exact sums.
# --------------------------------------------------------------------------
PPL_TIERS = 3


@register(
    "txt_ccnet_ppl_buckets",
    oracle=f"""
    WITH {_BIGRAM_PERDOC_CTES},
    scored AS (
      SELECT doc_id, n_bigrams, sfx,
             sfx / ({_FX}.0 * n_bigrams) AS mean_lp,
             ntile({PPL_TIERS}) OVER (
               ORDER BY sfx / ({_FX}.0 * n_bigrams) DESC, doc_id) AS tier
      FROM perdoc
    )
    SELECT tier,
           CASE tier WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS tier_label,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams,
           round(sum(sfx) / ({_FX}.0 * sum(n_bigrams)), 6) AS mean_logprob,
           round(min(exp(-mean_lp)), 4) AS min_ppl,
           round(max(exp(-mean_lp)), 4) AS max_ppl
    FROM scored GROUP BY tier
    """,
)
def txt_ccnet_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head/middle/tail corpus tiers by bigram-LM perplexity with
    per-tier token mass and perplexity range (CCNet quality split)."""
    from ..functions.ranking import global_ntile

    perdoc = _bigram_perdoc(spark, sf_dir)
    mean_lp = (F.col("sfx") / (F.lit(float(_FX)) * F.col("n_bigrams"))).alias(
        "mean_lp"
    )
    scored = global_ntile(
        perdoc.withColumn("mean_lp", mean_lp),
        [F.col("mean_lp").desc(), F.col("doc_id")],
        PPL_TIERS,
        "tier",
    )
    return (
        scored.groupBy(F.col("tier").cast("int").alias("tier"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_bigrams").cast("bigint").alias("n_bigrams"),
            F.round(
                F.sum("sfx") / (F.lit(float(_FX)) * F.sum("n_bigrams")), 6
            ).alias("mean_logprob"),
            F.round(F.min(F.exp(-F.col("mean_lp"))), 4).alias("min_ppl"),
            F.round(F.max(F.exp(-F.col("mean_lp"))), 4).alias("max_ppl"),
        )
        .select(
            "tier",
            F.when(F.col("tier") == 1, "head")
            .when(F.col("tier") == 2, "middle")
            .otherwise("tail")
            .alias("tier_label"),
            "n_docs",
            "n_bigrams",
            "mean_logprob",
            "min_ppl",
            "max_ppl",
        )
    )


# --------------------------------------------------------------------------
# Zipf fit: log-log regression of token frequency on rank. The
# corpus-health diagnostic next to txt_corpus_stats — a natural-language
# corpus follows freq ~ rank^s with s near -1; a slope far from -1
# flags synthetic/templated/spam-heavy data before it poisons the mix.
#
# Exactness policy: ln(rank) / ln(freq) are scalar doubles (identical
# cross-engine), but their SUMS over the vocabulary would be
# order-dependent floats — so each coordinate is floored into 1e-9
# fixed point and accumulated in DECIMAL(38,0) (the exact-sums
# regression policy, plans/functions_surface.py
# stat_price_qty_regression: lose a deterministic 1e-9 of precision,
# gain bit-stable aggregation under any shuffle order). The closed-form
# slope/intercept/r2 are scalar ops over the exact sums.
#
# Scale: one token count (partial agg), one VOCAB-sized rank sort (the
# same dimension-scale global window as the prefix join's rarity
# order), one one-row reduce.
# --------------------------------------------------------------------------
_ZIPF_FX = 1_000_000_000  # 1e-9 fixed point for the log coordinates


@register(
    "txt_zipf_fit",
    oracle=rf"""
    WITH tok AS (
      SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents
    ),
    freq AS (SELECT tok, count(*) AS n FROM tok GROUP BY tok),
    ranked AS (
      SELECT n, row_number() OVER (ORDER BY n DESC, tok) AS rnk FROM freq
    ),
    fx AS (
      SELECT CAST(floor(ln(rnk) * {_ZIPF_FX}) AS DECIMAL(38,0)) AS x,
             CAST(floor(ln(n) * {_ZIPF_FX}) AS DECIMAL(38,0)) AS y
      FROM ranked
    ),
    sums AS (
      SELECT CAST(count(*) AS BIGINT) AS n_vocab,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
      FROM fx
    )
    SELECT n_vocab,
           round((n_vocab * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (n_vocab * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
                 6) AS zipf_slope,
           round((CAST(sy AS DOUBLE) - CAST(sx AS DOUBLE)
                  * ((n_vocab * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (n_vocab * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))))
                 / (n_vocab * CAST({_ZIPF_FX} AS DOUBLE)), 6) AS zipf_intercept,
           round(pow(n_vocab * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE), 2)
                 / ((n_vocab * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (n_vocab * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                 6) AS r2
    FROM sums
    """,
)
def txt_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS fit of ln(freq) on ln(rank) over the token vocabulary, from
    DECIMAL(38,0) fixed-point sums. Output slope ~ -1 for natural text."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok")
    )
    freq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    # Every vocab token needs its rank (full ranking, not top-k):
    # range-partitioned offset ranking, no single-partition window
    # (VERDICT r3 #3).
    ranked = global_rank(freq, [F.col("n").desc(), F.col("tok")], "rnk")
    fx = ranked.select(
        F.floor(F.log("rnk") * _ZIPF_FX).cast("decimal(38,0)").alias("x"),
        F.floor(F.log("n") * _ZIPF_FX).cast("decimal(38,0)").alias("y"),
    )
    sums = fx.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vocab"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n_vocab")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    num = n * sxy - sx * sy
    den = n * sxx - sx * sx
    slope = num / den
    return sums.select(
        "n_vocab",
        F.round(slope, 6).alias("zipf_slope"),
        F.round((sy - sx * slope) / (n * F.lit(float(_ZIPF_FX))), 6).alias(
            "zipf_intercept"
        ),
        F.round(F.pow(num, 2) / (den * (n * syy - sy * sy)), 6).alias("r2"),
    )


# --------------------------------------------------------------------------
# Vocabulary coverage / OOV rate — the tokenizer-fit diagnostic: given
# a top-V frequency vocabulary, what fraction of each document's
# tokens (and of the corpus) falls outside it? High OOV on a slice
# flags domain shift the tokenizer (and any hashed classifier) will
# handle badly; it is also the acceptance metric when shipping a new
# vocab (txt_top_bigrams is the induction side, this is the eval side).
#
# Scale: the vocabulary is a top-V aggregate (TakeOrderedAndProject
# over the token counts) broadcast back; the per-doc OOV rollup rides
# the explode the token counting already does — integer counts only.
# --------------------------------------------------------------------------
OOV_VOCAB_SIZE = 20


@register(
    "txt_oov_rate",
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
      FROM documents
    ),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, count(*) AS n FROM tok GROUP BY tok
        ORDER BY n DESC, tok LIMIT {OOV_VOCAB_SIZE}
      )
    ),
    flagged AS (
      SELECT t.doc_id,
             CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
      FROM tok t LEFT JOIN vocab v ON t.tok = v.tok
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(oov) AS BIGINT) AS n_oov,
           round(CAST(sum(oov) AS DOUBLE) / count(*), 6) AS oov_rate
    FROM flagged GROUP BY doc_id
    """,
)
def txt_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document OOV token count and rate against the corpus
    top-{OOV_VOCAB_SIZE} frequency vocabulary."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok")
    )
    vocab = (
        tok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "tok")
        .limit(OOV_VOCAB_SIZE)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    flagged = tok.join(F.broadcast(vocab), "tok", "left")
    oov = F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum(oov).cast("bigint").alias("n_oov"),
        F.round(F.sum(oov).cast("double") / F.count(F.lit(1)), 6).alias("oov_rate"),
    )


# --------------------------------------------------------------------------
# PMI co-occurrence pairs — corpus-level token association mining:
# pointwise mutual information over document-level co-occurrence,
# ln(N * c_ab / (c_a * c_b)). The query-expansion / related-terms
# primitive (tokens that co-occur far above independence), the
# document-frequency analogue of txt_top_bigrams' adjacency counts.
#
# Shape: distinct (doc, token) pairs -> inverted-index self-join on
# doc_id (bounded by per-doc distinct vocab, not doc length) ->
# vocab-sized counters; PMI is a scalar over exact integers; top-k is
# a TakeOrderedAndProject with full tiebreak.
# --------------------------------------------------------------------------
PMI_MIN_COOC = 5
PMI_TOPK = 30


@register(
    "txt_pmi_pairs",
    oracle=rf"""
    WITH dt AS (
      SELECT DISTINCT doc_id,
             unnest(string_split_regex(trim(text), '\s+')) AS tok
      FROM documents
    ),
    n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM dt),
    cf AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY tok),
    cooc AS (
      SELECT a.tok AS tok_a, b.tok AS tok_b, CAST(count(*) AS BIGINT) AS c_ab
      FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.tok < b.tok
      GROUP BY 1, 2
      HAVING count(*) >= {PMI_MIN_COOC}
    ),
    scored AS (
      SELECT c.tok_a, c.tok_b, c.c_ab, fa.df AS df_a, fb.df AS df_b,
             ln(CAST(c.c_ab AS DOUBLE) * n.n_docs / (fa.df * fb.df)) AS pmi_raw
      FROM cooc c
      JOIN cf fa ON fa.tok = c.tok_a
      JOIN cf fb ON fb.tok = c.tok_b
      CROSS JOIN n
    ),
    ranked AS (
      SELECT tok_a, tok_b, c_ab, df_a, df_b, round(pmi_raw, 6) AS pmi,
             row_number() OVER (ORDER BY pmi_raw DESC, tok_a, tok_b) AS rnk
      FROM scored
    )
    SELECT CAST(rnk AS INTEGER) AS rnk, tok_a, tok_b, c_ab, df_a, df_b, pmi
    FROM ranked WHERE rnk <= {PMI_TOPK}
    """,
)
def txt_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{PMI_TOPK} token pairs by document-level PMI (minimum
    co-occurrence {PMI_MIN_COOC})."""
    docs = table(spark, sf_dir, "documents")
    # dt feeds the doc count, the per-token df AND both co-occurrence
    # join sides — persist so the explode+distinct over documents runs
    # once.
    dt = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok")
    ).distinct().persist()
    n = dt.select(F.countDistinct("doc_id").cast("bigint").alias("n_docs"))
    cf = dt.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    a, b = dt.alias("a"), dt.alias("b")
    cooc = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id")) & (F.col("a.tok") < F.col("b.tok")),
        )
        .groupBy(F.col("a.tok").alias("tok_a"), F.col("b.tok").alias("tok_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_ab"))
        .filter(F.col("c_ab") >= PMI_MIN_COOC)
    )
    fa = cf.select(F.col("tok").alias("tok_a"), F.col("df").alias("df_a"))
    fb = cf.select(F.col("tok").alias("tok_b"), F.col("df").alias("df_b"))
    scored = (
        cooc.join(F.broadcast(fa), "tok_a")
        .join(F.broadcast(fb), "tok_b")
        .crossJoin(F.broadcast(n))
        .select(
            "tok_a",
            "tok_b",
            "c_ab",
            "df_a",
            "df_b",
            F.log(
                F.col("c_ab").cast("double") * F.col("n_docs")
                / (F.col("df_a") * F.col("df_b"))
            ).alias("pmi_raw"),
        )
    )
    # Top-k via TakeOrderedAndProject; only the K survivors see a
    # window (VERDICT r3 #3 — never rank every surviving bigram pair
    # through one partition).
    ranked = take_ordered_ranked(
        scored,
        [F.col("pmi_raw").desc(), F.col("tok_a"), F.col("tok_b")],
        PMI_TOPK,
        "rnk",
    )
    return ranked.select(
        F.col("rnk").cast("int").alias("rnk"),
        "tok_a",
        "tok_b",
        "c_ab",
        "df_a",
        "df_b",
        F.round("pmi_raw", 6).alias("pmi"),
    )


# --------------------------------------------------------------------------
# N-gram novelty curve: what fraction of each document's 3-gram
# shingles is FIRST SEEN in that document (scanning in doc_id order)?
# The dataset-diversity diagnostic: a healthy crawl keeps introducing
# new n-grams; a novelty collapse means the tail of the corpus is
# re-crawled boilerplate contributing nothing to training (the
# corpus-level counterpart of per-pair dedup — it quantifies the
# marginal value of MORE data).
#
# Shape: the shingle relation (shared with dedup) -> min(doc_id) per
# shingle (vocab-keyed partial agg) -> join back -> per-doc integer
# ratio. The "first seen" order is the deterministic doc_id order, so
# both engines agree exactly.
# --------------------------------------------------------------------------
@register(
    "txt_ngram_novelty",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
      WHERE len(string_split_regex(trim(text), '\s+')) >= 3
    ),
    pos AS (
      SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i FROM tok
    ),
    shingle AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS sh
      FROM pos
    ),
    firsts AS (SELECT sh, min(doc_id) AS first_doc FROM shingle GROUP BY sh)
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel,
           round(CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS novelty
    FROM shingle s JOIN firsts f ON f.sh = s.sh
    GROUP BY s.doc_id
    """,
)
def txt_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fraction of distinct 3-gram shingles first
    introduced by that document (doc_id scan order)."""
    from .dedup import doc_shingles

    sh = doc_shingles(table(spark, sf_dir, "documents")).cache()
    firsts = sh.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    novel = F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    return (
        sh.join(firsts, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(novel).cast("bigint").alias("n_novel"),
            F.round(F.sum(novel).cast("double") / F.count(F.lit(1)), 6).alias(
                "novelty"
            ),
        )
    )


# --------------------------------------------------------------------------
# Unigram entropy per document: H = -sum p ln p over the doc's token
# distribution — the information-density quality signal (templated /
# repetitive docs have low entropy even when length and lexical
# diversity look fine; complements txt_repetition_stats). Per-token
# terms quantize to 1e-9 fixed point before the per-doc sum (BIGINT),
# so the entropy is exact under any aggregation order.
# --------------------------------------------------------------------------
ENT_FX = 1_000_000_000


@register(
    "txt_unigram_entropy",
    oracle=rf"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
      FROM documents
    ),
    tf AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c FROM tok
      GROUP BY doc_id, tok
    ),
    n AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM tf GROUP BY doc_id),
    terms AS (
      SELECT tf.doc_id,
             CAST(floor(-(CAST(tf.c AS DOUBLE) / n.n)
                        * ln(CAST(tf.c AS DOUBLE) / n.n) * {ENT_FX})
                  AS BIGINT) AS h_fx
      FROM tf JOIN n ON n.doc_id = tf.doc_id
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_distinct_tokens,
           CAST(sum(h_fx) AS BIGINT) AS entropy_fx,
           round(CAST(sum(h_fx) AS DOUBLE) / {ENT_FX}.0, 6) AS entropy_nats
    FROM terms GROUP BY doc_id
    """,
)
def txt_unigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram entropy (nats) from fixed-point term sums."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok")
    )
    tf = tok.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    n = tf.groupBy("doc_id").agg(F.sum("c").cast("bigint").alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    terms = tf.join(n, "doc_id").select(
        "doc_id",
        F.floor(-p * F.log(p) * ENT_FX).cast("bigint").alias("h_fx"),
    )
    return terms.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_tokens"),
        F.sum("h_fx").cast("bigint").alias("entropy_fx"),
        F.round(F.sum("h_fx").cast("double") / float(ENT_FX), 6).alias(
            "entropy_nats"
        ),
    )


# --------------------------------------------------------------------------
# Document-length histogram per source: log2-binned token lengths —
# the input profile for packing/batching (pack_token_windows /
# pack_length_buckets consume exactly this shape) and the first thing
# a corpus intake review looks at (truncation spikes, empty-doc bins).
# Integer bin arithmetic via the bin()-string log2.
# --------------------------------------------------------------------------
@register(
    "txt_length_histogram",
    oracle=r"""
    WITH lens AS (
      SELECT source,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n
      FROM documents
    )
    SELECT source,
           CAST(length(bin(n)) - 1 AS INTEGER) AS bin_log2,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(n) AS BIGINT) AS min_tokens,
           CAST(max(n) AS BIGINT) AS max_tokens,
           CAST(sum(n) AS BIGINT) AS token_mass
    FROM lens
    GROUP BY source, length(bin(n)) - 1
    """,
)
def txt_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source log2-binned token-length histogram with token mass."""
    docs = table(spark, sf_dir, "documents")
    lens = docs.select(
        "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("bigint").alias("n"),
    )
    return lens.groupBy(
        "source", (F.length(F.bin("n")) - 1).cast("int").alias("bin_log2")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min("n").cast("bigint").alias("min_tokens"),
        F.max("n").cast("bigint").alias("max_tokens"),
        F.sum("n").cast("bigint").alias("token_mass"),
    )


# --------------------------------------------------------------------------
# Positional skipgram PMI — the word2vec-style co-occurrence statistic
# (±SKIP_WINDOW token window), complementing the document-level PMI
# above (txt_pmi_pairs counts "both appear in the doc"; this counts
# "appear within k tokens of each other", the signal embedding
# training and collocation mining actually consume).
#
# Scale: pair generation is PURE MAP-SIDE — per-row zip_with over the
# token array against its k-shifted self (no position self-join, no
# shuffle until the (a, b) count), so the shuffled relation is
# ~window x n_tokens rows of token pairs, partial-aggregated map-side.
# Marginals are a vocab-sized broadcast; the final top-k is
# TakeOrderedAndProject.
# --------------------------------------------------------------------------
SKIP_WINDOW = 2
SKIP_MIN_COOC = 5
SKIP_TOPK = 30


def _skip_pairs_sql(k: int) -> str:
    return f"""
      SELECT CASE WHEN t[i] <= t[i + {k}] THEN t[i] ELSE t[i + {k}] END AS a,
             CASE WHEN t[i] <= t[i + {k}] THEN t[i + {k}] ELSE t[i] END AS b
      FROM (SELECT t, unnest(generate_series(1, len(t) - {k})) AS i
            FROM tok WHERE len(t) >= {k + 1})
    """


@register(
    "txt_skipgram_pmi",
    oracle=rf"""
    WITH tok AS (
      SELECT string_split_regex(trim(text), '\s+') AS t FROM documents
    ),
    uni AS (SELECT unnest(t) AS w FROM tok),
    marg AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY w),
    ntok AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM uni),
    pairs AS ({_skip_pairs_sql(1).strip()} UNION ALL {_skip_pairs_sql(2).strip()}),
    npairs AS (SELECT CAST(count(*) AS BIGINT) AS np FROM pairs),
    cnt AS (
      SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab
      FROM pairs GROUP BY a, b HAVING count(*) >= {SKIP_MIN_COOC}
    ),
    scored AS (
      SELECT cnt.a, cnt.b, cnt.c_ab, ma.c AS c_a, mb.c AS c_b,
             ln(((CAST(cnt.c_ab AS DOUBLE) * ntok.nt)
                 / (CAST(npairs.np AS DOUBLE) * ma.c))
                * (CAST(ntok.nt AS DOUBLE) / mb.c)) AS pmi_raw
      FROM cnt
      JOIN marg ma ON ma.w = cnt.a
      JOIN marg mb ON mb.w = cnt.b
      CROSS JOIN ntok CROSS JOIN npairs
    ),
    ranked AS (
      SELECT a, b, c_ab, c_a, c_b, pmi_raw,
             row_number() OVER (ORDER BY pmi_raw DESC, a, b) AS rnk
      FROM scored
    )
    SELECT CAST(rnk AS INTEGER) AS rnk, a AS tok_a, b AS tok_b,
           c_ab, c_a, c_b, round(pmi_raw, 6) AS pmi
    FROM ranked WHERE rnk <= {SKIP_TOPK}
    """,
)
def txt_skipgram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{SKIP_TOPK} token pairs by windowed (±{SKIP_WINDOW}) skipgram
    PMI, minimum co-occurrence {SKIP_MIN_COOC}."""
    docs = table(spark, sf_dir, "documents")
    t = F.split(F.trim("text"), r"\s+")
    toks = docs.select(t.alias("_t"))

    def shifted_pairs(k: int):
        # per-row pairing of the array against its k-shifted self; rows
        # shorter than k+1 tokens contribute an empty list
        return F.expr(
            f"if(size(_t) > {k},"
            f" zip_with(slice(_t, 1, size(_t) - {k}),"
            f"          slice(_t, 1 + {k}, size(_t) - {k}),"
            f"          (x, y) -> if(x <= y, named_struct('a', x, 'b', y),"
            f"                       named_struct('a', y, 'b', x))),"
            f" array())"
        )

    pairs = toks.select(
        F.explode(
            F.flatten(
                F.array(*[shifted_pairs(k) for k in range(1, SKIP_WINDOW + 1)])
            )
        ).alias("p")
    ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    uni = docs.select(F.explode(t).alias("w"))
    # totals derive from the GROUPED relations (vocab-/pair-type-sized),
    # not from a second aggregate over the raw explode streams — the
    # token and pair subtrees would otherwise each execute twice.
    marg = uni.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("c")).persist()
    ntok = marg.agg(F.sum("c").cast("bigint").alias("nt"))
    cnt0 = pairs.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_ab")
    ).persist()
    npairs = cnt0.agg(F.sum("c_ab").cast("bigint").alias("np"))
    cnt = cnt0.filter(F.col("c_ab") >= SKIP_MIN_COOC)
    ma = marg.select(F.col("w").alias("a"), F.col("c").alias("c_a"))
    mb = marg.select(F.col("w").alias("b"), F.col("c").alias("c_b"))
    scored = (
        cnt.join(F.broadcast(ma), "a")
        .join(F.broadcast(mb), "b")
        .crossJoin(F.broadcast(ntok))
        .crossJoin(F.broadcast(npairs))
        .select(
            "a",
            "b",
            "c_ab",
            "c_a",
            "c_b",
            F.log(
                (
                    (F.col("c_ab").cast("double") * F.col("nt"))
                    / (F.col("np").cast("double") * F.col("c_a"))
                )
                * (F.col("nt").cast("double") / F.col("c_b"))
            ).alias("pmi_raw"),
        )
    )
    ranked = take_ordered_ranked(
        scored, [F.col("pmi_raw").desc(), F.col("a"), F.col("b")], SKIP_TOPK, "rnk"
    )
    return ranked.select(
        F.col("rnk").cast("int").alias("rnk"),
        F.col("a").alias("tok_a"),
        F.col("b").alias("tok_b"),
        "c_ab",
        "c_a",
        "c_b",
        F.round("pmi_raw", 6).alias("pmi"),
    )


# --------------------------------------------------------------------------
# Kneser-Ney smoothed bigram LM — the production n-gram smoothing
# (KenLM-style quality filters score docs with exactly this model, not
# the simple interpolation of txt_bigram_logprob). Absolute discount
# D = 0.75 (dyadic, exact in binary):
#
#   P_KN(w2|w1) = max(c(w1 w2) - D, 0)/c(w1.)
#                 + D * N1+(w1 .)/c(w1.) * P_cont(w2)
#   P_cont(w2)  = N1+(. w2) / |distinct bigram types|
#
# Every count is an exact integer aggregate; the per-doc score
# quantizes each bigram logprob to 1e-6 fixed point (same policy as
# the other LM scorers) so sums are order-independent cross-engine.
#
# Scale shape: two grouped counts over the bigram relation (map-side
# combining), continuation counts are a distinct-pairs aggregate, and
# the model tables join back to the doc bigrams broadcast (shuffled
# hash join at open-vocabulary scale — the join key is the model, not
# the corpus). Training and scoring in ONE declarative plan.
# --------------------------------------------------------------------------
KN_DISCOUNT = 0.75  # dyadic: exact in binary


@register(
    "txt_kneser_ney_logprob",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_TOKENS_SQL} AS t FROM documents
      WHERE len({_TOKENS_SQL}) >= 2
    ),
    bg AS (
      SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
      FROM tok, unnest(range(1, len(t))) AS u(i)
    ),
    bgc AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY w1, w2),
    ctx AS (
      SELECT w1, sum(cb) AS c1, CAST(count(*) AS BIGINT) AS n_follow
      FROM bgc GROUP BY w1
    ),
    cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS n_prec FROM bgc GROUP BY w2),
    types AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM bgc),
    lp AS (
      SELECT b.w1, b.w2,
             CAST(floor(ln(
                 (b.cb - {KN_DISCOUNT}) / x.c1
                 + {KN_DISCOUNT} * x.n_follow / x.c1
                   * (k.n_prec * 1.0 / ty.n_types)
             ) * {_FX} + 0.5) AS BIGINT) AS fx
      FROM bgc b
      JOIN ctx x USING (w1)
      JOIN cont k ON k.w2 = b.w2
      CROSS JOIN types ty
    ),
    perdoc AS (
      SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, sum(l.fx) AS sfx
      FROM bg g JOIN lp l ON g.w1 = l.w1 AND g.w2 = l.w2
      GROUP BY g.doc_id
    )
    SELECT doc_id, n_bigrams,
           round(sfx / ({_FX}.0 * n_bigrams), 6) AS mean_logprob,
           round(exp(-sfx / ({_FX}.0 * n_bigrams)), 4) AS perplexity
    FROM perdoc
    """,
)
def txt_kneser_ney_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean Kneser-Ney bigram log-probability and perplexity.

    Trained bigrams always have count >= 1 > D, so the discounted term
    is positive and the max() clamp is unnecessary for seen bigrams —
    and scoring here is over the training corpus by construction.
    """
    docs = table(spark, sf_dir, "documents")
    t = F.split(F.trim("text"), r"\s+")
    bg = (
        docs.select("doc_id", t.alias("_t"))
        .filter(F.size("_t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "zip_with(slice(_t, 1, size(_t) - 1),"
                    "         slice(_t, 2, size(_t) - 1),"
                    "         (x, y) -> named_struct('w1', x, 'w2', y))"
                )
            ).alias("p"),
        )
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    # model-table-sized and referenced four times (context totals,
    # continuation counts, type total, logprob join) — persist so the
    # corpus bigram count runs once.
    bgc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb")).persist()
    ctx = bgc.groupBy("w1").agg(
        F.sum("cb").alias("c1"),
        F.count(F.lit(1)).cast("bigint").alias("n_follow"),
    )
    cont = bgc.groupBy("w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_prec")
    )
    types = bgc.agg(F.count(F.lit(1)).cast("bigint").alias("n_types"))
    p_kn = (
        (F.col("cb") - KN_DISCOUNT) / F.col("c1")
        + KN_DISCOUNT
        * F.col("n_follow")
        / F.col("c1")
        * (F.col("n_prec") * 1.0 / F.col("n_types"))
    )
    lp = (
        bgc.join(F.broadcast(ctx), "w1")
        .join(F.broadcast(cont), "w2")
        .crossJoin(F.broadcast(types))
        .select(
            "w1",
            "w2",
            F.floor(F.log(p_kn) * int(_FX) + F.lit(0.5))
            .cast("bigint")
            .alias("fx"),
        )
    )
    perdoc = bg.join(lp, ["w1", "w2"]).groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.sum("fx").alias("sfx"),
    )
    fx = float(_FX)
    mean_lp = F.col("sfx") / (fx * F.col("n_bigrams"))
    return perdoc.select(
        "doc_id",
        "n_bigrams",
        F.round(mean_lp, 6).alias("mean_logprob"),
        F.round(F.exp(-mean_lp), 4).alias("perplexity"),
    )


# --------------------------------------------------------------------------
# HELD-OUT perplexity — the eval-hygiene version of the LM scorers
# above: the bigram model trains on the md5-bucket 12/16 TRAIN split
# and scores only the disjoint EVAL split, so the number measures
# generalization, not memorization (the difference between in-sample
# and held-out perplexity IS the overfit gap every data-quality LM
# pipeline monitors). Unseen eval bigrams back off to the
# Laplace-smoothed train unigram over the UNION vocabulary (never
# zero, so logs are always finite); unseen contexts score as pure
# backoff. Same fixed-point logprob policy as the other scorers.
# --------------------------------------------------------------------------
HELDOUT_TRAIN_BUCKETS = 12  # md5 buckets 0-11 train, 12-15 eval

_MD5_BUCKET_SQL = "CASE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) " + " ".join(
    f"WHEN '{h}' THEN {i}" for i, h in enumerate("0123456789abcdef")
) + " END"


@register(
    "txt_heldout_perplexity",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_MD5_BUCKET_SQL} AS bucket, {_TOKENS_SQL} AS t
      FROM documents
      WHERE len({_TOKENS_SQL}) >= 2
    ),
    vocab AS (
      SELECT CAST(count(DISTINCT u) AS BIGINT) AS v
      FROM (SELECT unnest(t) AS u FROM tok)
    ),
    uni AS (
      SELECT u AS tok, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT unnest(t) AS u FROM tok
            WHERE bucket < {HELDOUT_TRAIN_BUCKETS})
      GROUP BY u
    ),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS ta FROM uni),
    bg AS (
      SELECT doc_id, bucket, t[i] AS w1, t[i + 1] AS w2
      FROM tok, unnest(range(1, len(t))) AS u(i)
    ),
    bgc AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb
      FROM bg WHERE bucket < {HELDOUT_TRAIN_BUCKETS} GROUP BY w1, w2
    ),
    ctx AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS c1 FROM bgc GROUP BY w1),
    scored AS (
      SELECT e.doc_id,
             CAST(floor(ln(
                 {BIGRAM_LAMBDA} * COALESCE(b.cb * 1.0 / x.c1, 0.0)
                 + {1 - BIGRAM_LAMBDA}
                   * ((COALESCE(u.c, 0) + 1.0) / (tt.ta + vv.v))
             ) * {_FX} + 0.5) AS BIGINT) AS fx
      FROM bg e
      LEFT JOIN bgc b ON e.w1 = b.w1 AND e.w2 = b.w2
      LEFT JOIN ctx x ON e.w1 = x.w1
      LEFT JOIN uni u ON u.tok = e.w2
      CROSS JOIN tot tt CROSS JOIN vocab vv
      WHERE e.bucket >= {HELDOUT_TRAIN_BUCKETS}
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(sum(fx) / ({_FX}.0 * count(*)), 6) AS mean_logprob,
           round(exp(-sum(fx) / ({_FX}.0 * count(*))), 4) AS perplexity
    FROM scored GROUP BY doc_id
    """,
)
def txt_heldout_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out per-doc bigram perplexity: model trained on the 12/16
    md5-bucket train split, scored on the disjoint eval split with
    Laplace-smoothed unigram backoff over the union vocabulary."""
    docs = table(spark, sf_dir, "documents")
    t = F.split(F.trim("text"), r"\s+")
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1), 16, 10
    ).cast("int")
    tok = docs.select(
        "doc_id", bucket.alias("bucket"), t.alias("t")
    ).filter(F.size("t") >= 2)
    unigrams = tok.select("bucket", F.explode("t").alias("u"))
    vocab = unigrams.agg(
        F.countDistinct("u").cast("bigint").alias("v")
    )
    # model tables are vocabulary-sized and referenced twice (totals +
    # scoring joins) — persist so each training aggregation runs once;
    # the train-pass/score-pass corpus scans remain the two-pass
    # minimum.
    uni = (
        unigrams.filter(F.col("bucket") < HELDOUT_TRAIN_BUCKETS)
        .groupBy(F.col("u").alias("tok"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .persist()
    )
    tot = uni.agg(F.sum("c").cast("bigint").alias("ta"))
    bg = tok.select(
        "doc_id",
        "bucket",
        F.explode(
            F.expr(
                "zip_with(slice(t, 1, size(t) - 1),"
                "         slice(t, 2, size(t) - 1),"
                "         (x, y) -> named_struct('w1', x, 'w2', y))"
            )
        ).alias("p"),
    ).select("doc_id", "bucket", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    bgc = (
        bg.filter(F.col("bucket") < HELDOUT_TRAIN_BUCKETS)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cb"))
        .persist()
    )
    ctx = bgc.groupBy("w1").agg(F.sum("cb").cast("bigint").alias("c1"))
    ev = bg.filter(F.col("bucket") >= HELDOUT_TRAIN_BUCKETS)
    p = BIGRAM_LAMBDA * F.coalesce(
        F.col("cb") * 1.0 / F.col("c1"), F.lit(0.0)
    ) + (1 - BIGRAM_LAMBDA) * (
        (F.coalesce(F.col("c"), F.lit(0)) + 1.0) / (F.col("ta") + F.col("v"))
    )
    scored = (
        ev.join(F.broadcast(bgc), ["w1", "w2"], "left")
        .join(F.broadcast(ctx), "w1", "left")
        .join(
            F.broadcast(uni.select(F.col("tok").alias("w2"), "c")),
            "w2",
            "left",
        )
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.floor(F.log(p) * int(_FX) + F.lit(0.5)).cast("bigint").alias("fx"),
        )
    )
    fx = float(_FX)
    mean_lp = F.col("sfx") / (fx * F.col("n_bigrams"))
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum("fx").alias("sfx"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.round(mean_lp, 6).alias("mean_logprob"),
            F.round(F.exp(-mean_lp), 4).alias("perplexity"),
        )
    )


# --------------------------------------------------------------------------
# TextRank keyword extraction — weighted PageRank over the word
# co-occurrence graph (window ±2), the classic unsupervised keyword /
# keyphrase scorer. Same exact-arithmetic policy as the co-purchase
# PageRank (operators/graph.py): ranks are BIGINT fixed-point, each
# round's contribution is pr * w(u,v) DIV W(u) in integer division,
# the damping ratio is exact (85/100), and the vocabulary size folds
# in via a scalar subquery — so 3 unrolled rounds are bit-identical
# across engines and execution orders.
#
# Scale shape: co-occurrence pairs generate MAP-SIDE (shifted-slice
# zips, no self-join on positions); the edge relation aggregates once
# and is vocabulary²-bounded; each round is one edge-keyed join +
# grouped integer sum. Top-k selection is TakeOrderedAndProject.
# --------------------------------------------------------------------------
TR_ITERS = 3
TR_SCALE = 10**9
TR_TOPK = 15


def _tr_round_sql(i: int) -> str:
    return f"""tr{i + 1} AS (
      SELECT e.dst AS tok, CAST(
          {15 * TR_SCALE} // (100 * nn.n)
          + (85 * sum(p.pr_fx * e.w // wt.wsum)) // 100 AS BIGINT) AS pr_fx
      FROM tr_edges e
      JOIN tr{i} p ON p.tok = e.src
      JOIN tr_wsum wt ON wt.src = e.src
      CROSS JOIN tr_nn nn
      GROUP BY e.dst, nn.n
    )"""


_TEXTRANK_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, {_TOKENS_SQL} AS t FROM documents
  WHERE len({_TOKENS_SQL}) >= 3
),
idx AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i FROM tok
),
raw AS (
  SELECT t[i] AS a, t[i + 1] AS b FROM idx WHERE i <= len(t) - 1
  UNION ALL
  SELECT t[i], t[i + 2] FROM idx WHERE i <= len(t) - 2
),
und AS (SELECT a, b, CAST(count(*) AS BIGINT) AS w FROM raw GROUP BY a, b),
tr_edges AS (
  SELECT a AS src, b AS dst, w FROM und
  UNION ALL
  SELECT b, a, w FROM und
),
tr_wsum AS (SELECT src, CAST(sum(w) AS BIGINT) AS wsum FROM tr_edges GROUP BY src),
tr_nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tr_wsum),
tr0 AS (
  SELECT src AS tok, CAST({TR_SCALE} // nn.n AS BIGINT) AS pr_fx
  FROM tr_wsum CROSS JOIN tr_nn nn
),
{",".join(_tr_round_sql(i) for i in range(TR_ITERS))}
SELECT CAST(rnk AS INTEGER) AS rnk, tok, textrank FROM (
  SELECT tok, round(pr_fx / {TR_SCALE}.0, 9) AS textrank,
         row_number() OVER (ORDER BY pr_fx DESC, tok) AS rnk
  FROM tr{TR_ITERS}
) WHERE rnk <= {TR_TOPK}
"""


@register("txt_textrank_keywords", oracle=_TEXTRANK_ORACLE)
def txt_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TR_TOPK} corpus keywords by {TR_ITERS}-round weighted
    TextRank over the ±2-window word co-occurrence graph (exact
    fixed-point arithmetic)."""
    from ..functions.ranking import take_ordered_ranked
    from .graph import _symmetrize

    docs = table(spark, sf_dir, "documents")
    t = F.split(F.trim("text"), r"\s+")
    base = docs.select(t.alias("t")).filter(F.size("t") >= 3)
    raw = base.select(
        F.explode(
            F.concat(
                F.expr(
                    "zip_with(slice(t, 1, size(t) - 1),"
                    "         slice(t, 2, size(t) - 1),"
                    "         (x, y) -> named_struct('a', x, 'b', y))"
                ),
                F.expr(
                    "zip_with(slice(t, 1, size(t) - 2),"
                    "         slice(t, 3, size(t) - 2),"
                    "         (x, y) -> named_struct('a', x, 'b', y))"
                ),
            )
        ).alias("p")
    ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    und = raw.groupBy("a", "b").agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    # Both directions from ONE reference (a flip-union executes the
    # skip-bigram aggregate twice).
    edges = _symmetrize(und, "a", "b", "src", "dst", "w").persist()
    wsum = edges.groupBy("src").agg(F.sum("w").cast("bigint").alias("wsum"))
    n = wsum.count()  # vocabulary size as an exact literal (PageRank policy)
    base_fx = (15 * TR_SCALE) // (100 * n)
    pr = wsum.select(
        F.col("src").alias("tok"),
        F.lit(TR_SCALE // n).cast("bigint").alias("pr_fx"),
    )
    ew = edges.join(F.broadcast(wsum), "src")
    for _ in range(TR_ITERS):
        msgs = ew.join(
            pr.withColumnRenamed("tok", "src"), "src"
        ).select(
            "dst", F.expr("pr_fx * w DIV wsum").alias("c")
        )
        pr = msgs.groupBy(F.col("dst").alias("tok")).agg(
            F.expr(
                f"CAST({base_fx} + (85 * sum(c)) DIV 100 AS BIGINT)"
            ).alias("pr_fx")
        ).persist()
    ranked = take_ordered_ranked(
        pr, [F.col("pr_fx").desc(), F.col("tok")], TR_TOPK, "rnk"
    )
    return ranked.select(
        F.col("rnk").cast("int").alias("rnk"),
        "tok",
        F.round(F.col("pr_fx") / float(TR_SCALE), 9).alias("textrank"),
    )


# --------------------------------------------------------------------------
# N-gram coverage curve — what fraction of the corpus's trigram MASS do
# the top-k trigram TYPES cover, for a ladder of k. The vocabulary-
# sizing readout (tokenizer vocab, cache sizing, stopword cutoffs):
# a steep curve says a small phrase inventory covers most of the
# corpus; a flat one says the tail matters.
#
# Scale: trigram extraction is the map-side shifted-zip; the type
# counts partial-aggregate; the rank and the prefix sum both come from
# the range-partitioned helpers (no single-partition window over the
# type inventory); the ladder filter keeps 3 rows.
# --------------------------------------------------------------------------
COVERAGE_KS = (10, 100, 1000)


@register(
    "txt_trigram_coverage_curve",
    oracle=f"""
    WITH tok AS (
      SELECT {_TOKENS_SQL} AS t FROM documents
      WHERE len({_TOKENS_SQL}) >= 3
    ),
    tg AS (
      SELECT t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
      FROM tok, unnest(generate_series(1, len(t) - 2)) AS u(i)
    ),
    cnt AS (SELECT g, CAST(count(*) AS BIGINT) AS c FROM tg GROUP BY g),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS total_count,
                   CAST(count(*) AS BIGINT) AS n_types FROM cnt),
    ranked AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, g) AS rnk,
             sum(c) OVER (ORDER BY c DESC, g
                          ROWS UNBOUNDED PRECEDING) AS cum
      FROM cnt
    )
    SELECT CAST(r.rnk AS BIGINT) AS k, t.n_types, t.total_count,
           CAST(r.cum AS BIGINT) AS cum_count,
           round(r.cum * 1.0 / t.total_count, 6) AS coverage
    FROM ranked r CROSS JOIN tot t
    WHERE r.rnk IN ({", ".join(str(k) for k in COVERAGE_KS)})
    """,
)
def txt_trigram_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus trigram-mass coverage of the top-k trigram types at
    k in {COVERAGE_KS} (range-partitioned rank + prefix sum)."""
    from ..functions.ranking import global_rank, global_running_sum

    docs = table(spark, sf_dir, "documents")
    t = F.split(F.trim("text"), r"\s+")
    tg = (
        docs.select(t.alias("t"))
        .filter(F.size("t") >= 3)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t) - 3),"
                    " i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"
                )
            ).alias("g")
        )
    )
    cnt = tg.groupBy("g").agg(F.count(F.lit(1)).cast("bigint").alias("c")).persist()
    tot = cnt.agg(
        F.sum("c").cast("bigint").alias("total_count"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
    )
    order = [F.col("c").desc(), F.col("g")]
    ranked = global_rank(cnt, order, "rnk")
    curve = global_running_sum(ranked, order, F.col("c"), "cum")
    return (
        curve.filter(F.col("rnk").isin(*COVERAGE_KS))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("rnk").cast("bigint").alias("k"),
            "n_types",
            "total_count",
            F.col("cum").cast("bigint").alias("cum_count"),
            F.round(F.col("cum") * 1.0 / F.col("total_count"), 6).alias(
                "coverage"
            ),
        )
    )


# --------------------------------------------------------------------------
# Heaps' law fit — vocabulary growth V(n) ~ K * n^beta, Zipf's
# companion diagnostic: natural text grows its vocabulary
# sub-linearly (beta ~ 0.4-0.6); templated/synthetic corpora flatten
# early (tiny beta, vocabulary saturates) and open-vocabulary noise
# pushes beta toward 1. Checkpoints are the corpus prefix at 8
# doc-id thresholds (token count n_k = tokens in docs <= t_k; vocab
# V_k = types whose FIRST occurrence doc is <= t_k), so the curve
# needs no per-doc running distinct — first-occurrence reduces the
# problem to one vocab-grain min and two checkpoint-conditional
# aggregates.
#
# Exactness: n_k / V_k are exact BIGINTs; the 8 log-log coordinates
# quantize to 1e-9 fixed point before the regression sums (the
# txt_zipf_fit policy); slope/intercept are closed-form over exact
# sums.
# --------------------------------------------------------------------------
HEAPS_CHECKPOINTS = 8


@register(
    "txt_heaps_law_fit",
    oracle=rf"""
    WITH dtok AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(text), '\s+')) AS tok
      FROM documents
    ),
    per_doc AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok
      FROM dtok GROUP BY doc_id
    ),
    fo AS (
      SELECT tok, CAST(min(doc_id) AS BIGINT) AS fo_doc
      FROM dtok GROUP BY tok
    ),
    mx AS (SELECT CAST(max(doc_id) AS BIGINT) AS mid FROM documents),
    cks AS (
      SELECT k, mx.mid * k // {HEAPS_CHECKPOINTS} AS t
      FROM (SELECT unnest(range(1, {HEAPS_CHECKPOINTS} + 1)) AS k), mx
    ),
    pts AS (
      SELECT c.k,
             (SELECT CAST(sum(n_tok) AS BIGINT) FROM per_doc
              WHERE doc_id <= c.t) AS n_k,
             (SELECT CAST(count(*) AS BIGINT) FROM fo
              WHERE fo_doc <= c.t) AS v_k
      FROM cks c
    ),
    fx AS (
      SELECT CAST(floor(ln(n_k) * 1000000000) AS DECIMAL(38,0)) AS x,
             CAST(floor(ln(v_k) * 1000000000) AS DECIMAL(38,0)) AS y
      FROM pts
    ),
    sums AS (
      SELECT CAST(count(*) AS BIGINT) AS m,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(x * y) AS sxy
      FROM fx
    ),
    fin AS (
      SELECT m,
             (m * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (m * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 AS beta,
             CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
      FROM sums
    )
    SELECT f.m AS n_checkpoints,
           (SELECT max(n_k) FROM pts) AS total_tokens,
           (SELECT max(v_k) FROM pts) AS total_vocab,
           round(f.beta, 6) AS heaps_beta,
           round(exp((f.syd - f.beta * f.sxd) / (f.m * 1000000000.0)), 4)
               AS heaps_k
    FROM fin f
    """,
)
def txt_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS fit of ln(vocab) on ln(tokens) over {HEAPS_CHECKPOINTS}
    corpus-prefix checkpoints (first-occurrence reduction, fixed-point
    regression sums)."""
    docs = table(spark, sf_dir, "documents")
    dtok = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok")
    )
    per_doc = dtok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tok")
    )
    fo = dtok.groupBy("tok").agg(F.min("doc_id").cast("bigint").alias("fo_doc"))
    mx = docs.agg(F.max("doc_id").cast("bigint").alias("mid"))
    cks = (
        spark.range(1, HEAPS_CHECKPOINTS + 1)
        .select(F.col("id").alias("k"))
        .crossJoin(F.broadcast(mx))
        .select("k", F.expr(f"mid * k DIV {HEAPS_CHECKPOINTS}").alias("t"))
    )
    n_pts = (
        per_doc.crossJoin(F.broadcast(cks))
        .filter(F.col("doc_id") <= F.col("t"))
        .groupBy("k")
        .agg(F.sum("n_tok").cast("bigint").alias("n_k"))
    )
    v_pts = (
        fo.crossJoin(F.broadcast(cks))
        .filter(F.col("fo_doc") <= F.col("t"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("v_k"))
    )
    pts = n_pts.join(v_pts, "k").persist()
    fx = pts.select(
        F.floor(F.log(F.col("n_k").cast("double")) * 1000000000)
        .cast("decimal(38,0)")
        .alias("x"),
        F.floor(F.log(F.col("v_k").cast("double")) * 1000000000)
        .cast("decimal(38,0)")
        .alias("y"),
    )
    sums = fx.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    tot = pts.agg(
        F.max("n_k").cast("bigint").alias("total_tokens"),
        F.max("v_k").cast("bigint").alias("total_vocab"),
    )
    m = F.col("m")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    beta = (m * F.col("sxy").cast("double") - sxd * syd) / (
        m * F.col("sxx").cast("double") - sxd * sxd
    )
    return sums.crossJoin(F.broadcast(tot)).select(
        m.alias("n_checkpoints"),
        "total_tokens",
        "total_vocab",
        F.round(beta, 6).alias("heaps_beta"),
        F.round(F.exp((syd - beta * sxd) / (m * 1000000000.0)), 4).alias("heaps_k"),
    )


# --------------------------------------------------------------------------
# Renyi entropy spectrum per source — the four standard orders in one
# pass over the (source, token) grain: H0 = ln V (richness), H1 =
# Shannon, H2 = -ln(sum p^2) (collision entropy, the diversity number
# dedup cares about), Hinf = -ln(max p) (min-entropy, the
# worst-case-guessability number). A corpus whose H2/Hinf collapse
# while H0 stays flat is template-dominated — the spectrum separates
# "many types" from "evenly used types" in a way no single entropy
# does.
#
# Exactness: token counts and their squares are exact (BIGINT /
# decimal-HUGEINT with one rounding to double); the Shannon terms
# quantize at 1e-9 before the exact sum (txt_unigram_entropy policy);
# H0/H2/Hinf take ONE final ln per source on identical inputs.
# --------------------------------------------------------------------------
@register(
    "txt_renyi_spectrum",
    oracle=rf"""
    WITH tok AS (
      SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS t
      FROM documents
    ),
    tf AS (
      SELECT source, t, CAST(count(*) AS BIGINT) AS c
      FROM tok GROUP BY 1, 2
    ),
    agg AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS vocab,
             CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(CAST(c AS HUGEINT) * c) AS DOUBLE) AS c2,
             CAST(max(c) AS BIGINT) AS cmax
      FROM tf GROUP BY source
    ),
    h1 AS (
      SELECT tf.source,
             CAST(sum(CAST(floor(-(tf.c * 1.0 / a.n)
                                 * ln(tf.c * 1.0 / a.n)
                                 * {ENT_FX}) AS BIGINT)) AS BIGINT) AS h1_fx
      FROM tf JOIN agg a ON tf.source = a.source
      GROUP BY tf.source
    )
    SELECT a.source, a.n AS n_tokens, a.vocab,
           round(ln(a.vocab), 6) AS h0,
           round(h1.h1_fx / {ENT_FX}.0, 6) AS h1,
           round(-ln(a.c2 / (a.n * 1.0 * a.n)), 6) AS h2,
           round(-ln(a.cmax * 1.0 / a.n), 6) AS h_inf
    FROM agg a JOIN h1 ON a.source = h1.source
    """,
)
def txt_renyi_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Renyi entropy spectrum (H0, H1, H2, Hinf in nats) of the token
    distribution per source."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "source",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("t"),
    )
    tf = tok.groupBy("source", "t").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).persist()
    agg = tf.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c"))
        .cast("double")
        .alias("c2"),
        F.max("c").cast("bigint").alias("cmax"),
    )
    p = F.col("c") * 1.0 / F.col("n")
    h1 = (
        tf.join(F.broadcast(agg.select("source", "n")), "source")
        .select(
            "source",
            F.floor(-p * F.log(p) * ENT_FX).cast("bigint").alias("t_fx"),
        )
        .groupBy("source")
        .agg(F.sum("t_fx").cast("bigint").alias("h1_fx"))
    )
    return agg.join(h1, "source").select(
        "source",
        F.col("n").alias("n_tokens"),
        "vocab",
        F.round(F.log("vocab"), 6).alias("h0"),
        F.round(F.col("h1_fx") / float(ENT_FX), 6).alias("h1"),
        F.round(-F.log(F.col("c2") / (F.col("n") * 1.0 * F.col("n"))), 6).alias(
            "h2"
        ),
        F.round(-F.log(F.col("cmax") * 1.0 / F.col("n")), 6).alias("h_inf"),
    )


# --------------------------------------------------------------------------
# Next-fit-decreasing bin packing per source — the sequence-packing
# planner for fixed-context training: sort each source's documents by
# token count (desc, doc_id tiebreak) and pack them next-fit into
# NFD_CAPACITY-token bins. The packing recurrence (current bin,
# remaining capacity) is inherently sequential PER SOURCE, so it runs
# as the established per-key Arrow recurrence (applyInPandas over the
# source key — 20 parallel chains, each corpus/20 long); the DuckDB
# oracle replays the identical recurrence as a recursive CTE. An
# oversize document (> capacity) opens its own bin with negative
# remainder — the next item then never fits, so both engines agree.
# Output is the per-source packing summary (bins, fill ppm), not the
# per-doc assignment, keeping the result dimension-sized.
# --------------------------------------------------------------------------
NFD_CAPACITY = 512


@register(
    "pack_nfd_bins",
    oracle=f"""
    WITH RECURSIVE toks AS (
      SELECT source, doc_id,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                 AS n_tokens
      FROM documents WHERE length(trim(text)) > 0
    ),
    ranked AS (
      SELECT source, doc_id, n_tokens,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_tokens DESC, doc_id) AS rn
      FROM toks
    ),
    nfd(source, rn, bin, rem) AS (
      SELECT source, rn, 1, {NFD_CAPACITY} - n_tokens
      FROM ranked WHERE rn = 1
      UNION ALL
      SELECT r.source, r.rn,
             CASE WHEN r.n_tokens <= s.rem THEN s.bin ELSE s.bin + 1 END,
             CASE WHEN r.n_tokens <= s.rem THEN s.rem - r.n_tokens
                  ELSE {NFD_CAPACITY} - r.n_tokens END
      FROM nfd s JOIN ranked r ON r.source = s.source AND r.rn = s.rn + 1
    ),
    fin AS (
      SELECT source, CAST(max(bin) AS BIGINT) AS n_bins FROM nfd
      GROUP BY source
    ),
    tot AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS total_tokens
      FROM toks GROUP BY source
    )
    SELECT t.source, t.n_docs, t.total_tokens, f.n_bins,
           CAST({NFD_CAPACITY} AS BIGINT) AS capacity,
           t.total_tokens * 1000000 // (f.n_bins * {NFD_CAPACITY})
               AS fill_ppm
    FROM tot t JOIN fin f USING (source)
    """,
)
def pack_nfd_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source next-fit-decreasing packing summary into
    {NFD_CAPACITY}-token bins (Arrow per-source recurrence, recursive
    CTE oracle)."""
    import pandas as pd

    docs = table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    toks = docs.select(
        "source",
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("bigint").alias(
            "n_tokens"
        ),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["n_tokens", "doc_id"], ascending=[False, True]
        )
        bins = 0
        rem = -1
        for t in pdf["n_tokens"]:
            t = int(t)
            if bins == 0 or t > rem:
                bins += 1
                rem = NFD_CAPACITY - t
            else:
                rem -= t
        return pd.DataFrame(
            {
                "source": [pdf["source"].iloc[0]],
                "n_docs": [len(pdf)],
                "total_tokens": [int(pdf["n_tokens"].sum())],
                "n_bins": [bins],
            }
        )

    packed = toks.groupBy("source").applyInPandas(
        pack,
        schema="source string, n_docs bigint, total_tokens bigint, n_bins bigint",
    )
    return packed.select(
        "source",
        "n_docs",
        "total_tokens",
        "n_bins",
        F.lit(NFD_CAPACITY).cast("bigint").alias("capacity"),
        F.expr(
            f"total_tokens * CAST(1000000 AS BIGINT)"
            f" DIV (n_bins * {NFD_CAPACITY})"
        ).alias("fill_ppm"),
    )
