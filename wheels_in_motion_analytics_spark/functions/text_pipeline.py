"""Training-data preparation operators over documents (north-star surface):
PII redaction, vocabulary building, stopword pruning, and the composed
quality-filter pipeline a pretraining corpus actually runs.

All JVM regexp/window built-ins; the composite pipeline chains lang-ID,
quality scoring, length gates, and exact dedup into ONE Catalyst plan — the
filters fuse into the scan projection, and the only shuffles are the dedup
groupBy and the vocab count.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from wheels_in_motion_analytics_spark.functions.text import (
    LANG_MARKERS,
    STOPWORDS,
    fingerprint,
    tokens,
)
from wheels_in_motion_analytics_spark.registry import register
from wheels_in_motion_analytics_spark.tables import local_frame, table

# Public-shape PII patterns (simplified, deterministic).
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "<EMAIL>"),
    (r"\b(?:\+?\d{1,2}[ -])?(?:\(\d{3}\)|\d{3})[ -]?\d{3}[ -]?\d{4}\b", "<PHONE>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]


def redact_pii(col: Column) -> Column:
    out = col
    for pattern, token in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, token)
    return out


@register(
    "pii_redact",
    category="text",
    doc="PII redaction: email/phone/IP patterns replaced with typed tokens "
    "— chained regexp_replace, one codegen stage.",
    oracle="""
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(text,
             '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
           '\\b(?:\\+?\\d{1,2}[ -])?(?:\\(\\d{3}\\)|\\d{3})[ -]?\\d{3}[ -]?\\d{4}\\b', '<PHONE>', 'g'),
         '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g') AS redacted
FROM documents
""",
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "documents").select(
        "doc_id", redact_pii(F.col("text")).alias("redacted")
    )


VOCAB_MIN_COUNT = 5


@register(
    "vocab_build",
    category="text",
    doc=f"Vocabulary build: corpus-wide token counts (min count "
    f"{VOCAB_MIN_COUNT}), ids assigned by (count desc, token asc) rank — "
    "the token->id map a tokenizer trains from. One explode + one groupBy "
    "+ one small window over the aggregated vocab.",
    oracle=f"""
WITH tok AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS t
  FROM documents
),
counts AS (
  SELECT t AS token, COUNT(*) AS n FROM tok GROUP BY t HAVING COUNT(*) >= {VOCAB_MIN_COUNT}
)
SELECT token, n,
       CAST(row_number() OVER (ORDER BY n DESC, token ASC) - 1 AS INTEGER) AS token_id
FROM counts
""",
)
def vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    par = spark.sparkContext.defaultParallelism
    counts = (
        table(spark, sf_dir, "documents")
        .repartition(par)
        .select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= VOCAB_MIN_COUNT)
    )
    # token ids span the whole vocab; at web-corpus scale the vocab relation
    # is itself millions of rows, so assign ids with the two-phase exact
    # rank (range-partitioned parallel sort), not a single-task window
    from wheels_in_motion_analytics_spark.operators.windows import global_row_number

    ranked = global_row_number(
        counts, [F.desc("n"), F.asc("token")], rn_name="__rn"
    )
    return ranked.select(
        "token", "n", (F.col("__rn") - 1).cast("int").alias("token_id")
    )


@register(
    "stopword_prune_tokens",
    category="text",
    doc="Stopword pruning: per-document token arrays with stopwords removed "
    "+ retention ratio.",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ws
  FROM documents
)
SELECT doc_id,
       CAST(len(list_filter(ws, w -> w NOT IN ({", ".join(repr(s) for s in STOPWORDS)}))) AS INTEGER)
         AS n_content_tokens,
       CAST(len(ws) AS INTEGER) AS n_tokens,
       CAST(len(list_filter(ws, w -> w NOT IN ({", ".join(repr(s) for s in STOPWORDS)}))) AS DOUBLE)
         / greatest(len(ws), 1) AS retention
FROM t
""",
)
def stopword_prune_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("ws")
    )
    kept = F.filter(F.col("ws"), lambda w: ~F.array_contains(stop_arr, w))
    return docs.select(
        "doc_id",
        F.size(kept).alias("n_content_tokens"),
        F.size("ws").alias("n_tokens"),
        (F.size(kept).cast("double") / F.greatest(F.size("ws"), F.lit(1))).alias("retention"),
    )


MIN_TOKENS = 20
MIN_QUALITY = 0.3


@register(
    "corpus_quality_pipeline",
    category="text",
    doc="The composed training-data prep pipeline: language gate (en) → "
    "length gate → quality gate → exact dedup (keep lowest doc_id per "
    "fingerprint) → redacted output. One Catalyst plan; the only shuffle "
    "is the dedup.",
    oracle=f"""
WITH t AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
  FROM documents
),
scored AS (
  SELECT doc_id, text,
         len(toks) AS nt,
         len(list_filter(toks, x -> x IN ({", ".join(repr(s) for s in LANG_MARKERS["en"])}))) AS c_en,
         len(list_filter(toks, x -> x IN ({", ".join(repr(s) for s in LANG_MARKERS["es"])}))) AS c_es,
         len(list_filter(toks, x -> x IN ({", ".join(repr(s) for s in LANG_MARKERS["fr"])}))) AS c_fr,
         CAST(len(list_filter(toks, x -> x IN ({", ".join(repr(s) for s in STOPWORDS)}))) AS DOUBLE)
           / greatest(len(toks), 1) AS swr,
         CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS pr
  FROM t
),
gated AS (
  SELECT doc_id, text,
         ROUND(0.5 * least(CAST(nt AS DOUBLE) / 100, 1.0) + 0.3 * least(swr * 5, 1.0)
               + 0.2 * (1.0 - least(pr * 10, 1.0)), 6) AS quality
  FROM scored
  WHERE c_en > 0 AND c_en >= c_es AND c_en >= c_fr
    AND nt >= {MIN_TOKENS}
),
deduped AS (
  SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
         MIN(doc_id) AS doc_id,
         arg_min(quality, doc_id) AS quality
  FROM gated
  WHERE quality >= {MIN_QUALITY}
  GROUP BY 1
)
SELECT doc_id, quality FROM deduped
""",
)
def corpus_quality_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "text", tokens(F.col("text")).alias("toks")
    )

    def count_in(words: tuple[str, ...]) -> Column:
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(F.col("toks"), lambda t: F.array_contains(arr, t)))

    nt = F.size("toks")
    c_en = count_in(LANG_MARKERS["en"])
    c_es = count_in(LANG_MARKERS["es"])
    c_fr = count_in(LANG_MARKERS["fr"])
    swr = count_in(STOPWORDS).cast("double") / F.greatest(nt, F.lit(1))
    pr = F.length(F.regexp_replace("text", r"[^.,;:!?]", "")).cast("double") / F.greatest(
        F.length("text"), F.lit(1)
    )
    quality = F.round(
        0.5 * F.least(nt.cast("double") / 100, F.lit(1.0))
        + 0.3 * F.least(swr * 5, F.lit(1.0))
        + 0.2 * (F.lit(1.0) - F.least(pr * 10, F.lit(1.0))),
        6,
    )
    gated = (
        docs.where((c_en > 0) & (c_en >= c_es) & (c_en >= c_fr) & (nt >= MIN_TOKENS))
        .select("doc_id", "text", quality.alias("quality"))
        .where(F.col("quality") >= MIN_QUALITY)
    )
    # Dedup keeps (lowest doc_id, its quality) per fingerprint via ONE
    # min(struct) aggregate — a join-back to re-fetch quality would run the
    # whole tokenize+gate subplan twice (the plan tree is reused by name,
    # not materialized) and add a second shuffle.
    return (
        gated.groupBy(fingerprint(F.col("text")).alias("fp"))
        .agg(F.min(F.struct("doc_id", "quality")).alias("m"))
        .select(F.col("m.doc_id").alias("doc_id"), F.col("m.quality").alias("quality"))
    )


@register(
    "ngram_bigram_topk",
    category="text",
    doc="Corpus bigram statistics: adjacent-token pairs from the shared "
    "whitespace tokenizer, counted globally, top 20 with total-order "
    "tiebreak. The n-gram language-model / collocation building block: one "
    "explode + one count shuffle, partial-aggregated map-side; the token "
    "array is materialized BEFORE the pairing lambda (expression-in-lambda "
    "re-evaluation trap, NOTES.md #5).",
    oracle=r"""
WITH toks AS (
  SELECT list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS tokens
  FROM documents
),
big AS (
  SELECT unnest(list_transform(generate_series(1, CAST(len(tokens) AS INTEGER) - 1),
                               i -> tokens[i] || ' ' || tokens[i + 1])) AS bigram
  FROM toks
)
SELECT bigram, COUNT(*) AS n
FROM big
GROUP BY bigram
ORDER BY n DESC, bigram ASC
LIMIT 20
""",
)
def ngram_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select(tokens(F.col("text")).alias("toks"))
    bigrams = docs.select(
        F.expr(
            "transform(slice(toks, 1, greatest(size(toks) - 1, 0)),"
            " (x, i) -> concat(x, ' ', element_at(toks, i + 2)))"
        ).alias("bigrams")
    )
    return (
        # explode_outer, NOT explode: plain explode makes the optimizer
        # infer a `size(bigrams) > 0` filter BELOW the projection
        # (InferFiltersFromGenerate), inlining the whole tokenize+pair
        # expression into the Filter and re-evaluating it ~4x per row.
        # Outer explode skips that rule; the null rows from empty docs are
        # dropped by a cheap post-Generate filter on the output column.
        bigrams.select(F.explode_outer("bigrams").alias("bigram"))
        .where(F.col("bigram").isNotNull())
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(20)
    )


@register(
    "vocab_oov_rate",
    category="text",
    doc="Out-of-vocabulary audit: tokenizer coverage of the min-count "
    "vocabulary per document — token occurrences found in the vocab vs "
    "total, OOV rate as an exact integer ratio. One explode + one "
    "broadcast join against the (tiny, aggregated) vocab — the coverage "
    "check run before committing to a tokenizer/vocab size.",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ws
  FROM documents
),
vocab AS (
  SELECT tok FROM (
    SELECT unnest(ws) AS tok FROM t
  ) GROUP BY tok HAVING COUNT(*) >= {VOCAB_MIN_COUNT}
),
ex AS (SELECT doc_id, unnest(ws) AS tok FROM t)
SELECT ex.doc_id,
       COUNT(*) AS n_tokens,
       COUNT(*) FILTER (WHERE v.tok IS NOT NULL) AS covered,
       round(1.0 - CAST(COUNT(*) FILTER (WHERE v.tok IS NOT NULL) AS DOUBLE)
             / COUNT(*), 6) AS oov_rate
FROM ex LEFT JOIN vocab v ON ex.tok = v.tok
GROUP BY ex.doc_id
""",
)
def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    par = spark.sparkContext.defaultParallelism
    toks = (
        table(spark, sf_dir, "documents")
        .repartition(par)
        .select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= VOCAB_MIN_COUNT)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count(F.col("in_vocab")).alias("covered"),
            F.round(
                1.0 - F.count(F.col("in_vocab")).cast("double") / F.count(F.lit(1)),
                6,
            ).alias("oov_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Dataset card: corpus-level summary audit
# ---------------------------------------------------------------------------


@register(
    "corpus_dataset_card",
    category="text-pipeline",
    doc="The dataset-card summary every released training corpus ships "
    "with, as ONE relational pass per language: document and source "
    "counts, char/token volume, exact-duplicate rate (distinct "
    "normalization fingerprints vs rows), and share of corpus tokens. "
    "Everything is count/sum aggregates over a single scan plus one "
    "tiny share join — no per-doc state survives the aggregation, so "
    "the plan is partial+final agg all the way down.",
    oracle="""
WITH per_doc AS (
  SELECT lang, source, n_chars,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
         len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''))
           AS n_tokens
  FROM documents
),
by_lang AS (
  SELECT lang,
         COUNT(*) AS n_docs,
         COUNT(DISTINCT source) AS n_sources,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         COUNT(DISTINCT fp) AS n_unique,
         ROUND(1.0 - CAST(COUNT(DISTINCT fp) AS DOUBLE) / COUNT(*), 6)
           AS dup_rate
  FROM per_doc GROUP BY lang
),
tot AS (SELECT CAST(SUM(total_tokens) AS BIGINT) AS corpus_tokens FROM by_lang)
SELECT lang, n_docs, n_sources, total_chars, total_tokens, n_unique, dup_rate,
       ROUND(CAST(total_tokens AS DOUBLE) / corpus_tokens, 6) AS token_share
FROM by_lang CROSS JOIN tot
""",
)
def corpus_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.functions.text import fingerprint, tokens

    per_doc = table(spark, sf_dir, "documents").select(
        "lang",
        "source",
        "n_chars",
        fingerprint(F.col("text")).alias("fp"),
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    by_lang = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("n_tokens").alias("total_tokens"),
        F.countDistinct("fp").alias("n_unique"),
        F.round(
            1.0 - F.countDistinct("fp").cast("double") / F.count(F.lit(1)), 6
        ).alias("dup_rate"),
    )
    tot = by_lang.agg(F.sum("total_tokens").alias("corpus_tokens"))
    return by_lang.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "n_sources",
        "total_chars",
        "total_tokens",
        "n_unique",
        "dup_rate",
        F.round(F.col("total_tokens").cast("double") / F.col("corpus_tokens"), 6).alias(
            "token_share"
        ),
    )


@register(
    "token_length_histogram",
    category="text-pipeline",
    doc="Sequence-length distribution for batch-shape planning: documents "
    "bucketed by floor(log2(token count)) — the stat that decides packing "
    "bin sizes and truncation limits before a training run. Per-bucket "
    "doc/token counts plus cumulative token share; the cumulative window "
    "runs over the aggregated bucket relation (≤ ~15 rows), never rows.",
    oracle="""
WITH t AS (
  SELECT greatest(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                  x -> x <> '')), 1) AS nt
  FROM documents
),
b AS (
  SELECT CAST(floor(log2(nt)) AS INTEGER) AS len_bucket,
         COUNT(*) AS n_docs,
         CAST(SUM(nt) AS BIGINT) AS bucket_tokens
  FROM t GROUP BY 1
)
SELECT len_bucket, n_docs, bucket_tokens,
       ROUND(CAST(SUM(bucket_tokens) OVER (ORDER BY len_bucket) AS DOUBLE)
             / SUM(bucket_tokens) OVER (), 6) AS cum_token_share
FROM b
""",
)
def token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    nt = F.greatest(F.size(tokens(F.col("text"))), F.lit(1))
    b = (
        table(spark, sf_dir, "documents")
        .select(F.floor(F.log2(nt)).cast("int").alias("len_bucket"), nt.alias("nt"))
        .groupBy("len_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").cast("bigint").alias("bucket_tokens"),
        )
    )
    w_cum = Window.orderBy("len_bucket").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    return b.select(
        "len_bucket",
        "n_docs",
        "bucket_tokens",
        F.round(
            F.sum("bucket_tokens").over(w_cum).cast("double")
            / F.sum("bucket_tokens").over(w_all),
            6,
        ).alias("cum_token_share"),
    )


# --------------------------------------------------------------------------
# Skip-gram training-pair assembly (embedding-training dataset step)
# --------------------------------------------------------------------------

SKIPGRAM_WINDOW = 2
SKIPGRAM_TOPK = 50


@register(
    "skipgram_training_pairs",
    category="text",
    doc=f"Skip-gram (center, context) training-pair assembly with window "
    f"±{SKIPGRAM_WINDOW} — the dataset step of word2vec-style embedding "
    "training (pairs feed the negative_sampling_table downstream). "
    "Forward offsets only (each unordered co-occurrence counted once per "
    "direction convention); pair counts from one explode + one "
    f"map-side-combinable groupBy, top {SKIPGRAM_TOPK} by (count DESC, "
    "center, context) via a TakeOrderedAndProject heap.",
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ws
  FROM documents
),
idx AS (
  SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM toks
),
pairs AS (
  SELECT ws[i] AS center, ws[i + k] AS context
  FROM idx CROSS JOIN (SELECT unnest(range(1, {SKIPGRAM_WINDOW} + 1)) AS k)
  WHERE i + k <= len(ws)
)
SELECT center, context, COUNT(*) AS n_pairs
FROM pairs
GROUP BY 1, 2
ORDER BY n_pairs DESC, center, context
LIMIT {SKIPGRAM_TOPK}
""",
)
def skipgram_training_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select(
        tokens(F.col("text")).alias("ws")
    )
    # materialize the token array BEFORE the position explode (the
    # expression-in-lambda trap, NOTES.md decision #5)
    pos = docs.select(F.posexplode("ws").alias("i", "center"), "ws")
    pairs = pos.select(
        "center",
        F.explode(
            F.slice(
                F.col("ws"),
                F.col("i") + 2,  # posexplode is 0-based; slice is 1-based
                SKIPGRAM_WINDOW,
            )
        ).alias("context"),
    )
    return (
        pairs.groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy(F.desc("n_pairs"), "center", "context")
        .limit(SKIPGRAM_TOPK)
    )


# --------------------------------------------------------------------------
# PMI co-occurrence mining
# --------------------------------------------------------------------------

PMI_MIN_PAIRS = 5
PMI_TOPK = 25


@register(
    "pmi_cooccurrence_topk",
    category="text",
    doc=f"Pointwise mutual information over adjacent-token bigrams: "
    f"PMI(a,b) = ln(c_ab·T_tok / (c_a·c_b)) with T_tok the unigram total "
    f"and bigram support ≥ {PMI_MIN_PAIRS} — collocation mining for "
    "phrase detection (word2phrase). Unigram and bigram counts come from "
    "two map-side-combinable aggregates; each PMI pays ONE isolated ln "
    "rounded to 9dp (the entropy/psi discipline) over an exact integer "
    f"ratio, top {PMI_TOPK} by (pmi DESC, pair) with exact tiebreaks.",
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ws
  FROM documents
),
uni AS (
  SELECT t, COUNT(*) AS c
  FROM (SELECT unnest(ws) AS t FROM toks) GROUP BY t
),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t_tok FROM uni),
big AS (
  SELECT a, b, COUNT(*) AS c_ab
  FROM (
    SELECT ws[i] AS a, ws[i + 1] AS b
    FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM toks)
    WHERE i + 1 <= len(ws)
  )
  GROUP BY a, b HAVING COUNT(*) >= {PMI_MIN_PAIRS}
)
SELECT big.a, big.b, CAST(big.c_ab AS BIGINT) AS c_ab,
       round(ln(CAST(big.c_ab AS DOUBLE) * tot.t_tok / (ua.c * ub.c)), 9)
         AS pmi
FROM big
JOIN uni ua ON ua.t = big.a
JOIN uni ub ON ub.t = big.b
CROSS JOIN tot
ORDER BY pmi DESC, big.a, big.b
LIMIT {PMI_TOPK}
""",
)
def pmi_cooccurrence_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = table(spark, sf_dir, "documents").select(
        tokens(F.col("text")).alias("ws")
    )
    uni = (
        toks.select(F.explode("ws").alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = uni.agg(F.sum("c").cast("bigint").alias("t_tok"))
    pos = toks.select(F.posexplode("ws").alias("i", "a"), "ws")
    big = (
        pos.select(
            "a",
            # try_element_at: the last token has no successor and ANSI
            # element_at THROWS past the array end (the try_funcs lesson)
            F.try_element_at(F.col("ws"), F.col("i") + 2).alias("b"),
        )
        .where(F.col("b").isNotNull())
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .where(F.col("c_ab") >= PMI_MIN_PAIRS)
    )
    ua = uni.select(F.col("t").alias("a"), F.col("c").alias("ca"))
    ub = uni.select(F.col("t").alias("b"), F.col("c").alias("cb"))
    return (
        big.join(ua, "a")
        .join(ub, "b")
        .crossJoin(F.broadcast(tot))
        .select(
            "a",
            "b",
            F.col("c_ab").cast("bigint").alias("c_ab"),
            F.round(
                F.log(
                    F.col("c_ab").cast("double")
                    * F.col("t_tok")
                    / (F.col("ca") * F.col("cb"))
                ),
                9,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "a", "b")
        .limit(PMI_TOPK)
    )


# ---------------------------------------------------------------------------
# Zipf rank-frequency fit — corpus health diagnostic
# ---------------------------------------------------------------------------

ZIPF_TOP_RANKS = 1000

# micro-ln grid: round(ln(x), 6) * 1e6 as BIGINT — one isolated libm call
# per value (ln is IEEE-identical across engines; the 6dp rounding is the
# same green-precedent discipline as psi_price_drift / bm25 idf), after
# which EVERY downstream number is exact integer arithmetic.
_MICRO_LN = "CAST(round(round(ln(CAST({v} AS DOUBLE)), 6) * 1000000, 0) AS BIGINT)"


@register(
    "zipf_token_rank_slope",
    category="text",
    doc=f"Zipf rank-frequency fit over the corpus vocabulary: OLS of "
    f"ln(freq) on ln(rank) for the top {ZIPF_TOP_RANKS} ranks — the "
    "power-law slope (~-1 for natural language) a corpus-health audit "
    "reads before training. SCALE SHAPE: token counts are one explode + "
    "groupBy; ranks come from the TWO-PHASE exact rank "
    "(operators/windows.py:global_row_number — vocab relations are "
    "millions of rows at web scale, never a single-task window); the "
    "regression is ONE map-side-combinable moment aggregate over the "
    f"bounded top-{ZIPF_TOP_RANKS} relation. HASH-PROOF OUTPUT: ln values "
    "are quantized to the micro-ln integer grid in isolation, moments "
    "accumulate in DECIMAL(38,0), and slope/intercept/rho emit as exact "
    "half-up integer divisions (slope_ppm = num DIV dxx half-up; rho via "
    "functions/stats.py:with_corr_ppm) — no float quotient, no decimal "
    "output column (NOTES.md round-6 checklist).",
    oracle=f"""
WITH tok AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS t
  FROM documents
),
counts AS (SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY t),
ranked AS (
  SELECT n, row_number() OVER (ORDER BY n DESC, token ASC) AS rnk
  FROM counts
),
grid AS (
  SELECT {_MICRO_LN.format(v='rnk')} AS x, {_MICRO_LN.format(v='n')} AS y
  FROM ranked WHERE rnk <= {ZIPF_TOP_RANKS}
),
m AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(x AS HUGEINT) * y) AS sxy,
         SUM(CAST(y AS HUGEINT) * y) AS syy
  FROM grid
),
d AS (
  SELECT n, sx, sy,
         n * sxy - sx * sy AS num,
         n * sxx - sx * sx AS dxx,
         n * syy - sy * sy AS dyy
  FROM m
),
ic AS (
  SELECT d.*,
         sy * dxx - num * sx AS ia,
         n * dxx AS ib
  FROM d
)
SELECT CAST(n AS BIGINT) AS n_points,
       CASE WHEN dxx = 0 THEN NULL
            ELSE CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)
                 * ((2 * abs(num) * 1000000 + dxx) // (2 * dxx)) AS BIGINT)
       END AS slope_ppm,
       CASE WHEN ib = 0 THEN NULL
            ELSE CAST((CASE WHEN ia < 0 THEN -1 ELSE 1 END)
                 * ((2 * abs(ia) + ib) // (2 * ib)) AS BIGINT)
       END AS intercept_micro,
       {{RHO}} AS rho_ppm
FROM ic
""".replace(
        "{RHO}", "__RHO__"
    ),
)
def zipf_token_rank_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.functions.stats import with_corr_ppm
    from wheels_in_motion_analytics_spark.operators.windows import global_row_number

    par = spark.sparkContext.defaultParallelism
    counts = (
        table(spark, sf_dir, "documents")
        .repartition(par)
        .select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ranked = global_row_number(counts, [F.desc("n"), F.asc("token")], rn_name="rnk")

    def micro_ln(col: str) -> F.Column:
        return (
            F.round(F.round(F.log(F.col(col).cast("double")), 6) * 1000000, 0)
        ).cast("bigint")

    grid = ranked.where(F.col("rnk") <= ZIPF_TOP_RANKS).select(
        micro_ln("rnk").alias("x"), micro_ln("n").alias("y")
    )

    def d38(expr):
        return F.sum(expr.cast("decimal(38,0)"))

    c = F.col
    m = grid.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        d38(c("x")).alias("sx"),
        d38(c("y")).alias("sy"),
        d38(c("x") * c("x")).alias("sxx"),
        d38(c("x") * c("y")).alias("sxy"),
        d38(c("y") * c("y")).alias("syy"),
    )
    d = m.select(
        "n",
        "sx",
        "sy",
        (c("n") * c("sxy") - c("sx") * c("sy")).cast("decimal(38,0)").alias("num"),
        (c("n") * c("sxx") - c("sx") * c("sx")).cast("decimal(38,0)").alias("dxx"),
        (c("n") * c("syy") - c("sy") * c("sy")).cast("decimal(38,0)").alias("dyy"),
    ).select(
        "*",
        (c("sy") * c("dxx") - c("num") * c("sx")).cast("decimal(38,0)").alias("ia"),
        (c("n") * c("dxx")).cast("decimal(38,0)").alias("ib"),
    )
    slope = F.when(c("dxx") == 0, F.lit(None).cast("bigint")).otherwise(
        (
            F.when(c("num") < 0, F.lit(-1)).otherwise(F.lit(1))
            * F.expr(
                "CAST((2 * abs(num) * CAST(1000000 AS DECIMAL(38,0)) + dxx)"
                " DIV (2 * dxx) AS BIGINT)"
            )
        ).cast("bigint")
    )
    intercept = F.when(c("ib") == 0, F.lit(None).cast("bigint")).otherwise(
        (
            F.when(c("ia") < 0, F.lit(-1)).otherwise(F.lit(1))
            * F.expr("CAST((2 * abs(ia) + ib) DIV (2 * ib) AS BIGINT)")
        ).cast("bigint")
    )
    return with_corr_ppm(d, out="rho_ppm").select(
        c("n").cast("bigint").alias("n_points"),
        slope.alias("slope_ppm"),
        intercept.alias("intercept_micro"),
        "rho_ppm",
    )


from wheels_in_motion_analytics_spark.registry import REGISTRY as _REG_ZIPF  # noqa: E402
from wheels_in_motion_analytics_spark.functions.stats import corr_ppm_sql as _corr_ppm_sql  # noqa: E402

_REG_ZIPF["zipf_token_rank_slope"].oracle = _REG_ZIPF[
    "zipf_token_rank_slope"
].oracle.replace("__RHO__", _corr_ppm_sql("num", "dxx", "dyy"))


# ---------------------------------------------------------------------------
# Vocabulary drift PSI — corpus-mix monitoring between sources
# ---------------------------------------------------------------------------

VDRIFT_TOPK = 200  # monitored vocabulary: global top-K tokens
VDRIFT_LAPLACE = 1


@register(
    "vocab_drift_psi",
    category="text",
    doc=f"Vocabulary-drift PSI between the two largest document sources: "
    f"shares of the global top-{VDRIFT_TOPK} tokens (+ one OTHER cell for "
    "the tail, add-one smoothing) compared as Σ (p−q)·ln(p/q) — the "
    "data-drift monitor applied to a training corpus's token mix (the "
    "text twin of psi_price_drift). Counts are exact integers; each ln "
    "term is rounded in isolation (the single libm call, green-precedent "
    "discipline) and terms accumulate in DECIMAL. Emits the "
    f"top-20-by-|term| decomposition with the total. SCALE SHAPE: one "
    "explode+groupBy for counts, the monitored vocab is a bounded "
    "broadcast, everything after is bounded-relation arithmetic.",
    oracle=f"""
WITH toks AS (
  SELECT source, unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS t
  FROM documents
),
src2 AS (
  SELECT source, row_number() OVER (ORDER BY COUNT(*) DESC, source) AS srank
  FROM toks GROUP BY source QUALIFY srank <= 2
),
vocab AS (
  SELECT t FROM toks GROUP BY t
  ORDER BY COUNT(*) DESC, t LIMIT {VDRIFT_TOPK}
),
cell AS (
  SELECT s.srank, COALESCE(v.t, '<OTHER>') AS token, COUNT(*) AS n
  FROM toks JOIN src2 s USING (source)
  LEFT JOIN vocab v ON toks.t = v.t
  GROUP BY 1, 2
),
grid AS (
  SELECT token FROM vocab UNION ALL SELECT '<OTHER>'
),
filled AS (
  SELECT g.token,
         COALESCE(MAX(CASE WHEN srank = 1 THEN n END), 0) + {VDRIFT_LAPLACE} AS na,
         COALESCE(MAX(CASE WHEN srank = 2 THEN n END), 0) + {VDRIFT_LAPLACE} AS nb
  FROM (SELECT t AS token FROM vocab UNION ALL SELECT '<OTHER>') g
  LEFT JOIN cell ON cell.token = g.token
  GROUP BY g.token
),
tot AS (SELECT SUM(na) AS ta, SUM(nb) AS tb FROM filled),
terms AS (
  SELECT token,
         round((CAST(na AS DOUBLE) / ta - CAST(nb AS DOUBLE) / tb)
               * round(ln((CAST(na AS DOUBLE) / ta) / (CAST(nb AS DOUBLE) / tb)), 6),
               6) AS psi_term
  FROM filled CROSS JOIN tot
)
SELECT token, psi_term,
       CAST(SUM(CAST(psi_term AS DECIMAL(18,6))) OVER () AS DOUBLE) AS psi_total
FROM terms
ORDER BY abs(psi_term) DESC, token
LIMIT 20
""",
)
def vocab_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = F.col
    toks = (
        table(spark, sf_dir, "documents")
        .select("source", F.explode(tokens(F.col("text"))).alias("t"))
        .localCheckpoint()  # source ranking, vocab and cells all read it
    )
    src2 = (
        toks.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "source")
        .limit(2)
        .select(
            "source",
            F.row_number()
            .over(Window.orderBy(F.desc("n"), "source"))
            .alias("srank"),
        )
    )
    vocab = (
        toks.groupBy("t")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "t")
        .limit(VDRIFT_TOPK)
        .select(c("t").alias("vt"))
    )
    cell = (
        toks.join(F.broadcast(src2), "source")
        .join(F.broadcast(vocab), toks.t == vocab.vt, "left")
        .select("srank", F.coalesce(c("vt"), F.lit("<OTHER>")).alias("token"))
        .groupBy("srank", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    grid = vocab.select(c("vt").alias("token")).unionByName(
        local_frame(spark, [("<OTHER>",)], "token string")
    )
    filled = (
        grid.join(cell, "token", "left")
        .groupBy("token")
        .agg(
            (
                F.coalesce(F.max(F.when(c("srank") == 1, c("n"))), F.lit(0))
                + VDRIFT_LAPLACE
            ).alias("na"),
            (
                F.coalesce(F.max(F.when(c("srank") == 2, c("n"))), F.lit(0))
                + VDRIFT_LAPLACE
            ).alias("nb"),
        )
    )
    tot = filled.agg(F.sum("na").alias("ta"), F.sum("nb").alias("tb"))
    pa = c("na").cast("double") / c("ta")
    pb = c("nb").cast("double") / c("tb")
    term = F.round((pa - pb) * F.round(F.log(pa / pb), 6), 6)
    terms = filled.crossJoin(F.broadcast(tot)).select(
        "token", term.alias("psi_term")
    )
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        terms.select(
            "token",
            "psi_term",
            F.sum(c("psi_term").cast("decimal(18,6)")).over(wall).cast("double").alias("psi_total"),
        )
        .orderBy(F.abs(c("psi_term")).desc(), "token")
        .limit(20)
    )
