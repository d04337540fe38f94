"""Training-data curation operators: the selection/packing half of an LLM
data pipeline (the dedup/quality half lives in functions/similarity.py and
functions/text_pipeline.py).

Everything here is hash-deterministic — no ``rand()`` anywhere. Splits,
samples, and packing orders derive from md5 of the document id, so results
are identical across engines, runs, partitionings, and cluster sizes; that
is both what makes them DuckDB-oracle-checkable and what a reproducible
training pipeline needs (re-running the pipeline on the same snapshot must
produce the same train set, or ablations are meaningless).

Scale posture per operator:

* split/sample: stateless hash-bucket per row — embarrassingly parallel,
  no shuffle at all for the split, one per-stratum shuffle for the exact
  quotas.
* decontamination: inverted-index join on shingles — identical shape to the
  dedup candidate joins; the (small) benchmark side broadcasts.
* packing: per-shard window cumsum — the shard key bounds window state, so
  packing parallelizes across shards instead of one global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from wheels_in_motion_analytics_spark.compat import davg, dsum, oracle_davg, oracle_dsum
from wheels_in_motion_analytics_spark.functions.similarity import (
    _oracle_hash,
    doc_shingles_of,
    hash_hex,
    oracle_shingles,
)
from wheels_in_motion_analytics_spark.registry import register
from wheels_in_motion_analytics_spark.tables import local_frame, table

# train/val/test fractions in integer percent (bucket space is 0..99)
SPLIT_TRAIN = 80
SPLIT_VAL = 10  # test gets the remainder

STRATUM_PCT = 20  # stratified-sample keep rate per language, integer percent

EVAL_EVERY = 50  # doc_id % EVAL_EVERY == 0 plays the held-out benchmark set

PACK_BUDGET = 2048  # token budget per packed sequence bin
PACK_SHARDS = 8


def _split_bucket(col):
    """Stable 0..99 bucket from the doc id (salted so other hash uses of
    doc_id stay independent)."""
    return hash_hex(F.concat(F.lit("split:"), col.cast("string"))) % 100


_SPLIT_HASH = _oracle_hash("'split:' || CAST(doc_id AS VARCHAR)")
_ORACLE_BUCKET = f"{_SPLIT_HASH} % 100"


@register(
    "curate_split_train_val_test",
    category="curation",
    doc=f"Deterministic {SPLIT_TRAIN}/{SPLIT_VAL}/{100 - SPLIT_TRAIN - SPLIT_VAL} "
    "train/val/test split by salted md5 bucket of doc_id — stateless, "
    "shuffle-free, identical on any engine/cluster/run (rand()-based splits "
    "are none of those).",
    oracle=f"""
SELECT doc_id,
       CAST({_ORACLE_BUCKET} AS INTEGER) AS bucket,
       CASE WHEN {_ORACLE_BUCKET} < {SPLIT_TRAIN} THEN 'train'
            WHEN {_ORACLE_BUCKET} < {SPLIT_TRAIN + SPLIT_VAL} THEN 'val'
            ELSE 'test' END AS split
FROM documents
""",
)
def curate_split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = _split_bucket(F.col("doc_id"))
    return table(spark, sf_dir, "documents").select(
        "doc_id",
        b.cast("int").alias("bucket"),
        F.when(b < SPLIT_TRAIN, "train")
        .when(b < SPLIT_TRAIN + SPLIT_VAL, "val")
        .otherwise("test")
        .alias("split"),
    )


@register(
    "curate_stratified_sample",
    category="curation",
    doc=f"Exact-quota stratified sample: ceil({STRATUM_PCT}% × |stratum|) "
    "documents per language, chosen by md5 rank within the stratum — exact "
    "per-stratum counts (hash-threshold sampling only hits the fraction in "
    "expectation) and fully deterministic. The quota comparison is pure "
    "integer math ((rn-1)·100 < cnt·pct ⇔ rn ≤ ceil(cnt·pct/100)) — a "
    "float fraction would ceil differently across engines on exact "
    "multiples (DuckDB parses 0.2 as DECIMAL, Spark as double).",
    oracle=f"""
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS cnt
  FROM documents
)
WHERE (rn - 1) * 100 < cnt * {STRATUM_PCT}
""",
)
def curate_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    wc = Window.partitionBy("lang")
    return (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "lang",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wc).alias("cnt"),
        )
        .where((F.col("rn") - 1) * 100 < F.col("cnt") * STRATUM_PCT)
        .select("doc_id", "lang")
    )


@register(
    "curate_decontaminate",
    category="curation",
    doc=f"Benchmark decontamination: every doc_id % {EVAL_EVERY} == 0 plays "
    "the held-out eval set; train documents sharing ≥1 distinct 3-gram "
    "shingle with it are flagged with their overlap count. Inverted-index "
    "join — the dedup candidate-join shape; the eval side is small and "
    "broadcasts.",
    oracle=f"""
WITH {oracle_shingles("documents")},
eval_sh AS (SELECT DISTINCT s FROM sh WHERE doc_id % {EVAL_EVERY} = 0),
train_sh AS (SELECT doc_id, s FROM sh WHERE doc_id % {EVAL_EVERY} <> 0)
SELECT t.doc_id, CAST(COUNT(DISTINCT t.s) AS BIGINT) AS n_shared_shingles
FROM train_sh t JOIN eval_sh e ON t.s = e.s
GROUP BY t.doc_id
""",
)
def curate_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = doc_shingles_of(
        table(spark, sf_dir, "documents").repartition(
            spark.sparkContext.defaultParallelism
        )
    )
    eval_sh = (
        sh.where(F.col("doc_id") % EVAL_EVERY == 0).select("s").distinct()
    )
    train_sh = sh.where(F.col("doc_id") % EVAL_EVERY != 0)
    return (
        train_sh.join(F.broadcast(eval_sh), "s")
        .groupBy("doc_id")
        .agg(F.countDistinct("s").alias("n_shared_shingles"))
    )


@register(
    "curate_pack_sequences",
    category="curation",
    doc=f"Token-budget sequence packing ({PACK_BUDGET} tokens/bin): documents "
    f"are hash-sharded into {PACK_SHARDS} independent streams, ordered by md5 "
    "within each shard, and binned by running token count (first-fit in hash "
    "order). The shard key bounds window state so packing parallelizes — the "
    "100 TB alternative to one global greedy sort. Emits per-bin occupancy.",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         {_oracle_hash("'pack:' || CAST(doc_id AS VARCHAR)")} % {PACK_SHARDS} AS shard,
         len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS n_tokens
  FROM documents
),
c AS (
  SELECT shard, n_tokens,
         SUM(n_tokens) OVER (
           PARTITION BY shard
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cum
  FROM t
)
SELECT CAST(shard AS INTEGER) AS shard,
       CAST(floor((cum - n_tokens) / {PACK_BUDGET}.0) AS INTEGER) AS bin,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
FROM c
GROUP BY 1, 2
""",
)
def curate_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.functions.text import tokens

    t = table(spark, sf_dir, "documents").select(
        "doc_id",
        (hash_hex(F.concat(F.lit("pack:"), F.col("doc_id").cast("string"))) % PACK_SHARDS).alias("shard"),
        F.size(tokens(F.col("text"))).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.select("shard", "n_tokens", F.sum("n_tokens").over(w).alias("cum"))
    return (
        c.select(
            F.col("shard").cast("int").alias("shard"),
            F.floor((F.col("cum") - F.col("n_tokens")) / float(PACK_BUDGET))
            .cast("int")
            .alias("bin"),
            "n_tokens",
        )
        .groupBy("shard", "bin")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("bin_tokens"))
    )


REPEAT_MAX_DUP_FRAC = 0.7  # keep docs whose duplicate-3-gram fraction ≤ this


@register(
    "curate_intradoc_repetition",
    category="curation",
    doc="Intra-document repetition profile: fraction of word-3-grams that are "
    "duplicates of an earlier 3-gram in the SAME document (the standard "
    "boilerplate/spam signal). Entirely per-row array math — zero shuffles, "
    "scales with input splits; the keep flag implements the curation gate "
    f"(dup_frac ≤ {REPEAT_MAX_DUP_FRAC}).",
    oracle=f"""
WITH g AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(ws) - 1, 1)),
                        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS grams
  FROM (SELECT doc_id, {{toks}} AS ws FROM documents)
)
SELECT doc_id,
       CAST(len(grams) AS BIGINT) AS n_grams,
       CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
       round((len(grams) - len(list_distinct(grams))) * 1.0
             / greatest(len(grams), 1), 6) AS dup_frac,
       (len(grams) - len(list_distinct(grams))) * 1.0
         / greatest(len(grams), 1) <= {REPEAT_MAX_DUP_FRAC} AS keep
FROM g
""".format(
        toks="list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"
    ),
)
def curate_intradoc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.functions.text import tokens

    # Materialize ws into a column BEFORE the transform lambda (NOTES.md #5:
    # inline expressions re-evaluate per element).
    ws = table(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("ws")
    )
    # when-guard: sequence(1, size-2) DESCENDS for size < 3 (Spark auto-steps
    # -1) and element_at past the end throws under ANSI — short docs must map
    # to an empty gram list, as the oracle's range() does.
    grams = F.when(
        F.size("ws") >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size("ws") - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(F.col("ws"), i),
                F.element_at(F.col("ws"), i + 1),
                F.element_at(F.col("ws"), i + 2),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = ws.select("doc_id", grams.alias("grams"))
    n = F.size("grams").cast("bigint")
    nd = F.size(F.array_distinct("grams")).cast("bigint")
    dup = (n - nd) * F.lit(1.0) / F.greatest(n, F.lit(1)).cast("bigint")
    return g.select(
        "doc_id",
        n.alias("n_grams"),
        nd.alias("n_distinct"),
        F.round(dup, 6).alias("dup_frac"),
        (dup <= REPEAT_MAX_DUP_FRAC).alias("keep"),
    )


@register(
    "curate_rebalance_lang",
    category="curation",
    doc="Class rebalancing by downsampling: every language keeps exactly "
    "min-stratum-count documents (md5-ranked), yielding a uniform language "
    "mixture — the deterministic version of per-class sampling weights.",
    oracle="""
WITH ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rn
  FROM documents
),
floor_cnt AS (SELECT MIN(cnt) AS m FROM (SELECT COUNT(*) AS cnt FROM documents GROUP BY lang))
SELECT doc_id, lang FROM ranked, floor_cnt WHERE rn <= m
""",
)
def curate_rebalance_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    ranked = docs.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
    floor_cnt = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(F.min("cnt").alias("m"))
    )
    return (
        ranked.crossJoin(F.broadcast(floor_cnt))
        .where(F.col("rn") <= F.col("m"))
        .select("doc_id", "lang")
    )


@register(
    "feature_binning_buckets",
    category="curation",
    doc="Feature discretization for model prep: fixed-width buckets "
    "(width_bucket over quantity — stateless per-row math, zero shuffle) "
    "crossed with EXACT quartiles computed by the distributed two-phase "
    "rank (operators/windows.py:global_ntile — range-partitioned parallel "
    "sort + per-partition offsets), identical ntile semantics to a global "
    "window with NO single-task sort stage anywhere in the plan. "
    "Output is the binned feature grid with per-cell counts and "
    "decimal-deterministic revenue.",
    oracle=f"""
WITH binned AS (
  SELECT CASE WHEN l_quantity < 0 THEN CAST(0 AS BIGINT)
              WHEN l_quantity >= 50 THEN CAST(6 AS BIGINT)
              ELSE CAST(1 + FLOOR(l_quantity / 10) AS BIGINT) END AS qty_bucket,
         CAST(ntile(4) OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber)
              AS INTEGER) AS price_quartile,
         l_extendedprice, l_discount
  FROM lineitem
)
SELECT qty_bucket, price_quartile,
       COUNT(*) AS n_items,
       {{davg}} AS avg_discount,
       {{dsum}} AS revenue
FROM binned
GROUP BY qty_bucket, price_quartile
""".format(
        davg=oracle_davg("l_discount"),
        dsum=oracle_dsum("l_extendedprice * (1 - l_discount)"),
    ),
)
def feature_binning_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.operators.windows import global_ntile

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount"
    )
    tiled = global_ntile(
        li,
        4,
        ["l_extendedprice", "l_orderkey", "l_linenumber"],
        tile_name="price_quartile",
    )
    binned = tiled.select(
        F.width_bucket("l_quantity", F.lit(0.0), F.lit(50.0), F.lit(5)).alias(
            "qty_bucket"
        ),
        "price_quartile",
        "l_extendedprice",
        "l_discount",
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return binned.groupBy("qty_bucket", "price_quartile").agg(
        F.count(F.lit(1)).alias("n_items"),
        davg("l_discount").alias("avg_discount"),
        dsum(rev).alias("revenue"),
    )


@register(
    "curate_source_quota",
    category="curation",
    doc="Per-source document quota: rank each source's docs by length (desc, "
    "doc_id tiebreak) and keep the top 20 — the domain-balancing cap a "
    "pretraining mix applies so no single crawl source dominates. One "
    "window shuffle on source; emits per-source kept-count + kept char "
    "volume, so the oracle check covers both the ranking and the cut.",
    oracle="""
WITH ranked AS (
  SELECT source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id ASC) AS rnk
  FROM documents
)
SELECT source,
       COUNT(*) AS n_kept,
       CAST(SUM(n_chars) AS BIGINT) AS kept_chars
FROM ranked
WHERE rnk <= 20
GROUP BY source
""",
)
def curate_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        docs.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 20)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("kept_chars"),
        )
    )


@register(
    "curate_importance_sample",
    category="curation",
    doc="Quality-weighted (importance) sampling: each document is kept with "
    "probability proportional to a quality score, decided by comparing the "
    "score against a deterministic md5-uniform draw keyed on doc_id — "
    "reproducible across runs/engines/partitionings, no rand() anywhere. "
    "The standard way to upsample high-quality text without a global sort.",
    oracle="""
WITH scored AS (
  SELECT doc_id,
         round(least(CAST(n_chars AS DOUBLE) / 400, 1.0), 6) AS quality,
         CAST(('0x' || substr(md5('imp:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
              AS DOUBLE) / 1152921504606846976 AS draw
  FROM documents
)
SELECT doc_id, quality, round(draw, 6) AS draw_r
FROM scored
WHERE draw < quality
""",
)
def curate_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    quality = F.round(
        F.least(F.col("n_chars").cast("double") / 400, F.lit(1.0)), 6
    )
    draw = (
        hash_hex(F.concat(F.lit("imp:"), F.col("doc_id").cast("string"))).cast(
            "double"
        )
        / F.lit(float(1 << 60))
    )
    return (
        docs.select(
            "doc_id", quality.alias("quality"), draw.alias("draw")
        )
        .where(F.col("draw") < F.col("quality"))
        .select("doc_id", "quality", F.round("draw", 6).alias("draw_r"))
    )


@register(
    "curate_curriculum_order",
    category="curation",
    doc="Curriculum assignment: documents ranked by a difficulty proxy "
    "(length, tie-broken by doc_id) and cut into 4 curriculum phases with "
    "ntile — short/easy documents first. One global-ish window bounded by "
    "the rank state; at 100 TB the same shape runs per-shard with a "
    "distributed ntile (range partition + offset).",
    oracle="""
SELECT doc_id, n_chars,
       CAST(ntile(4) OVER (ORDER BY n_chars, doc_id) AS INTEGER) AS phase
FROM documents
""",
)
def curate_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.operators.windows import global_ntile

    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    # curriculum phases span the WHOLE corpus: use the two-phase exact
    # ntile, not a single-task global window over every document
    return global_ntile(docs, 4, ["n_chars", "doc_id"], tile_name="phase")


@register(
    "curate_temperature_mixture",
    category="curation",
    doc="Temperature-scaled language mixture (τ = 1/2): per-language keep "
    "rate sqrt(min_lang_count / lang_count) — rare languages keep "
    "everything, dominant ones downsample toward balance (the standard "
    "multilingual mixing rule). sqrt is IEEE-correct on both engines so the "
    "rounded rate is portable; the keep decision compares it against the "
    "same md5-uniform draw machinery as importance sampling. One tiny "
    "language-count aggregate broadcast back over the corpus — no shuffle "
    "of the documents themselves. (source counts are uniform in this "
    "corpus, lang is the skewed axis.)",
    oracle="""
WITH sc AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
mn AS (SELECT MIN(n) AS min_n FROM sc),
rated AS (
  SELECT d.doc_id, d.lang,
         round(sqrt(CAST(mn.min_n AS DOUBLE) / sc.n), 6) AS keep_rate,
         CAST(('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
              AS DOUBLE) / 1152921504606846976 AS draw
  FROM documents d JOIN sc USING (lang) CROSS JOIN mn
)
SELECT doc_id, lang, keep_rate
FROM rated WHERE draw < keep_rate
""",
)
def curate_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    sc = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    mn = sc.agg(F.min("n").alias("min_n"))
    rate = F.round(
        F.sqrt(F.col("min_n").cast("double") / F.col("n")), 6
    )
    draw = hash_hex(
        F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))
    ).cast("double") / F.lit(float(1 << 60))
    return (
        docs.join(F.broadcast(sc), "lang")
        .crossJoin(F.broadcast(mn))
        .select("doc_id", "lang", rate.alias("keep_rate"), draw.alias("draw"))
        .where(F.col("draw") < F.col("keep_rate"))
        .select("doc_id", "lang", "keep_rate")
    )


UPSAMPLE_GRID = 1_000  # fractional-epoch draw resolution


@register(
    "curate_upsample_epochs",
    category="curation",
    doc="Fractional-epoch UPSAMPLING (the mixture-weights complement of the "
    "downsampling ops): each source gets an epoch factor 1.0/1.5/2.0/2.5 "
    "(source-number mod 4); every document is emitted floor(epochs) times "
    "plus one extra copy when a deterministic md5 draw lands under the "
    "fractional part — so a 1.5-epoch source repeats half its docs, chosen "
    "reproducibly, no rand(). Emission is explode(sequence(1, n_copies)) — "
    "per-row fan-out, zero shuffles, exactly how a training-data epoch "
    "plan materializes at 100 TB. Output: (doc_id, copy_idx) rows.",
    oracle=f"""
WITH planned AS (
  SELECT doc_id,
         CAST(substr(source, 4) AS INTEGER) % 4 AS bucket,
         1 + (CAST(substr(source, 4) AS INTEGER) % 4) * 5 / 10.0 AS epochs,
         ('0x' || substr(md5('ups:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
           % {UPSAMPLE_GRID} AS draw
  FROM documents
),
copies AS (
  SELECT doc_id,
         CAST(floor(epochs) AS INTEGER)
           + CASE WHEN draw < (epochs - floor(epochs)) * {UPSAMPLE_GRID}
                  THEN 1 ELSE 0 END AS n_copies
  FROM planned
)
SELECT c.doc_id, CAST(t.i AS INTEGER) AS copy_idx
FROM copies c, UNNEST(range(1, n_copies + 1)) AS t(i)
""",
)
def curate_upsample_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 10).cast("int")
    epochs = 1 + (src_num % 4) * F.lit(5) / F.lit(10.0)
    draw = hash_hex(
        F.concat(F.lit("ups:"), F.col("doc_id").cast("string"))
    ) % UPSAMPLE_GRID
    n_copies = F.floor(epochs).cast("int") + F.when(
        draw < (epochs - F.floor(epochs)) * UPSAMPLE_GRID, 1
    ).otherwise(0)
    return docs.select(
        "doc_id", F.explode(F.sequence(F.lit(1), n_copies)).alias("copy_idx")
    )


# --------------------------------------------------------------------------
# SFT conversation assembly (chat-template rendering)
# --------------------------------------------------------------------------

SFT_MAX_TURNS = 8


@register(
    "sft_render_conversations",
    category="curation",
    doc="SFT training-sample assembly: each user's event stream becomes a "
    f"chat-templated conversation (first {SFT_MAX_TURNS} turns by (ts, "
    "event_id); roles alternate user/assistant by turn parity; values "
    "carried as exact integer cents so the rendered string is identical "
    "across engines). The per-user window shuffles once on user_id — "
    "key-partitioned, no global sort; rendering is collect_list → "
    "array_sort → array_join, all JVM-side. Emits the rendered text plus "
    "turn/char counts — the exact shape a chat-SFT tokenizer consumes.",
    oracle=f"""
WITH turns AS (
  SELECT user_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         event_type,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
),
capped AS (SELECT * FROM turns WHERE rn <= {SFT_MAX_TURNS}),
rendered AS (
  SELECT user_id,
         string_agg('<|' || CASE WHEN rn % 2 = 1 THEN 'user' ELSE 'assistant' END
                    || '|>' || event_type || '=' || CAST(cents AS VARCHAR),
                    chr(10) ORDER BY rn) AS conversation,
         COUNT(*) AS n_turns
  FROM capped GROUP BY user_id
)
SELECT user_id, n_turns, conversation,
       CAST(len(conversation) AS INTEGER) AS n_chars
FROM rendered
""",
)
def sft_render_conversations(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type", "value")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    turns = (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= SFT_MAX_TURNS)
        .select(
            "user_id",
            "rn",
            F.concat(
                F.lit("<|"),
                F.when(F.col("rn") % 2 == 1, "user").otherwise("assistant"),
                F.lit("|>"),
                F.col("event_type"),
                F.lit("="),
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").cast("string"),
            ).alias("turn"),
        )
    )
    rendered = (
        turns.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rn", "turn"))),
                    lambda x: x["turn"],
                ),
                "\n",
            ).alias("conversation"),
            F.count(F.lit(1)).alias("n_turns"),
        )
    )
    return rendered.select(
        "user_id", "n_turns", "conversation", F.length("conversation").alias("n_chars")
    )


# --------------------------------------------------------------------------
# RLHF preference-pair construction
# --------------------------------------------------------------------------


@register(
    "rlhf_preference_pairs",
    category="curation",
    doc="Preference-pair assembly for reward-model training: documents are "
    "paired within their source by deterministic md5 order (pair_id = "
    "rank/2 — the no-rand() analogue of random pairing), and within each "
    "pair the higher-quality document (length proxy, doc_id tiebreak) "
    "becomes 'chosen', the other 'rejected', with the integer quality "
    "margin. Two key-partitioned windows (source; source×pair) — no "
    "global state; incomplete trailing pairs are dropped, as in a real "
    "pairing pass. Oracle replicates both windows verbatim.",
    oracle="""
WITH ordered AS (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents
),
paired AS (
  SELECT source, doc_id, n_chars,
         CAST(floor((rn - 1) / 2) AS BIGINT) AS pair_id,
         row_number() OVER (PARTITION BY source, floor((rn - 1) / 2)
                            ORDER BY n_chars DESC, doc_id ASC) AS pref
  FROM ordered
)
SELECT source, pair_id,
       MAX(CASE WHEN pref = 1 THEN doc_id END) AS chosen_doc,
       MAX(CASE WHEN pref = 2 THEN doc_id END) AS rejected_doc,
       CAST(MAX(CASE WHEN pref = 1 THEN n_chars END)
            - MAX(CASE WHEN pref = 2 THEN n_chars END) AS BIGINT) AS quality_margin
FROM paired
GROUP BY source, pair_id
HAVING COUNT(*) = 2
""",
)
def rlhf_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    w_ord = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    ordered = docs.withColumn("rn", F.row_number().over(w_ord)).withColumn(
        "pair_id", F.floor((F.col("rn") - 1) / 2).cast("bigint")
    )
    w_pref = Window.partitionBy("source", "pair_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    paired = ordered.withColumn("pref", F.row_number().over(w_pref))
    return (
        paired.groupBy("source", "pair_id")
        .agg(
            F.max(F.when(F.col("pref") == 1, F.col("doc_id"))).alias("chosen_doc"),
            F.max(F.when(F.col("pref") == 2, F.col("doc_id"))).alias("rejected_doc"),
            (
                F.max(F.when(F.col("pref") == 1, F.col("n_chars")))
                - F.max(F.when(F.col("pref") == 2, F.col("n_chars")))
            ).cast("bigint").alias("quality_margin"),
            F.count(F.lit(1)).alias("__n"),
        )
        .where(F.col("__n") == 2)
        .drop("__n")
    )


TOKEN_BUDGET = 1_000_000  # target pretraining tokens for the mixture plan


@register(
    "curate_token_budget_allocation",
    category="curation",
    doc=f"Token-budget allocation plan for a {TOKEN_BUDGET:,}-token "
    "pretraining run: per-source available whitespace tokens (exact "
    "integer counts), mixture weight ∝ sqrt(available) quantized to "
    "per-mille via integer isqrt shares (sub-linear upsampling curve, zero "
    "float accumulation), desired tokens = budget × weight, then the epoch plan — "
    "full passes (DIV), remainder tokens (MOD), and the repeat factor "
    "data loaders need. Pure integer arithmetic end to end, fully "
    "oracle-checked. The planning half that pairs with "
    "curate_upsample_epochs/curate_temperature_mixture at 100 TB: the "
    "plan is computed on the per-source aggregate (|sources| rows), "
    "never the corpus.",
    oracle=f"""
WITH avail AS (
  SELECT source,
         CAST(SUM(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                  x -> x <> ''))) AS BIGINT) AS available_tokens
  FROM documents GROUP BY source
),
wq AS (
  SELECT source, available_tokens,
         CAST((CAST(floor(sqrt(CAST(available_tokens AS DOUBLE))) AS BIGINT) * 1000)
           // SUM(CAST(floor(sqrt(CAST(available_tokens AS DOUBLE))) AS BIGINT)) OVER ()
           AS BIGINT) AS weight_permille
  FROM avail
),
plan AS (
  SELECT source, available_tokens, weight_permille,
         CAST(({TOKEN_BUDGET} * weight_permille) // 1000 AS BIGINT) AS desired_tokens
  FROM wq
)
SELECT source, available_tokens, weight_permille, desired_tokens,
       CAST(desired_tokens // available_tokens AS BIGINT) AS full_epochs,
       CAST(desired_tokens % available_tokens AS BIGINT) AS remainder_tokens,
       round(CAST(desired_tokens AS DOUBLE) / available_tokens, 4) AS repeat_factor
FROM plan
""",
)
def curate_token_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.functions.text import tokens

    avail = (
        table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.sum(F.size(tokens(F.col("text"))).cast("bigint")).alias("available_tokens"))
    )
    # integer isqrt weights: sqrt of an exact integer is correctly
    # rounded IEEE, floor() lands on the same BIGINT everywhere, and the
    # per-mille share is integer DIV — no float accumulation anywhere
    wall = Window.partitionBy()
    isqrt = F.floor(F.sqrt(F.col("available_tokens").cast("double"))).cast("bigint")
    weight = F.expr(
        "CAST((isqrt * 1000) DIV sum_isqrt AS BIGINT)"
    )
    plan = (
        avail.withColumn("isqrt", isqrt)
        .withColumn("sum_isqrt", F.sum("isqrt").over(wall))
        .select(
            "source",
            "available_tokens",
            weight.alias("weight_permille"),
        )
    ).withColumn(
        "desired_tokens",
        F.expr(f"CAST(({TOKEN_BUDGET} * weight_permille) DIV 1000 AS BIGINT)"),
    )
    return plan.select(
        "source",
        "available_tokens",
        "weight_permille",
        "desired_tokens",
        F.expr("CAST(desired_tokens DIV available_tokens AS BIGINT)").alias("full_epochs"),
        (F.col("desired_tokens") % F.col("available_tokens")).alias("remainder_tokens"),
        F.round(
            F.col("desired_tokens").cast("double") / F.col("available_tokens"), 4
        ).alias("repeat_factor"),
    )


PPS_EXPECTED_K = 64
_PPS_SCALE = 1 << 52  # md5 draw domain


@register(
    "curate_pps_poisson_sample",
    category="curation",
    doc=f"PPS Poisson sampling (probability-proportional-to-size, the "
    "survey-sampling / gradient-estimation standard): each document is "
    f"included independently with probability min(1, k*w/W) for k = "
    f"{PPS_EXPECTED_K} expected picks, w = its char weight, W = the corpus "
    "total — so the expected sample size is calibrated corpus-wide, unlike "
    "the per-doc Bernoulli of curate_importance_sample. FULLY EXACT: the "
    "md5 draw is a 52-bit integer and the inclusion test cross-multiplies "
    "to draw*W < k*w*2^52 in DECIMAL(38,0)/HUGEINT — no floats, no libm, "
    "identical on every engine and partitioning. SCALE SHAPE: one scalar "
    "total broadcast onto a single filter pass; selection is one linear "
    "scan.",
    oracle=f"""
WITH w AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
         ('0x' || substr(md5('pps:' || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
           AS draw52
  FROM documents
),
tot AS (SELECT CAST(SUM(weight) AS BIGINT) AS total_w FROM w)
SELECT doc_id, weight, draw52
FROM w CROSS JOIN tot
WHERE CAST(draw52 AS HUGEINT) * total_w
      < CAST({PPS_EXPECTED_K} AS HUGEINT) * weight * {_PPS_SCALE}
""",
)
def curate_pps_poisson_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("weight"),
        hash_hex(
            F.concat(F.lit("pps:"), F.col("doc_id").cast("string")), 13
        ).alias("draw52"),
    )
    tot = docs.agg(F.sum("weight").cast("bigint").alias("total_w"))
    d38 = "decimal(38,0)"
    return (
        docs.crossJoin(F.broadcast(tot))
        .where(
            F.col("draw52").cast(d38) * F.col("total_w").cast(d38)
            < F.lit(PPS_EXPECTED_K).cast(d38)
            * F.col("weight").cast(d38)
            * F.lit(_PPS_SCALE).cast(d38)
        )
        .select("doc_id", "weight", "draw52")
    )


NEG_SAMPLES = 64


@register(
    "negative_sampling_table",
    category="curation",
    doc=f"word2vec-style negative-sampling draws: vocabulary weights "
    "proportional to count^0.75 (the Mikolov et al. 2013 smoothing) "
    "computed FLOAT-FREE as nested integer isqrt — w = isqrt(f * "
    "isqrt(f)) — cumulative ranges from the two-phase exact prefix sum "
    f"over the binary-ordered vocabulary, and {NEG_SAMPLES} md5-"
    "deterministic draws resolved to tokens by range containment "
    "(cum - w <= draw < cum). SCALE SHAPE: weights and ranges live on "
    "the VOCABULARY grain (never corpus rows); the bounded draw set "
    "broadcasts onto one range-containment pass (at dictionary scale the "
    "lookup becomes a range-partitioned binary search — same relation, "
    "same semantics). Pure integer arithmetic end to end.",
    oracle=f"""
WITH toks AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                            x -> x <> '')) AS token
  FROM documents
),
vocab AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS f FROM toks GROUP BY token
),
w AS (
  SELECT token, f,
         CAST(floor(sqrt(f * CAST(floor(sqrt(CAST(f AS DOUBLE))) AS BIGINT)
                         * 1.0)) AS BIGINT) AS wt
  FROM vocab
),
cum AS (
  SELECT token, f, wt,
         CAST(SUM(wt) OVER (ORDER BY token
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS c
  FROM w
),
tot AS (SELECT CAST(SUM(wt) AS BIGINT) AS total_w FROM w),
draws AS (
  SELECT i AS k,
         ('0x' || substr(md5('neg:' || CAST(i AS VARCHAR)), 1, 13))::BIGINT
           AS h
  FROM (SELECT unnest(range(0, {NEG_SAMPLES})) AS i)
)
SELECT d.k, c.token, c.f, c.wt
FROM draws d
CROSS JOIN tot
JOIN cum c ON c.c - c.wt <= d.h % total_w AND d.h % total_w < c.c
""",
)
def negative_sampling_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.functions.text import tokens
    from wheels_in_motion_analytics_spark.operators.windows import (
        global_prefix_sums,
    )

    vocab = (
        table(spark, sf_dir, "documents")
        .select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    isqrt_f = F.floor(F.sqrt(F.col("f").cast("double"))).cast("bigint")
    w = vocab.withColumn(
        "wt",
        F.floor(F.sqrt((F.col("f") * isqrt_f).cast("double"))).cast("bigint"),
    )
    cum = global_prefix_sums(w, ["token"], ["wt"]).select(
        "token", "f", "wt", F.col("wt_cum").alias("c")
    )
    tot = w.agg(F.sum("wt").cast("bigint").alias("total_w"))
    draws = spark.range(NEG_SAMPLES).select(
        F.col("id").alias("k"),
        hash_hex(F.concat(F.lit("neg:"), F.col("id").cast("string")), 13).alias(
            "h"
        ),
    )
    d = draws.crossJoin(F.broadcast(tot)).select(
        "k", (F.col("h") % F.col("total_w")).alias("d")
    )
    return cum.join(
        F.broadcast(d),
        (F.col("c") - F.col("wt") <= F.col("d")) & (F.col("d") < F.col("c")),
    ).select("k", "token", "f", "wt")


# --------------------------------------------------------------------------
# Output sharding by token budget
# --------------------------------------------------------------------------

SHARD_TOKEN_BUDGET = 1024


@register(
    "shard_assignment_by_budget",
    category="curation",
    doc="Deterministic output sharding: documents ordered by an md5 shuffle "
    "key, assigned to shards by inclusive token prefix-sum DIV budget "
    f"({SHARD_TOKEN_BUDGET} tokens) — the writer layout step that turns a "
    "curated corpus into near-equal training shards without a bin-packing "
    "solver. The prefix sum is the two-phase exact global running sum "
    "(range-partitioned parallel sort, LONG partition offsets), so shard "
    "assignment never funnels through one task; the audit emits per-shard "
    "doc/token totals.",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''))
              AS BIGINT) AS tok_n,
         md5('shard:' || CAST(doc_id AS VARCHAR)) AS h
  FROM documents
),
cum AS (
  SELECT doc_id, tok_n,
         CAST(SUM(tok_n) OVER (ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS c
  FROM t
)
SELECT CAST(greatest(c, 1) - 1 AS BIGINT) // {SHARD_TOKEN_BUDGET} AS shard,
       COUNT(*) AS n_docs,
       CAST(SUM(tok_n) AS BIGINT) AS shard_tokens
FROM cum
GROUP BY 1
""",
)
def shard_assignment_by_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.functions.text import tokens
    from wheels_in_motion_analytics_spark.operators.windows import (
        global_prefix_sums,
    )

    t = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("bigint").alias("tok_n"),
        F.md5(F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))).alias(
            "h"
        ),
    )
    cum = global_prefix_sums(t, ["h", "doc_id"], ["tok_n"], suffix="_c")
    return (
        cum.groupBy(
            F.expr(
                f"(greatest(tok_n_c, 1) - 1) DIV {SHARD_TOKEN_BUDGET}"
            ).alias("shard")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok_n").cast("bigint").alias("shard_tokens"),
        )
    )


# --------------------------------------------------------------------------
# Learning-curve nested sample schedule
# --------------------------------------------------------------------------

LC_TIERS_PCT = (12, 25, 50, 100)  # percent of the corpus per tier


@register(
    "learning_curve_nested_samples",
    category="curation",
    doc=f"Learning-curve sample schedule at {LC_TIERS_PCT}% of the corpus: "
    "each tier is drawn by thresholding ONE md5 uniform per order, so the "
    "tiers are NESTED BY CONSTRUCTION (every smaller sample is a subset "
    "of every larger — the property scaling-law runs require, and the "
    "audit proves: per-tier counts and revenue are monotone). One "
    "broadcast tier relation fans each row into its qualifying tiers; "
    "everything else is a map-side-combinable agg.",
    oracle=f"""
WITH u AS (
  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
         ('0x' || substr(md5('lc:' || CAST(o_orderkey AS VARCHAR)), 1, 13))::BIGINT AS draw
  FROM orders
),
tiers AS (SELECT unnest(ARRAY[{", ".join(str(p) for p in LC_TIERS_PCT)}]) AS pct)
SELECT CAST(pct AS BIGINT) AS tier_pct,
       COUNT(*) AS n_rows,
       CAST(SUM(cents) AS BIGINT) AS revenue_cents
FROM u JOIN tiers ON draw * 100 < pct * 4503599627370496
GROUP BY pct
""",
)
def learning_curve_nested_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = table(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
        hash_hex(
            F.concat(F.lit("lc:"), F.col("o_orderkey").cast("string")), 13
        ).alias("draw"),
    )
    tiers = local_frame(spark, [(p,) for p in LC_TIERS_PCT], "pct long")
    # draw/2^52 < pct/100 as exact cross-multiplication (52-bit uniform)
    return (
        u.join(
            F.broadcast(tiers),
            F.col("draw") * 100 < F.col("pct") * F.lit(2**52),
        )
        .groupBy(F.col("pct").cast("bigint").alias("tier_pct"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
    )


# --------------------------------------------------------------------------
# Prefix-locality reordering audit (KV-cache-aware serving order)
# --------------------------------------------------------------------------

PREFIX_CAP = 8  # compare at most this many leading tokens per adjacent pair


def _shared_prefix_case(
    a: str, b: str, cap: int = PREFIX_CAP, spark_side: bool = False
) -> str:
    """Shared-token-prefix length as a CASE chain over the first ``cap``
    1-based positions, with NULL≠token mismatches via IS DISTINCT FROM.
    ENGINE TRAP: DuckDB ``list[i]`` is 1-based and NULL out of bounds, but
    Spark ``arr[i]`` is 0-BASED and ANSI-THROWS out of bounds — the Spark
    side must index with try_element_at (1-based, NULL-safe)."""
    if spark_side:
        idx = lambda col, i: f"try_element_at({col}, {i})"
    else:
        idx = lambda col, i: f"{col}[{i}]"
    whens = " ".join(
        f"WHEN {idx(a, i)} IS DISTINCT FROM {idx(b, i)} THEN {i - 1}"
        for i in range(1, cap + 1)
    )
    return f"CASE {whens} ELSE {cap} END"


@register(
    "prefix_locality_reorder_audit",
    category="curation",
    doc=f"KV-cache-aware serving order: documents sorted by their leading-"
    "3-token key put shared-prefix neighbors adjacent, so a prefix-caching "
    "inference server re-uses KV state across consecutive requests. The "
    "audit measures Σ shared-token-prefix (capped at {PREFIX_CAP}) over "
    "adjacent pairs under the natural doc_id order vs the prefix-sorted "
    "order — the reorder's cache-hit win, exactly. Adjacency comes from "
    "the two-phase exact global rank + a rn=rn+1 self-join (no single-"
    "task sort at any corpus size); the prefix comparison is a fixed "
    "CASE chain (NULL-safe via IS DISTINCT FROM).",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ws
  FROM documents
),
keyed AS (
  SELECT doc_id, ws[1:8] AS ws,
         array_to_string(ws[1:3], ' ') AS pkey
  FROM t
),
nat AS (
  SELECT ws, row_number() OVER (ORDER BY doc_id) AS rn FROM keyed
),
opt AS (
  SELECT ws, row_number() OVER (ORDER BY pkey, doc_id) AS rn FROM keyed
),
nat_pairs AS (
  SELECT {_shared_prefix_case('a.ws', 'b.ws')} AS sp
  FROM nat a JOIN nat b ON b.rn = a.rn + 1
),
opt_pairs AS (
  SELECT {_shared_prefix_case('a.ws', 'b.ws')} AS sp
  FROM opt a JOIN opt b ON b.rn = a.rn + 1
)
SELECT 'natural' AS ordering, COUNT(*) AS n_pairs,
       CAST(SUM(sp) AS BIGINT) AS shared_prefix_sum
FROM nat_pairs
UNION ALL
SELECT 'prefix_sorted', COUNT(*), CAST(SUM(sp) AS BIGINT)
FROM opt_pairs
""",
)
def prefix_locality_reorder_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.functions.text import tokens
    from wheels_in_motion_analytics_spark.operators.windows import (
        global_row_number,
    )

    # only the first PREFIX_CAP tokens ever matter — slice BEFORE the
    # range shuffle so the ranked payload is 8 short tokens per row, not
    # the whole document
    keyed = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.slice(tokens(F.col("text")), 1, PREFIX_CAP).alias("ws"),
    ).select(
        "doc_id",
        "ws",
        F.concat_ws(" ", F.slice("ws", 1, 3)).alias("pkey"),
    )

    def pair_sum(order_cols, label: str) -> DataFrame:
        ranked = global_row_number(keyed, order_cols, rn_name="rn").select(
            "ws", "rn"
        )
        a = ranked.select(F.col("ws").alias("ws_a"), "rn")
        b = ranked.select(
            F.col("ws").alias("ws_b"), (F.col("rn") - 1).alias("rn")
        )
        pairs = a.join(b, "rn")
        sp = F.expr(_shared_prefix_case("ws_a", "ws_b", spark_side=True))
        return pairs.agg(
            F.lit(label).alias("ordering"),
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(sp).cast("bigint").alias("shared_prefix_sum"),
        ).select("ordering", "n_pairs", "shared_prefix_sum")

    return pair_sum([F.asc("doc_id")], "natural").unionByName(
        pair_sum([F.asc("pkey"), F.asc("doc_id")], "prefix_sorted")
    )


# ---------------------------------------------------------------------------
# Length-bucketed batching — padding-waste audit
# ---------------------------------------------------------------------------

BUCKET_STEP = 64
BUCKET_CAP = 1024


@register(
    "curate_length_bucket_padding",
    category="curation",
    doc=f"Length-bucketed batching audit: documents are assigned to padded-"
    f"length buckets (token count rounded up to the next {BUCKET_STEP}, "
    f"capped at {BUCKET_CAP} with truncation), and each bucket reports its "
    "doc count, real token mass, padded token mass and padding waste — the "
    "numbers a training-loader reads to choose bucket boundaries. ONE "
    "map-side-combinable groupBy over a projection (zero joins, zero "
    "windows — scales as a single scan). All arithmetic is exact integers; "
    "waste_ppm is a half-up integer division with DECIMAL(38,0) internal "
    "products (padded mass × 2e6 exceeds BIGINT at the 100 TB corpus).",
    oracle=f"""
WITH t AS (
  SELECT len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS tc
  FROM documents
),
b AS (
  SELECT LEAST(((tc + {BUCKET_STEP - 1}) // {BUCKET_STEP}) * {BUCKET_STEP}, {BUCKET_CAP}) AS bucket,
         LEAST(tc, {BUCKET_CAP}) AS kept
  FROM t WHERE tc > 0
),
g AS (
  SELECT bucket,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(kept) AS BIGINT) AS real_tokens,
         CAST(bucket * COUNT(*) AS BIGINT) AS padded_tokens
  FROM b GROUP BY bucket
)
SELECT bucket, n_docs, real_tokens, padded_tokens,
       CAST((2 * (CAST(padded_tokens AS HUGEINT) - real_tokens) * 1000000
             + padded_tokens) // (2 * CAST(padded_tokens AS HUGEINT)) AS BIGINT)
         AS waste_ppm
FROM g
""",
)
def curate_length_bucket_padding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.functions.text import tokens

    t = table(spark, sf_dir, "documents").select(
        F.size(tokens(F.col("text"))).alias("tc")
    )
    c = F.col
    b = t.where(c("tc") > 0).select(
        F.least(
            F.expr(
                f"CAST(((tc + {BUCKET_STEP - 1}) DIV {BUCKET_STEP})"
                f" * {BUCKET_STEP} AS BIGINT)"
            ),
            F.lit(BUCKET_CAP).cast("bigint"),
        ).alias("bucket"),
        F.least(c("tc").cast("bigint"), F.lit(BUCKET_CAP).cast("bigint")).alias("kept"),
    )
    g = b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("kept").cast("bigint").alias("real_tokens"),
    )
    return g.select(
        "bucket",
        "n_docs",
        "real_tokens",
        (c("bucket") * c("n_docs")).cast("bigint").alias("padded_tokens"),
        F.expr(
            "CAST((2 * (CAST(bucket AS DECIMAL(38,0)) * n_docs - real_tokens)"
            " * 1000000 + bucket * n_docs)"
            " DIV (2 * CAST(bucket AS DECIMAL(38,0)) * n_docs) AS BIGINT)"
        ).alias("waste_ppm"),
    )


# ---------------------------------------------------------------------------
# Weighted sampling WITHOUT replacement — Efraimidis–Spirakis A-ES
# ---------------------------------------------------------------------------

WSAMPLE_K = 50


@register(
    "curate_weighted_sample_noreplace",
    category="curation",
    doc=f"Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES): "
    f"the top-{WSAMPLE_K} documents by key u^(1/w) — equivalently by "
    "ln(u)/w descending — with u a deterministic md5 52-bit uniform and "
    "w = n_chars. THE distributed weighted-no-replacement algorithm: one "
    "pass, no sequential state, exact top-k via TakeOrderedAndProject "
    "(heap, no global sort) — the without-replacement complement of "
    "curate_pps_poisson_sample (with-replacement) and the md5-threshold "
    "samplers (Bernoulli). DETERMINISM: ln(u) is quantized to the nano "
    "grid in isolation (green-precedent discipline); the ORDERING key "
    "ln_nano/w is a single IEEE division of identical integers on both "
    "engines (bit-identical doubles, doc_id tiebreak); the EMITTED "
    "columns are integers only.",
    oracle=f"""
WITH d AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
         ('0x' || substr(md5('wsr:' || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT + 1 AS u52
  FROM documents WHERE n_chars > 0
),
k AS (
  SELECT doc_id, weight, u52,
         CAST(round(ln(CAST(u52 AS DOUBLE) / 4503599627370496.0), 9) * 1000000000
              AS BIGINT) AS ln_nano
  FROM d
)
SELECT doc_id, weight, u52, ln_nano
FROM k
ORDER BY CAST(ln_nano AS DOUBLE) / weight DESC, doc_id ASC
LIMIT {WSAMPLE_K}
""",
)
def curate_weighted_sample_noreplace(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = F.col
    d = (
        table(spark, sf_dir, "documents")
        .where(F.col("n_chars") > 0)
        .select(
            "doc_id",
            F.col("n_chars").cast("bigint").alias("weight"),
            (
                hash_hex(
                    F.concat(F.lit("wsr:"), F.col("doc_id").cast("string")), 13
                )
                + 1
            ).alias("u52"),
        )
    )
    k = d.select(
        "*",
        (
            F.round(F.log(c("u52").cast("double") / F.lit(4503599627370496.0)), 9)
            * 1000000000
        )
        .cast("bigint")
        .alias("ln_nano"),
    )
    return k.orderBy(
        (c("ln_nano").cast("double") / c("weight")).desc(), c("doc_id").asc()
    ).limit(WSAMPLE_K)
