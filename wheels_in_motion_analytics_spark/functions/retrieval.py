"""Lexical retrieval over the ``documents`` table: BM25 top-k search and
per-document TF-IDF term weighting.

Spark-first shape (reference analogue: the BI "search the serving layer"
surface, `/root/reference/README.md` serving tables):

* One explode → (doc_id, token) groupBy produces term frequencies; document
  frequencies and corpus stats are tiny aggregates that broadcast. The only
  fact-scaled shuffles are the tf groupBy and the final per-doc score
  groupBy — both keyed on doc_id, both map-side-combinable.
* Top-k is ``ORDER BY … LIMIT k`` so Catalyst plans TakeOrderedAndProject
  (per-partition heap + driver merge of k rows), never a global sort — the
  100 TB-safe top-k.
* Cross-engine float discipline: ``ln`` is the one libm call (Spark
  java.lang.Math.log vs DuckDB libm) so the idf is rounded to 6 decimals in
  isolation; everything downstream is IEEE basic ops (correctly rounded,
  bit-identical given identical inputs) and the per-doc score accumulates in
  DECIMAL (see compat.py) so summation order cannot flake the driver hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from wheels_in_motion_analytics_spark.functions.text import tokens
from wheels_in_motion_analytics_spark.registry import register
from wheels_in_motion_analytics_spark.tables import local_frame, table

# BM25 free parameters (the standard Robertson defaults).
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 10

QUERY_TERMS: tuple[str, ...] = ("hash", "join", "vector", "stream")

TFIDF_TOP_TERMS = 3

_ORACLE_TOKS = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"

_QUERY_IN = ", ".join(f"'{t}'" for t in QUERY_TERMS)


def _corpus_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, dl, tok, tf) — one row per distinct token per document."""
    toks = table(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("ws")
    )
    return (
        toks.select("doc_id", F.size("ws").alias("dl"), F.explode("ws").alias("tok"))
        .groupBy("doc_id", "dl", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


@register(
    "bm25_topk_search",
    category="retrieval",
    doc=f"BM25 (k1={BM25_K1}, b={BM25_B}) top-{BM25_TOPK} retrieval for the "
    f"fixed query {QUERY_TERMS}. tf/df/avgdl from one explode+groupBy; idf "
    "rounded in isolation (the single libm call), contributions summed in "
    "decimal, top-k via ORDER BY+LIMIT → TakeOrderedAndProject (heap, not "
    "global sort).",
    oracle=f"""
WITH d AS (SELECT doc_id, {_ORACLE_TOKS} AS ws FROM documents),
tf AS (
  SELECT doc_id, dl, tok, COUNT(*) AS tf
  FROM (SELECT doc_id, len(ws) AS dl, unnest(ws) AS tok FROM d)
  WHERE tok IN ({_QUERY_IN})
  GROUP BY 1, 2, 3
),
stats AS (
  SELECT COUNT(*) AS n, CAST(SUM(len(ws)) AS DOUBLE) / COUNT(*) AS avgdl FROM d
),
df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
contrib AS (
  SELECT tf.doc_id,
         round(round(ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1), 6)
               * tf.tf * ({BM25_K1} + 1)
               / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * tf.dl / stats.avgdl)),
               6) AS c
  FROM tf JOIN df USING (tok) CROSS JOIN stats
)
SELECT doc_id,
       CAST(SUM(CAST(c AS DECIMAL(18,6))) AS DOUBLE) AS bm25
FROM contrib
GROUP BY doc_id
ORDER BY bm25 DESC, doc_id
LIMIT {BM25_TOPK}
""",
)
def bm25_topk_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Filter to the query terms INSIDE the token array, before explode:
    # exploding the full corpus vocabulary and filtering after the groupBy
    # would shuffle O(total tokens) when only the query-term postings
    # (a sliver) are ever used. explode_outer + post-filter, not explode —
    # same InferFiltersFromGenerate re-evaluation trap as ngram_bigram_topk.
    term_arr = F.array(*[F.lit(t) for t in QUERY_TERMS])
    ws = tokens(F.col("text"))
    matched = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.size(ws).alias("dl"),
            F.explode_outer(
                F.filter(ws, lambda t: F.array_contains(term_arr, t))
            ).alias("tok"),
        )
        .where(F.col("tok").isNotNull())
        .groupBy("doc_id", "dl", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    stats = (
        table(spark, sf_dir, "documents")
        .select(F.size(tokens(F.col("text"))).alias("dl"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        )
    )
    # df per term as a window over the posting rows (one row per (doc,tok),
    # so count(*) per tok IS the document frequency). The tok partitioning
    # shuffles only the matched postings — bounded by the query's posting
    # lists, never the corpus — so no second evaluation of the subplan is
    # needed to aggregate df separately.
    matched = matched.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("tok"))
    )
    idf = F.round(
        F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1), 6
    )
    contrib = F.round(
        idf
        * F.col("tf")
        * (BM25_K1 + 1)
        / (
            F.col("tf")
            + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        ),
        6,
    )
    return (
        matched.crossJoin(F.broadcast(stats))
        .select("doc_id", contrib.alias("c"))
        .groupBy("doc_id")
        .agg(F.sum(F.col("c").cast("decimal(18,6)")).cast("double").alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(BM25_TOPK)
    )


@register(
    "tfidf_top_terms",
    category="retrieval",
    doc=f"Per-document top-{TFIDF_TOP_TERMS} terms by smoothed TF-IDF "
    "(idf = ln((1+N)/(1+df)) + 1, sklearn-style). The rank window partitions "
    "by doc_id, so state is bounded by per-doc vocabulary — parallel across "
    "documents, no global sort.",
    oracle=f"""
WITH d AS (SELECT doc_id, {_ORACLE_TOKS} AS ws FROM documents),
tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(ws) AS tok FROM d)
  GROUP BY 1, 2
),
stats AS (SELECT COUNT(*) AS n FROM d),
df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
scored AS (
  SELECT tf.doc_id, tf.tok,
         round(tf.tf * (round(ln((1.0 + stats.n) / (1 + df.df)), 6) + 1), 6)
           AS tfidf
  FROM tf JOIN df USING (tok) CROSS JOIN stats
)
SELECT doc_id, tok, tfidf FROM (
  SELECT doc_id, tok, tfidf,
         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS rn
  FROM scored
)
WHERE rn <= {TFIDF_TOP_TERMS}
""",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    tf = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    stats = table(spark, sf_dir, "documents").agg(F.count(F.lit(1)).alias("n"))
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    tfidf = F.round(
        F.col("tf")
        * (F.round(F.log((1.0 + F.col("n")) / (1 + F.col("df"))), 6) + 1),
        6,
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "tok")
    return (
        tf.join(F.broadcast(df), "tok")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "tok", tfidf.alias("tfidf"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= TFIDF_TOP_TERMS)
        .select("doc_id", "tok", "tfidf")
    )


# --------------------------------------------------------------------------
# NDCG@10 ranking evaluation (frozen integer position weights)
# --------------------------------------------------------------------------

NDCG_K = 10
# w_i = round(1e6 / log2(i+1)) for positions 1..10 — frozen micro-unit
# discount weights so DCG stays exact-integer on both engines.
_NDCG_W = [
    1000000, 630930, 500000, 430677, 386853,
    356207, 333333, 315465, 301030, 289065,
]
_NDCG_W_SQL = "CASE pos " + " ".join(
    f"WHEN {i + 1} THEN {w}" for i, w in enumerate(_NDCG_W)
) + " END"


@register(
    "ndcg_at_k_retrieval",
    category="retrieval",
    doc=f"NDCG@{NDCG_K} of the occurrence-count ranking against "
    "distinct-query-term graded relevance: the ranking-quality metric a "
    "retrieval pipeline reports next to recall. Both the system top-10 "
    "(occurrences DESC, doc_id) and the ideal top-10 (grade DESC, doc_id) "
    "come from ORDER BY+LIMIT heaps (TakeOrderedAndProject — never a "
    "global sort over the candidate postings); DCG uses frozen integer "
    "micro-weights round(1e6/log2(pos+1)) so dcg/idcg/ndcg_ppm are all "
    "exact integers.",
    oracle=f"""
WITH d AS (SELECT doc_id, {_ORACLE_TOKS} AS ws FROM documents),
m AS (
  SELECT doc_id, COUNT(*) AS occ, COUNT(DISTINCT tok) AS rel
  FROM (SELECT doc_id, unnest(ws) AS tok FROM d)
  WHERE tok IN ({_QUERY_IN})
  GROUP BY doc_id
),
sys AS (
  SELECT rel, row_number() OVER (ORDER BY occ DESC, doc_id) AS pos
  FROM m ORDER BY occ DESC, doc_id LIMIT {NDCG_K}
),
ideal AS (
  SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id) AS pos
  FROM m ORDER BY rel DESC, doc_id LIMIT {NDCG_K}
),
dcg AS (SELECT CAST(SUM(rel * ({_NDCG_W_SQL})) AS HUGEINT) AS v FROM sys),
idcg AS (SELECT CAST(SUM(rel * ({_NDCG_W_SQL})) AS HUGEINT) AS v FROM ideal)
SELECT CAST(dcg.v AS BIGINT) AS dcg_micro,
       CAST(idcg.v AS BIGINT) AS idcg_micro,
       CAST((2000000 * dcg.v + idcg.v) // (2 * idcg.v) AS BIGINT) AS ndcg_ppm
FROM dcg CROSS JOIN idcg
""",
)
def ndcg_at_k_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    term_arr = F.array(*[F.lit(t) for t in QUERY_TERMS])
    ws = tokens(F.col("text"))
    m = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode_outer(
                F.filter(ws, lambda t: F.array_contains(term_arr, t))
            ).alias("tok"),
        )
        .where(F.col("tok").isNotNull())
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("occ"),
            F.countDistinct("tok").alias("rel"),
        )
        .localCheckpoint()  # two heaps consume the candidate relation
    )
    w_arr = F.array(*[F.lit(w) for w in _NDCG_W])

    def _dcg(ranked: DataFrame, alias: str) -> DataFrame:
        # LIMIT k first (heap), then position the 10 surviving rows
        pos_w = Window.orderBy("__ord")
        return (
            ranked.limit(NDCG_K)
            .withColumn("pos", F.row_number().over(pos_w))
            .agg(
                F.sum(
                    F.col("rel").cast("decimal(38,0)")
                    * F.element_at(w_arr, F.col("pos")).cast("decimal(38,0)")
                )
                .cast("decimal(38,0)")
                .alias(alias)
            )
        )

    sys_ranked = m.orderBy(F.desc("occ"), F.asc("doc_id")).withColumn(
        "__ord", F.struct(-F.col("occ"), F.col("doc_id"))
    )
    ideal_ranked = m.orderBy(F.desc("rel"), F.asc("doc_id")).withColumn(
        "__ord", F.struct(-F.col("rel"), F.col("doc_id"))
    )
    dcg = _dcg(sys_ranked, "dcg")
    idcg = _dcg(ideal_ranked, "idcg")
    return dcg.crossJoin(idcg).select(
        F.col("dcg").cast("bigint").alias("dcg_micro"),
        F.col("idcg").cast("bigint").alias("idcg_micro"),
        F.expr("(2000000 * dcg + idcg) DIV (2 * idcg)")
        .cast("bigint")
        .alias("ndcg_ppm"),
    )


# ---------------------------------------------------------------------------
# MMR — maximal marginal relevance diversified top-k
# ---------------------------------------------------------------------------

MMR_CANDIDATES = 24
MMR_K = 8
# lambda = 0.7 as exact integer weights: score = 7*rel - 3*max_sim (x10)
MMR_REL_W = 7
MMR_DIV_W = 3

_COS_MICRO_SQL = (
    "CAST(round(round(list_dot_product({a}, {b}) / ({na} * {nb}), 6)"
    " * 1000000, 0) AS BIGINT)"
)


def _mmr_oracle() -> str:
    rounds = []
    for r in range(2, MMR_K + 1):
        rounds.append(
            f"""s{r} AS MATERIALIZED (
  SELECT c.vec_id, c.rel_micro, m.max_sim,
         {MMR_REL_W} * c.rel_micro - {MMR_DIV_W} * m.max_sim AS score,
         CAST({r} AS BIGINT) AS sel_rank
  FROM cand c
  JOIN (SELECT i AS vec_id, MAX(sim) AS max_sim FROM pair
        WHERE j IN (SELECT vec_id FROM sel{r - 1}) GROUP BY i) m USING (vec_id)
  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{r - 1})
  ORDER BY score DESC, c.vec_id ASC LIMIT 1
),
sel{r} AS MATERIALIZED (SELECT vec_id FROM sel{r - 1} UNION ALL SELECT vec_id FROM s{r})"""
        )
    arms = "\nUNION ALL\n".join(
        f"SELECT sel_rank, vec_id, rel_micro, max_sim AS max_sim_micro, score AS mmr_score FROM s{r}"
        for r in range(1, MMR_K + 1)
    )
    cos_rel = _COS_MICRO_SQL.format(a="q.e", b="c.e", na="q.nrm", nb="c.nrm")
    cos_pair = _COS_MICRO_SQL.format(a="na.e", b="nb.e", na="na.nrm", nb="nb.nrm")
    return f"""
WITH n AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
nn AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM n),
q AS (SELECT * FROM nn ORDER BY vec_id ASC LIMIT 1),
cand AS MATERIALIZED (
  SELECT c.vec_id, {cos_rel} AS rel_micro
  FROM nn c CROSS JOIN q WHERE c.vec_id <> q.vec_id
  ORDER BY rel_micro DESC, c.vec_id ASC LIMIT {MMR_CANDIDATES}
),
pair AS MATERIALIZED (
  SELECT a.vec_id AS i, b.vec_id AS j, {cos_pair} AS sim
  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
  JOIN nn na ON na.vec_id = a.vec_id
  JOIN nn nb ON nb.vec_id = b.vec_id
),
s1 AS MATERIALIZED (
  SELECT vec_id, rel_micro, CAST(0 AS BIGINT) AS max_sim,
         {MMR_REL_W} * rel_micro AS score, CAST(1 AS BIGINT) AS sel_rank
  FROM cand ORDER BY {MMR_REL_W} * rel_micro DESC, vec_id ASC LIMIT 1
),
sel1 AS MATERIALIZED (SELECT vec_id FROM s1),
{",".join(rounds)}
SELECT * FROM ({arms}) ORDER BY sel_rank
"""


@register(
    "mmr_diversified_topk",
    category="retrieval",
    doc=f"Maximal-marginal-relevance re-ranking: from the top-"
    f"{MMR_CANDIDATES} cosine candidates for a fixed query vector (the "
    f"min-vec_id embedding), greedily select {MMR_K} results maximizing "
    f"lambda*relevance - (1-lambda)*max-similarity-to-selected "
    f"(lambda=0.7 as exact integer weights {MMR_REL_W}/{MMR_DIV_W}) — the "
    "standard diversified-retrieval pass a RAG pipeline runs between ANN "
    "recall and context assembly. SCALE SHAPE: relevance scoring is one "
    "linear broadcast pass over the corpus ending in TakeOrderedAndProject "
    f"(heap top-{MMR_CANDIDATES}, no global sort); the pairwise relation "
    f"and the greedy loop touch only the {MMR_CANDIDATES}-candidate set — "
    "bounded BY CONSTRUCTION (LIMIT), so the driver-side selection is "
    "O(k*N_cand) on ~bytes of data regardless of corpus size. Scores are "
    "6dp-rounded cosines on the integer micro grid (green-precedent "
    "recipe: hard_negative_mining r4), so the greedy argmax + vec_id "
    "tiebreak is engine-exact; the DuckDB oracle replays the selection as "
    f"{MMR_K} unrolled MATERIALIZED argmax rounds.",
    oracle=None,  # assembled below (unrolled greedy rounds)
)
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.functions.similarity import dot

    nn = (
        table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("e"),
        )
        .withColumn("nrm", F.sqrt(dot(F.col("e"), F.col("e"))))
    )
    q = nn.orderBy(F.asc("vec_id")).limit(1).select(
        F.col("vec_id").alias("q_id"), F.col("e").alias("qe"), F.col("nrm").alias("qnrm")
    )

    def cos_micro(a, b, na, nb):
        return F.round(F.round(dot(a, b) / (na * nb), 6) * 1000000, 0).cast("bigint")

    cand = (
        nn.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("q_id"))
        .select(
            "vec_id",
            cos_micro(F.col("qe"), F.col("e"), F.col("qnrm"), F.col("nrm")).alias(
                "rel_micro"
            ),
        )
        .orderBy(F.desc("rel_micro"), F.asc("vec_id"))
        .limit(MMR_CANDIDATES)
    )
    cand_vec = cand.join(nn, "vec_id").select("vec_id", "rel_micro", "e", "nrm")
    a = cand_vec.select(
        F.col("vec_id").alias("i"),
        F.col("e").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = cand_vec.select(
        F.col("vec_id").alias("j"),
        F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    pairs = (
        a.join(F.broadcast(b), F.col("i") != F.col("j"))
        .select(
            "i",
            "j",
            cos_micro(F.col("ea"), F.col("eb"), F.col("na"), F.col("nb")).alias("sim"),
        )
    )
    # bounded BY CONSTRUCTION: LIMIT caps cand at MMR_CANDIDATES rows and
    # pairs at MMR_CANDIDATES^2 — the greedy selection is driver-side over
    # ~bytes, the same bounded-collect class as the CC/kcore convergence
    # scalars. All arithmetic below is exact integers.
    cand_rows = {r["vec_id"]: r["rel_micro"] for r in cand.collect()}
    sim = {(r["i"], r["j"]): r["sim"] for r in pairs.collect()}
    selected: list[tuple[int, int, int, int, int]] = []
    chosen: set[int] = set()
    for rank in range(1, MMR_K + 1):
        best = None
        for vid in sorted(cand_rows):
            if vid in chosen:
                continue
            max_sim = max((sim[(vid, s)] for s in chosen), default=0)
            score = MMR_REL_W * cand_rows[vid] - MMR_DIV_W * max_sim
            # argmax with vec_id ASC tiebreak (sorted() iteration handles it)
            if best is None or score > best[4]:
                best = (rank, vid, cand_rows[vid], max_sim, score)
        assert best is not None
        selected.append(best)
        chosen.add(best[1])
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("sel_rank", T.LongType()),
            T.StructField("vec_id", T.LongType()),
            T.StructField("rel_micro", T.LongType()),
            T.StructField("max_sim_micro", T.LongType()),
            T.StructField("mmr_score", T.LongType()),
        ]
    )
    return local_frame(spark, [tuple(int(x) for x in row) for row in selected], schema)


from wheels_in_motion_analytics_spark.registry import REGISTRY as _REG_MMR  # noqa: E402

_REG_MMR["mmr_diversified_topk"].oracle = _mmr_oracle()


# ---------------------------------------------------------------------------
# MRR — mean reciprocal rank on the exact x2520 integer grid
# ---------------------------------------------------------------------------

MRR_K = 10
MRR_LCM = 2520  # lcm(1..10): every reciprocal rank 1/r is integral x2520
MRR_GOLD_MIN_TF = 3


@register(
    "mrr_eval_retrieval",
    category="retrieval",
    doc=f"Mean reciprocal rank of the per-term occurrence ranking against "
    f"an INDEPENDENT gold label (smallest doc_id with tf >= "
    f"{MRR_GOLD_MIN_TF} for the term) — the third retrieval-quality "
    "metric beside recall (ann_recall_at_k_eval) and NDCG. Reciprocal "
    f"ranks live on the exact x{MRR_LCM} integer grid (lcm of 1..{MRR_K}: "
    "1/r is always integral), so rr, their sum and mrr_ppm (half-up DIV) "
    "are deterministic integers on any engine. SCALE SHAPE: candidates "
    "are the query-term postings only (filtered inside the token array "
    "before explode — a sliver of the corpus); the per-term top-10 window "
    "partitions on the term key of that sliver, never the full corpus.",
    oracle=f"""
WITH d AS (SELECT doc_id, {_ORACLE_TOKS} AS ws FROM documents),
tf AS (
  SELECT tok, doc_id, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(ws) AS tok FROM d)
  WHERE tok IN ({_QUERY_IN})
  GROUP BY 1, 2
),
terms AS (SELECT unnest([{_QUERY_IN}]) AS tok),
gold AS (
  SELECT terms.tok,
         (SELECT MIN(doc_id) FROM tf
          WHERE tf.tok = terms.tok AND tf.tf >= {MRR_GOLD_MIN_TF}) AS gold_doc
  FROM terms
),
ranked AS (
  SELECT tok, doc_id,
         row_number() OVER (PARTITION BY tok ORDER BY tf DESC, doc_id) AS pos
  FROM tf
),
rr AS (
  SELECT g.tok, g.gold_doc,
         r.pos AS sys_rank,
         CAST(COALESCE({MRR_LCM} // r.pos, 0) AS BIGINT) AS rr_x{MRR_LCM}
  FROM gold g
  LEFT JOIN ranked r
    ON r.tok = g.tok AND r.doc_id = g.gold_doc AND r.pos <= {MRR_K}
),
s AS (
  SELECT CAST(SUM(rr_x{MRR_LCM}) AS BIGINT) AS rr_sum,
         CAST(COUNT(*) AS BIGINT) AS n_q
  FROM rr
)
SELECT rr.tok AS term, rr.gold_doc, rr.sys_rank, rr.rr_x{MRR_LCM},
       s.rr_sum AS rr_sum_x{MRR_LCM},
       CAST((2 * s.rr_sum * 1000000 + s.n_q * {MRR_LCM})
            // (2 * s.n_q * {MRR_LCM}) AS BIGINT) AS mrr_ppm
FROM rr CROSS JOIN s
""",
)
def mrr_eval_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = F.col
    term_arr = F.array(*[F.lit(t) for t in QUERY_TERMS])
    ws = tokens(F.col("text"))
    tf = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode_outer(
                F.filter(ws, lambda t: F.array_contains(term_arr, t))
            ).alias("tok"),
        )
        .where(c("tok").isNotNull())
        .groupBy("tok", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint()  # consumed by gold labels AND the ranking
    )
    terms = spark.range(1).select(F.explode(term_arr).alias("tok"))
    gold = terms.join(
        tf.where(c("tf") >= MRR_GOLD_MIN_TF)
        .groupBy("tok")
        .agg(F.min("doc_id").alias("gold_doc")),
        "tok",
        "left",
    )
    # postings sliver only: the window partitions on the 4 query terms of
    # an already-filtered relation, never the corpus.
    ranked = tf.withColumn(
        "pos",
        F.row_number().over(
            Window.partitionBy("tok").orderBy(F.desc("tf"), F.asc("doc_id"))
        ),
    ).where(c("pos") <= MRR_K)
    rr = gold.join(
        ranked.select("tok", c("doc_id").alias("gold_doc"), c("pos")),
        ["tok", "gold_doc"],
        "left",
    ).select(
        c("tok").alias("term"),
        "gold_doc",
        c("pos").cast("bigint").alias("sys_rank"),
        F.coalesce(
            F.expr(f"CAST({MRR_LCM} DIV pos AS BIGINT)"), F.lit(0)
        ).alias(f"rr_x{MRR_LCM}"),
    )
    s = rr.agg(
        F.sum(f"rr_x{MRR_LCM}").cast("bigint").alias("rr_sum"),
        F.count(F.lit(1)).cast("bigint").alias("n_q"),
    )
    return rr.crossJoin(s).select(
        "term",
        "gold_doc",
        "sys_rank",
        f"rr_x{MRR_LCM}",
        c("rr_sum").alias(f"rr_sum_x{MRR_LCM}"),
        F.expr(
            f"CAST((2 * rr_sum * 1000000 + n_q * {MRR_LCM})"
            f" DIV (2 * n_q * {MRR_LCM}) AS BIGINT)"
        ).alias("mrr_ppm"),
    )


# ---------------------------------------------------------------------------
# Rank-biased overlap — agreement between two retrieval rankings
# ---------------------------------------------------------------------------

RBO_K = 10
# frozen integer micro weights: round(1e6 * (1-p) * p^(d-1)), p = 0.9
_RBO_W = [100000, 90000, 81000, 72900, 65610, 59049, 53144, 47830, 43047, 38742]
_RBO_W_SQL = "CASE d " + " ".join(
    f"WHEN {i + 1} THEN {w}" for i, w in enumerate(_RBO_W)
) + " END"


@register(
    "rbo_rankings_agreement",
    category="retrieval",
    doc=f"Rank-biased overlap (p=0.9, truncated at depth {RBO_K}) between "
    "the BM25 top-10 and the raw occurrence-count top-10 — the standard "
    "measure for 'how much did the ranker change?' (indefinite rankings, "
    "top-weighted, defined on prefix overlaps). Both rankings come from "
    "ORDER BY+LIMIT heaps; the per-depth overlap |A_1..d ∩ B_1..d| is a "
    "bounded 10x10 position join x 10 depths, and RBO accumulates as "
    "frozen integer micro-weights: rbo_micro = sum_d (w_d * overlap_d) "
    "DIV d with w_d = round(1e6*(1-p)*p^(d-1)) — fully deterministic "
    "integers (the NDCG discount-table recipe).",
    oracle=f"""
WITH d AS (SELECT doc_id, {_ORACLE_TOKS} AS ws FROM documents),
tf AS (
  SELECT doc_id, dl, tok, COUNT(*) AS tf
  FROM (SELECT doc_id, len(ws) AS dl, unnest(ws) AS tok FROM d)
  WHERE tok IN ({_QUERY_IN})
  GROUP BY 1, 2, 3
),
stats AS (
  SELECT COUNT(*) AS n, CAST(SUM(len(ws)) AS DOUBLE) / COUNT(*) AS avgdl FROM d
),
df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
contrib AS (
  SELECT tf.doc_id,
         round(round(ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1), 6)
               * tf.tf * ({BM25_K1} + 1)
               / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * tf.dl / stats.avgdl)),
               6) AS c
  FROM tf JOIN df USING (tok) CROSS JOIN stats
),
bm AS (
  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS pa
  FROM (SELECT doc_id, CAST(SUM(CAST(c AS DECIMAL(18,6))) AS DOUBLE) AS bm25
        FROM contrib GROUP BY doc_id)
  ORDER BY bm25 DESC, doc_id LIMIT {RBO_K}
),
occ AS (
  SELECT doc_id, row_number() OVER (ORDER BY occ DESC, doc_id) AS pb
  FROM (SELECT doc_id, COUNT(*) AS occ
        FROM (SELECT doc_id, unnest(ws) AS tok FROM d)
        WHERE tok IN ({_QUERY_IN}) GROUP BY doc_id)
  ORDER BY occ DESC, doc_id LIMIT {RBO_K}
),
matched AS (SELECT bm.pa, occ.pb FROM bm JOIN occ USING (doc_id)),
depths AS (SELECT unnest(range(1, {RBO_K} + 1)) AS d),
per_depth AS (
  SELECT depths.d,
         CAST(COUNT(*) FILTER (WHERE matched.pa <= depths.d
                                 AND matched.pb <= depths.d) AS BIGINT) AS ov
  FROM depths LEFT JOIN matched ON TRUE
  GROUP BY depths.d
)
SELECT CAST(SUM(ov) AS BIGINT) AS total_overlap,
       CAST(SUM(({_RBO_W_SQL}) * ov // d) AS BIGINT) AS rbo_micro
FROM per_depth
""",
)
def rbo_rankings_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = F.col
    term_arr = F.array(*[F.lit(t) for t in QUERY_TERMS])
    ws = tokens(F.col("text"))
    m = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.size(ws).alias("dl"),
            F.explode_outer(
                F.filter(ws, lambda t: F.array_contains(term_arr, t))
            ).alias("tok"),
        )
        .where(c("tok").isNotNull())
        .localCheckpoint()  # both rankings read the candidate postings
    )
    occ_rank = (
        m.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("occ"))
        .orderBy(F.desc("occ"), F.asc("doc_id"))
        .limit(RBO_K)
        .withColumn(
            "pb", F.row_number().over(Window.orderBy(F.desc("occ"), F.asc("doc_id")))
        )
        .select("doc_id", "pb")
    )
    # BM25 scores: same derivation as bm25_topk_search
    stats = (
        table(spark, sf_dir, "documents")
        .select(F.size(tokens(F.col("text"))).alias("dl"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        )
    )
    tf = m.groupBy("doc_id", "dl", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    idf = F.round(
        F.log((c("n") - c("df") + 0.5) / (c("df") + 0.5) + 1), 6
    )
    contrib = (
        tf.join(df, "tok")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(
                idf
                * c("tf")
                * (BM25_K1 + 1)
                / (
                    c("tf")
                    + BM25_K1 * (1 - BM25_B + BM25_B * c("dl") / c("avgdl"))
                ),
                6,
            ).alias("cv"),
        )
    )
    bm_rank = (
        contrib.groupBy("doc_id")
        .agg(F.sum(c("cv").cast("decimal(18,6)")).cast("double").alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(RBO_K)
        .withColumn(
            "pa",
            F.row_number().over(Window.orderBy(F.desc("bm25"), F.asc("doc_id"))),
        )
        .select("doc_id", "pa")
    )
    matched = bm_rank.join(occ_rank, "doc_id").select("pa", "pb")
    depths = spark.range(1, RBO_K + 1).select(c("id").cast("int").alias("d"))
    w_arr = F.array(*[F.lit(w) for w in _RBO_W])
    per_depth = (
        depths.join(matched, how="left")
        .groupBy("d")
        .agg(
            F.sum(
                ((c("pa") <= c("d")) & (c("pb") <= c("d"))).cast("bigint")
            ).alias("ov")
        )
        .select("d", F.coalesce(c("ov"), F.lit(0)).alias("ov"))
    )
    w_expr = "array(" + ",".join(str(w) for w in _RBO_W) + ")"
    terms = per_depth.select(
        "ov",
        F.expr(f"CAST(element_at({w_expr}, d) * ov AS BIGINT) DIV d").alias(
            "term"
        ),
    )
    return terms.agg(
        F.sum("ov").cast("bigint").alias("total_overlap"),
        F.sum("term").cast("bigint").alias("rbo_micro"),
    )
