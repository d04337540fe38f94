"""Product quantization (PQ) — the FAISS-style ANN compression block.

Jegou et al. 2011: split the d-dim embedding into M orthogonal subspaces,
k-means each subspace into K codewords, store each vector as M small codes
(here 8 subspaces x 16 codewords = 8 nibbles = one 32-bit int). The
codebooks are a bounded model artifact trained once on a deterministic
sample (the same frozen-artifact move as the IVF coarse quantizer in
``ivf_artifact.py``), so encoding is a broadcast join + partial-agg — one
linear pass at any corpus size — and the DuckDB oracle replicates the
whole pipeline from codeword literals.

Reference scope: the reference engine has no vector subsystem; this is
part of the training-data-pipeline surface (SURVEY.md §2d).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from wheels_in_motion_analytics_spark.registry import register
from wheels_in_motion_analytics_spark.tables import local_frame, table

PQ_M = 8  # subspaces
PQ_SUBDIM = 8  # dims per subspace (8 x 8 = the 64-dim corpus)
PQ_K = 16  # codewords per subspace -> one nibble per subspace
PQ_KMEANS_ITERS = 8
PQ_TRAIN_SAMPLE = 4096  # bounded training-set size, independent of corpus


def _pq_codebooks(mat):
    """Deterministic per-subspace L2 k-means: init from evenly strided
    training rows, fixed iteration count, argmin ties to the lowest
    codeword index — same codebooks every run, every engine."""
    import numpy as np

    books = []
    for m in range(PQ_M):
        x = mat[:, m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]
        stride = max(len(x) // PQ_K, 1)
        cents = x[::stride][:PQ_K].copy()
        for _ in range(PQ_KMEANS_ITERS):
            d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(len(cents)):
                members = x[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books.append(cents)
    return books


def train_pq_codebooks(spark: SparkSession, sf_dir: str):
    """Train the codebooks ONCE, driver-side, on a BOUNDED deterministic
    sample (order by md5 of the id, take PQ_TRAIN_SAMPLE) — at 100 TB this
    collects a fixed few MB, never the corpus."""
    import numpy as np

    rows = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(PQ_TRAIN_SAMPLE)
        .collect()
    )
    mat = np.array([r.embedding for r in rows], dtype="float64")
    return _pq_codebooks(mat)


def _oracle_pq() -> str:
    from wheels_in_motion_analytics_spark.functions.pq_artifact import (
        PQ_FROZEN_CODEBOOKS,
    )

    values = ",\n    ".join(
        f"({m}, {k}, [{', '.join(repr(float(v)) for v in row)}])"
        for m, book in enumerate(PQ_FROZEN_CODEBOOKS)
        for k, row in enumerate(book)
    )
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
cb (m, k, c) AS (
  SELECT * FROM (VALUES
    {values}
  ) AS t(m, k, c)
),
sub AS (
  SELECT vec_id, i AS m,
         list_slice(e, CAST(i * {PQ_SUBDIM} + 1 AS INTEGER),
                       CAST((i + 1) * {PQ_SUBDIM} AS INTEGER)) AS s
  FROM (SELECT vec_id, e, unnest(range(0, {PQ_M})) AS i FROM e)
),
scored AS (
  SELECT vec_id, sub.m, cb.k,
         ROUND(list_dot_product(s, s) - 2.0 * list_dot_product(s, c)
               + list_dot_product(c, c), 6) AS d
  FROM sub JOIN cb ON sub.m = cb.m
),
best AS (
  SELECT vec_id, m, k, d FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                 ORDER BY d ASC, k ASC) AS rn
    FROM scored) WHERE rn = 1
)
SELECT vec_id,
       CAST(SUM(k * (CAST(1 AS BIGINT) << CAST(4 * m AS INTEGER))) AS BIGINT)
         AS pq_code,
       CAST(SUM(CAST(floor(d * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
         AS err_micro
FROM best
GROUP BY vec_id
"""


def _codebook_df(spark: SparkSession) -> DataFrame:
    from wheels_in_motion_analytics_spark.functions.pq_artifact import (
        PQ_FROZEN_CODEBOOKS,
    )

    return local_frame(
        spark,
        [
            (m, k, [float(v) for v in row])
            for m, book in enumerate(PQ_FROZEN_CODEBOOKS)
            for k, row in enumerate(book)
        ],
        "m BIGINT, k BIGINT, c ARRAY<DOUBLE>",
    )


def _subspace_rows(df: DataFrame, vec_col: str = "e") -> DataFrame:
    """Explode (id, e) into PQ_M (id, m, s) subspace rows."""
    return df.select(
        *[c for c in df.columns if c != vec_col],
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).cast("bigint").alias("m"),
                        F.slice(vec_col, m * PQ_SUBDIM + 1, PQ_SUBDIM).alias("s"),
                    )
                    for m in range(PQ_M)
                ]
            )
        ).alias("ms"),
    ).withColumns({"m": F.col("ms.m"), "s": F.col("ms.s")}).drop("ms")


def _pq_assignments(
    spark: SparkSession, sf_dir: str, e: DataFrame | None = None
) -> DataFrame:
    """Per (vec_id, m): the chosen codeword k and its 6dp-rounded squared
    L2 distance d — the shared encode core of both PQ queries. Shape: a
    128-row broadcast codebook joined onto the subspace explode, then a
    partial-aggregable min-struct groupBy. NOTE a tempting 'improvement'
    measured WORSE: folding the argmin into one map-only projection of
    128 literal-codeword zip_with/aggregate expressions (zero shuffle on
    paper) ran 4x slower — giant higher-order-function expressions don't
    whole-stage-codegen; the tiny broadcast join stays JVM-tight.

    ``e`` (optional): a pre-built ``(vec_id, e: array<double>)`` relation —
    callers that already materialized the cast corpus (the IVF-PQ query
    checkpoints it for routing) pass it in so the encode half reads the
    SAME blocks instead of re-scanning parquet and re-casting (r11, guide
    §1.2: don't compute things twice)."""
    from wheels_in_motion_analytics_spark.functions.similarity import dot

    if e is None:
        e = table(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("e"),
        )
    sub = _subspace_rows(e)
    s, c = F.col("s"), F.col("c")
    scored = sub.join(F.broadcast(_codebook_df(spark)), "m").select(
        "vec_id",
        "m",
        "k",
        F.round(dot(s, s) - F.lit(2.0) * dot(s, c) + dot(c, c), 6).alias("d"),
    )
    return (
        scored.groupBy("vec_id", "m")
        .agg(F.min(F.struct(F.col("d").alias("d"), F.col("k").alias("k"))).alias("b"))
        .select("vec_id", "m", F.col("b.k").alias("k"), F.col("b.d").alias("d"))
    )



@register(
    "pq_encode_reconstruction_error",
    category="embeddings",
    doc=f"Product quantization (Jegou et al. 2011): encode every embedding "
    f"as {PQ_M} nibble codes ({PQ_M} subspaces x {PQ_K} codewords, packed "
    "into ONE BIGINT) against frozen per-subspace k-means codebooks "
    "(pq_artifact.py — trained once on a bounded md5-ordered sample, the "
    "same shipped-model-artifact move as the IVF quantizer), and emit the "
    "exact quantization error in integer micro-units. SCALE SHAPE: the "
    f"codebook is {PQ_M * PQ_K} tiny rows broadcast onto a per-vector "
    f"{PQ_M}-way subspace explode — a {PQ_M * PQ_K}x map-side expansion "
    "that partial-aggregates straight back to vector grain; one linear "
    "pass, no shuffle wider than the final groupBy. Codeword choice orders "
    "by the 6dp-rounded L2 distance with codeword-id tiebreak and the "
    "error sums as integers, so code and error are engine- and "
    "partitioning-deterministic. This is the storage layer under IVF-PQ "
    "ANN indexes (ann_ivf_cells is the routing half).",
    oracle=_oracle_pq(),
)
def pq_encode_reconstruction_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    best = _pq_assignments(spark, sf_dir).select(
        "vec_id",
        F.expr("shiftleft(k, cast(4 * m as int))").alias("code_part"),
        F.floor(F.col("d") * 1000000 + F.lit(0.5)).cast("bigint").alias("e_part"),
    )
    return best.groupBy("vec_id").agg(
        F.sum("code_part").cast("bigint").alias("pq_code"),
        F.sum("e_part").cast("bigint").alias("err_micro"),
    )


# ---------------------------------------------------------------------------
# ADC search — the query half of IVF-PQ (asymmetric distance computation)
# ---------------------------------------------------------------------------

ADC_ANCHOR_MOD = 101  # anchors = vec_id % 101 == 0 — a bounded ~1% slice
ADC_TOPK = 5


def _oracle_pq_adc() -> str:
    from wheels_in_motion_analytics_spark.functions.pq_artifact import (
        PQ_FROZEN_CODEBOOKS,
    )

    values = ",\n    ".join(
        f"({m}, {k}, [{', '.join(repr(float(v)) for v in row)}])"
        for m, book in enumerate(PQ_FROZEN_CODEBOOKS)
        for k, row in enumerate(book)
    )
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
cb (m, k, c) AS (
  SELECT * FROM (VALUES
    {values}
  ) AS t(m, k, c)
),
sub AS (
  SELECT vec_id, i AS m,
         list_slice(e, CAST(i * {PQ_SUBDIM} + 1 AS INTEGER),
                       CAST((i + 1) * {PQ_SUBDIM} AS INTEGER)) AS s
  FROM (SELECT vec_id, e, unnest(range(0, {PQ_M})) AS i FROM e)
),
scored AS (
  SELECT vec_id, sub.m, cb.k,
         ROUND(list_dot_product(s, s) - 2.0 * list_dot_product(s, c)
               + list_dot_product(c, c), 6) AS d
  FROM sub JOIN cb ON sub.m = cb.m
),
best AS (
  SELECT vec_id, m, k FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                 ORDER BY d ASC, k ASC) AS rn
    FROM scored) WHERE rn = 1
),
a AS (
  SELECT vec_id AS anchor_id, e AS q FROM e
  WHERE vec_id % {ADC_ANCHOR_MOD} = 0
),
asub AS (
  SELECT anchor_id, i AS m,
         list_slice(q, CAST(i * {PQ_SUBDIM} + 1 AS INTEGER),
                       CAST((i + 1) * {PQ_SUBDIM} AS INTEGER)) AS qs
  FROM (SELECT anchor_id, q, unnest(range(0, {PQ_M})) AS i FROM a)
),
lut AS (
  SELECT anchor_id, asub.m, cb.k,
         CAST(floor(ROUND(list_dot_product(qs, qs)
               - 2.0 * list_dot_product(qs, c)
               + list_dot_product(c, c), 6) * 1000000 + 0.5) AS BIGINT) AS lm
  FROM asub JOIN cb ON asub.m = cb.m
),
adc AS (
  SELECT anchor_id, b.vec_id, CAST(SUM(lm) AS BIGINT) AS adc_micro
  FROM best b JOIN lut ON b.m = lut.m AND b.k = lut.k
  WHERE b.vec_id <> lut.anchor_id
  GROUP BY 1, 2
),
top AS (
  SELECT anchor_id, vec_id, adc_micro, rn FROM (
    SELECT *, row_number() OVER (PARTITION BY anchor_id
                                 ORDER BY adc_micro ASC, vec_id ASC) AS rn
    FROM adc) WHERE rn <= {ADC_TOPK}
)
SELECT t.anchor_id, t.vec_id, t.rn, t.adc_micro,
       CAST(floor(ROUND(list_dot_product(q, q)
             - 2.0 * list_dot_product(q, x.e)
             + list_dot_product(x.e, x.e), 6) * 1000000 + 0.5) AS BIGINT)
         AS exact_micro
FROM top t
JOIN a ON t.anchor_id = a.anchor_id
JOIN e x ON t.vec_id = x.vec_id
"""


@register(
    "pq_adc_topk_search",
    category="embeddings",
    doc="Asymmetric distance computation (ADC) — the query half of an "
    "IVF-PQ index: each query builds a tiny per-subspace lookup table of "
    f"squared distances to all {PQ_K} codewords, and approximate distances "
    "to the ENTIRE corpus are then pure table-lookups over the nibble "
    f"codes (no float math per candidate). Top-{ADC_TOPK} per anchor by "
    "ADC distance, with the exact full-dimension distance joined back for "
    "the winners (the approximation-quality audit). SCALE SHAPE: the LUT "
    f"is anchors x {PQ_M * PQ_K} rows, broadcast; corpus codes stream "
    "through one linear join + an integer partial-agg per (anchor, "
    "vector); per-anchor top-k is a window keyed on anchor. All distances "
    "quantize to integer micro-units after one 6dp rounding, so ranking "
    "is engine- and partitioning-deterministic end to end.",
    oracle=_oracle_pq_adc(),
)
def pq_adc_topk_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from wheels_in_motion_analytics_spark.functions.similarity import dot

    e = (
        table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("e"),
        )
        # three consumers (PQ encode, anchors, exact-distance join-back):
        # lazy-materialize once, the single noop-driven job caches partitions
        # on first touch instead of re-scanning + re-casting per branch
        .localCheckpoint(eager=False)
    )
    codes = _pq_assignments(spark, sf_dir, e=e).select("vec_id", "m", "k")
    anchors = e.where(F.col("vec_id") % ADC_ANCHOR_MOD == 0).select(
        F.col("vec_id").alias("anchor_id"), F.col("e").alias("q")
    )
    asub = _subspace_rows(anchors, vec_col="q").withColumnRenamed("s", "qs")
    qs, c = F.col("qs"), F.col("c")
    lut = asub.join(F.broadcast(_codebook_df(spark)), "m").select(
        "anchor_id",
        "m",
        "k",
        F.floor(
            F.round(dot(qs, qs) - F.lit(2.0) * dot(qs, c) + dot(c, c), 6)
            * 1000000
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("lm"),
    )
    adc = (
        codes.join(F.broadcast(lut), ["m", "k"])
        .where(F.col("vec_id") != F.col("anchor_id"))
        .groupBy("anchor_id", "vec_id")
        .agg(F.sum("lm").cast("bigint").alias("adc_micro"))
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.asc("adc_micro"), F.asc("vec_id")
    )
    top = adc.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= ADC_TOPK
    )
    q, x = F.col("q"), F.col("x")
    return (
        top.join(F.broadcast(anchors), "anchor_id")
        .join(e.select("vec_id", F.col("e").alias("x")), "vec_id")
        .select(
            "anchor_id",
            "vec_id",
            "rn",
            "adc_micro",
            F.floor(
                F.round(dot(q, q) - F.lit(2.0) * dot(q, x) + dot(x, x), 6)
                * 1000000
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("exact_micro"),
        )
    )


# ---------------------------------------------------------------------------
# IVF-PQ search — the full FAISS-style index: coarse routing + ADC scoring
# ---------------------------------------------------------------------------

IVFPQ_NPROBE = 2
IVFPQ_TOPK = 3


def _oracle_ivf_pq() -> str:
    from wheels_in_motion_analytics_spark.functions.ivf_artifact import (
        IVF_FROZEN_CENTROIDS,
    )
    from wheels_in_motion_analytics_spark.functions.pq_artifact import (
        PQ_FROZEN_CODEBOOKS,
    )

    cent_values = ",\n    ".join(
        f"({c}, [{', '.join(repr(float(v)) for v in row)}])"
        for c, row in enumerate(IVF_FROZEN_CENTROIDS)
    )
    cb_values = ",\n    ".join(
        f"({m}, {k}, [{', '.join(repr(float(v)) for v in row)}])"
        for m, book in enumerate(PQ_FROZEN_CODEBOOKS)
        for k, row in enumerate(book)
    )
    return f"""
WITH n AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
nn AS (SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm FROM n),
cents (cell, cvec) AS (
  SELECT * FROM (VALUES
    {cent_values}
  ) AS t(cell, cvec)
),
cb (m, k, c) AS (
  SELECT * FROM (VALUES
    {cb_values}
  ) AS t(m, k, c)
),
sims AS (
  SELECT vec_id, cell,
         ROUND(list_dot_product(e, cvec) / nrm, 6) AS sim,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY ROUND(list_dot_product(e, cvec) / nrm, 6)
                                     DESC, cell ASC) AS rnk
  FROM nn CROSS JOIN cents
),
assign AS (SELECT vec_id, cell FROM sims WHERE rnk = 1),
qprobe AS (
  SELECT vec_id AS query_id, cell FROM sims
  WHERE rnk <= {IVFPQ_NPROBE} AND vec_id % {ADC_ANCHOR_MOD} = 0
),
sub AS MATERIALIZED (
  SELECT vec_id, i AS m,
         list_slice(e, CAST(i * {PQ_SUBDIM} + 1 AS INTEGER),
                       CAST((i + 1) * {PQ_SUBDIM} AS INTEGER)) AS s
  FROM (SELECT vec_id, e, unnest(range(0, {PQ_M})) AS i FROM n)
),
best AS MATERIALIZED (
  SELECT vec_id, m, k FROM (
    SELECT vec_id, sub.m, cb.k,
           ROUND(list_dot_product(s, s) - 2.0 * list_dot_product(s, c)
                 + list_dot_product(c, c), 6) AS d,
           row_number() OVER (PARTITION BY vec_id, sub.m
                              ORDER BY ROUND(list_dot_product(s, s)
                                - 2.0 * list_dot_product(s, c)
                                + list_dot_product(c, c), 6) ASC, cb.k ASC)
             AS rn
    FROM sub JOIN cb ON sub.m = cb.m) WHERE rn = 1
),
lut AS MATERIALIZED (
  SELECT q.query_id, sub.m, cb.k,
         CAST(floor(ROUND(list_dot_product(s, s)
               - 2.0 * list_dot_product(s, c)
               + list_dot_product(c, c), 6) * 1000000 + 0.5) AS BIGINT) AS lm
  FROM (SELECT DISTINCT query_id FROM qprobe) q
  JOIN sub ON sub.vec_id = q.query_id
  JOIN cb ON sub.m = cb.m
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM qprobe p JOIN assign a ON a.cell = p.cell
  WHERE a.vec_id <> p.query_id
),
adc AS (
  SELECT c.query_id, c.neighbor_id, CAST(SUM(l.lm) AS BIGINT) AS adc_micro
  FROM cand c
  JOIN best b ON b.vec_id = c.neighbor_id
  JOIN lut l ON l.query_id = c.query_id AND l.m = b.m AND l.k = b.k
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, adc_micro FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc_micro ASC, neighbor_id ASC) AS rn
  FROM adc
) WHERE rn <= {IVFPQ_TOPK}
"""


@register(
    "ann_ivf_pq_search",
    category="embeddings",
    doc=f"The full FAISS-style IVF-PQ index query: coarse ROUTING through "
    "the frozen 16-cell IVF quantizer "
    f"(each query probes its nprobe={IVFPQ_NPROBE} nearest cells, so only "
    "those cells' vectors are candidates — the corpus is never scanned "
    "per query), then ADC SCORING over the candidates' PQ nibble codes "
    "via the per-query lookup table (integer-micro sums — no float math "
    f"per candidate), top-{IVFPQ_TOPK}. Composes the two shipped model "
    "artifacts (ivf_artifact + pq_artifact); candidate generation and "
    "scoring are both hash joins, routing state is cells x queries. "
    "Fully oracle-checked end to end: centroid AND codebook literals, "
    "rank-1 assignment, XOR-free probe set, integer ADC, id tiebreaks.",
    oracle=_oracle_ivf_pq(),
)
def ann_ivf_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from wheels_in_motion_analytics_spark.functions.similarity import (
        dot,
        ivf_centroid_frame,
    )

    n = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    nn = n.withColumn("nrm", F.sqrt(dot(F.col("e"), F.col("e")))).localCheckpoint()
    cdf = ivf_centroid_frame(spark)
    sims = nn.crossJoin(F.broadcast(cdf)).select(
        "vec_id",
        "cell",
        F.round(dot(F.col("e"), F.col("cvec")) / F.col("nrm"), 6).alias("sim"),
    )
    wc = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("cell"))
    ranked = sims.withColumn("rnk", F.row_number().over(wc)).localCheckpoint()
    assign = ranked.where(F.col("rnk") == 1).select("vec_id", "cell")
    qprobe = ranked.where(
        (F.col("rnk") <= IVFPQ_NPROBE)
        & (F.col("vec_id") % ADC_ANCHOR_MOD == 0)
    ).select(F.col("vec_id").alias("query_id"), "cell")
    # encode from the SAME checkpointed cast corpus the routing half uses
    # (was a second parquet scan + array cast); no checkpoint on codes —
    # it has exactly one consumer (the candidate join), so an eager
    # materialization was a pure extra job + serialization pass
    codes = _pq_assignments(spark, sf_dir, e=nn.select("vec_id", "e")).select(
        "vec_id", "m", "k"
    )
    # per-query LUT: the query's subspace slices against every codeword
    qsub = _subspace_rows(
        nn.where(F.col("vec_id") % ADC_ANCHOR_MOD == 0).select(
            F.col("vec_id").alias("query_id"), F.col("e").alias("q")
        ),
        vec_col="q",
    ).withColumnRenamed("s", "qs")
    qs, c = F.col("qs"), F.col("c")
    lut = qsub.join(F.broadcast(_codebook_df(spark)), "m").select(
        "query_id",
        "m",
        "k",
        F.floor(
            F.round(dot(qs, qs) - F.lit(2.0) * dot(qs, c) + dot(c, c), 6)
            * 1000000
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("lm"),
    )
    cand = (
        qprobe.join(assign, "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    adc = (
        cand.join(codes, F.col("neighbor_id") == codes["vec_id"])
        .join(F.broadcast(lut), ["query_id", "m", "k"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("lm").cast("bigint").alias("adc_micro"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_micro"), F.asc("neighbor_id")
    )
    return (
        adc.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= IVFPQ_TOPK)
        .drop("rn")
    )
