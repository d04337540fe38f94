"""Embedding-column vector math as relational plans — the feature-store side
of an LLM data pipeline (the retrieval/dedup side lives in
functions/similarity.py).

All three ops treat the ``array<float>`` column declaratively:

* per-vector stats are pure per-row array expressions (``transform`` +
  ``aggregate``) — zero shuffle, scales with input splits;
* per-group centroids are one ``posexplode`` + (label, pos) aggregate — the
  map-side-combinable shape (64 dims x groups partial rows per task);
* centroid-vs-centroid cosine joins the (tiny) centroid relation to itself
  on the dimension ordinal — sub-linear in corpus size, broadcast at scale.

Cross-engine float determinism: every float sum is quantized to an integer
grid first (``floor(x * 10^k + 0.5)`` — identical IEEE ops in Spark and
DuckDB, then exact BIGINT accumulation), because double->DECIMAL casts round
ties differently across engines. sqrt is IEEE-correctly-rounded on both, so
norms/cosines derived from identical doubles match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from wheels_in_motion_analytics_spark.registry import register
from wheels_in_motion_analytics_spark.tables import local_frame, table

# quantization grids: Q8 for squared-term sums (x^2 ~ 1e-2), Q10 for
# centroid-product sums (centroid components ~ 1e-2, products ~ 1e-4)
Q8 = 100_000_000
Q10 = 10_000_000_000


def _qterm(expr: Column, grid: int) -> Column:
    """Exact-integer quantization of a double term (portable rounding)."""
    return F.floor(expr * F.lit(float(grid)) + F.lit(0.5)).cast("long")


def l2_norm(vec: Column) -> Column:
    """Deterministic L2 norm of an array<float> column — per-row, no shuffle."""
    terms = F.transform(
        vec, lambda x: _qterm(x.cast("double") * x.cast("double"), Q8)
    )
    ssq = F.aggregate(terms, F.lit(0).cast("long"), lambda acc, x: acc + x)
    return F.sqrt(ssq.cast("double") / F.lit(float(Q8)))


@register(
    "embedding_vector_norms",
    category="embeddings",
    doc="Per-vector L2 norms + dimension audit over the embedding column — "
    "pure per-row array math (transform/aggregate), zero shuffle; the "
    "pre-normalization pass every ANN/centroid pipeline runs first.",
    oracle=f"""
SELECT vec_id,
       CAST(len(embedding) AS INTEGER) AS dim,
       round(sqrt(CAST(list_sum(list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * {Q8} + 0.5)
                      AS BIGINT))) AS DOUBLE) / {Q8}), 6) AS l2_norm
FROM embeddings
""",
)
def embedding_vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(l2_norm(F.col("embedding")), 6).alias("l2_norm"),
    )


def group_centroids(emb: DataFrame, label_col: str = "label") -> DataFrame:
    """Per-label centroid in exploded (label, pos, centroid) form — the
    relational encoding that keeps the driver/oracle comparison array-free
    and the aggregation map-side combinable."""
    ex = emb.select(
        label_col, F.posexplode("embedding").alias("pos", "v")
    )
    q = _qterm(F.col("v").cast("double"), Q8)
    return ex.groupBy(label_col, "pos").agg(
        (F.sum(q).cast("double") / F.lit(float(Q8)) / F.count(F.lit(1)))
        .alias("centroid")
    )


_ORACLE_CENTROIDS = f"""
  SELECT label, pos,
         CAST(SUM(CAST(floor(v * {Q8} + 0.5) AS BIGINT)) AS DOUBLE)
           / {Q8} / COUNT(*) AS centroid
  FROM (
    SELECT label,
           CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS pos,
           CAST(unnest(embedding) AS DOUBLE) AS v
    FROM embeddings
  )
  GROUP BY 1, 2
"""


@register(
    "embedding_group_centroids",
    category="embeddings",
    doc="Per-label embedding centroids, exploded to (label, pos, centroid) "
    "rows: posexplode + one (label, pos) aggregate — partial-agg combinable, "
    "output is labels x dims regardless of corpus size.",
    oracle=f"SELECT label, pos, centroid FROM ({_ORACLE_CENTROIDS})",
)
def embedding_group_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    return group_centroids(table(spark, sf_dir, "embeddings"))


@register(
    "embedding_centroid_cosine",
    category="embeddings",
    doc="Cosine similarity between every pair of label centroids — the "
    "cluster-separation diagnostic. The centroid relation is labels x dims "
    "(tiny, corpus-size-independent), so the self-join on the dimension "
    "ordinal broadcasts at any scale.",
    oracle=f"""
WITH cent AS ({_ORACLE_CENTROIDS}),
dots AS (
  SELECT a.label AS label_a, b.label AS label_b,
         CAST(SUM(CAST(floor(a.centroid * b.centroid * {Q10} + 0.5) AS BIGINT))
              AS DOUBLE) / {Q10} AS dot
  FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
  GROUP BY 1, 2
),
norms AS (
  SELECT label,
         sqrt(CAST(SUM(CAST(floor(centroid * centroid * {Q10} + 0.5) AS BIGINT))
              AS DOUBLE) / {Q10}) AS nrm
  FROM cent GROUP BY 1
)
SELECT d.label_a, d.label_b,
       round(d.dot / (na.nrm * nb.nrm), 6) AS cosine
FROM dots d
JOIN norms na ON d.label_a = na.label
JOIN norms nb ON d.label_b = nb.label
""",
)
def embedding_centroid_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    cent = group_centroids(table(spark, sf_dir, "embeddings"))
    a = cent.select(
        F.col("label").alias("label_a"),
        F.col("pos"),
        F.col("centroid").alias("ca"),
    )
    b = cent.select(
        F.col("label").alias("label_b"),
        F.col("pos").alias("pos_b"),
        F.col("centroid").alias("cb"),
    )
    dots = (
        a.join(b, (F.col("pos") == F.col("pos_b")) & (F.col("label_a") < F.col("label_b")))
        .groupBy("label_a", "label_b")
        .agg(
            (F.sum(_qterm(F.col("ca") * F.col("cb"), Q10)).cast("double") / F.lit(float(Q10)))
            .alias("dot")
        )
    )
    norms = cent.groupBy("label").agg(
        F.sqrt(
            F.sum(_qterm(F.col("centroid") * F.col("centroid"), Q10)).cast("double")
            / F.lit(float(Q10))
        ).alias("nrm")
    )
    na = norms.select(F.col("label").alias("label_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("label").alias("label_b"), F.col("nrm").alias("nb"))
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a",
            "label_b",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias("cosine"),
        )
    )


Q12 = 1_000_000_000_000


@register(
    "embedding_quantize_error",
    category="embeddings",
    doc="Symmetric int8 embedding quantization audit: per-vector scale = "
    "max|x|/127, quantize (clamped floor(x/scale + 0.5)), dequantize, and "
    "report RMSE + worst-dimension error — the storage-compression "
    "fidelity check run before shipping a quantized vector store (4x "
    "smaller than float32, recall impact bounded by these errors). Pure "
    "per-row array math, zero shuffle; squared errors integer-grid "
    "quantized (Q12) so the cross-engine sum is exact; scale/err emission "
    "rounded. Arrays are materialized between lambda stages (NOTES.md #5).",
    oracle=f"""
WITH ed AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
scaled AS (
  SELECT vec_id, e,
         GREATEST(list_max(list_transform(e, x -> abs(x))), 1e-12) / 127.0 AS scale
  FROM ed
),
errs AS (
  SELECT vec_id, e, scale,
         list_transform(e, x -> x - LEAST(127.0, GREATEST(-127.0, floor(x / scale + 0.5))) * scale) AS err
  FROM scaled
)
SELECT vec_id,
       CAST(len(e) AS INTEGER) AS dim,
       round(scale, 8) AS q_scale,
       round(sqrt(CAST(list_sum(list_transform(err,
             x -> CAST(floor(x * x * {Q12} + 0.5) AS BIGINT))) AS DOUBLE)
             / {Q12} / len(e)), 6) AS rmse,
       round(list_max(list_transform(err, x -> abs(x))), 6) AS max_abs_err
FROM errs
""",
)
def embedding_quantize_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    scaled = emb.withColumn(
        "scale",
        F.greatest(F.array_max(F.transform("e", lambda x: F.abs(x))), F.lit(1e-12))
        / F.lit(127.0),
    )
    errs = scaled.withColumn(
        "err",
        F.transform(
            "e",
            lambda x: x
            - F.least(
                F.lit(127.0),
                F.greatest(F.lit(-127.0), F.floor(x / F.col("scale") + 0.5).cast("double")),
            )
            * F.col("scale"),
        ),
    )
    sq_sum = F.aggregate(
        F.transform("err", lambda x: F.floor(x * x * F.lit(float(Q12)) + F.lit(0.5)).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return errs.select(
        "vec_id",
        F.size("e").alias("dim"),
        F.round("scale", 8).alias("q_scale"),
        F.round(
            F.sqrt(sq_sum.cast("double") / F.lit(float(Q12)) / F.size("e")), 6
        ).alias("rmse"),
        F.round(F.array_max(F.transform("err", lambda x: F.abs(x))), 6).alias("max_abs_err"),
    )


# --- Johnson-Lindenstrauss random projection --------------------------------
# The dimensionality-reduction front end of a large-scale ANN pipeline:
# project 64-dim embeddings to 16 dims with a deterministic ±1 sign matrix
# (Achlioptas 2003 — database-friendly random projections). The matrix is
# derived from md5 at module import, so BOTH engines use literally the same
# signs and the op stays oracle-checkable.

JL_IN_DIM = 64
JL_OUT_DIM = 16
Q6 = 1_000_000


def _jl_signs() -> list[list[int]]:
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"jl_{j}_{i}".encode()).hexdigest()[:2], 16) % 2 == 0 else -1
            for i in range(JL_IN_DIM)
        ]
        for j in range(JL_OUT_DIM)
    ]


_JL = _jl_signs()


def _jl_oracle_cols() -> str:
    cols = []
    for j in range(JL_OUT_DIM):
        lst = ", ".join(str(s) for s in _JL[j])
        cols.append(
            f"CAST(list_sum(list_transform(generate_series(1, {JL_IN_DIM}), "
            f"i -> CAST(floor(CAST(embedding[i] AS DOUBLE) * {Q6} + 0.5) AS BIGINT)"
            f" * ([{lst}])[i])) AS DOUBLE) / {Q6}.0 AS p{j:02d}"
        )
    return ",\n       ".join(cols)


@register(
    "embedding_random_projection",
    category="embeddings",
    doc=f"Johnson-Lindenstrauss projection {JL_IN_DIM}→{JL_OUT_DIM} with a "
    "deterministic md5-derived ±1 sign matrix — per-row zip_with/aggregate "
    "array math, zero shuffle, components quantized to an exact integer "
    "grid so both engines accumulate identical BIGINTs. The dim-reduction "
    "stage that makes downstream ANN distance math 4x cheaper at 100 TB.",
    oracle=f"""
SELECT vec_id,
       {_jl_oracle_cols()}
FROM embeddings
""",
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Dense matmul is the one place interpreted Catalyst array lambdas lose
    # badly (~1µs/element); the Arrow-vectorized kernel does the identical
    # exact-integer math (int64 quantize → int64 matmul → /grid), so the
    # result is bit-equal to the array-expression form and the oracle.
    import pandas as pd  # noqa: F401 (Arrow batch type)
    import numpy as np

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    sign_mat = np.array(_JL, dtype=np.int64)  # (16, 64)
    out_cols = ", ".join(f"p{j:02d} double" for j in range(JL_OUT_DIM))

    def project(batches):
        for pdf in batches:
            q = np.floor(
                np.stack(pdf["embedding"].to_numpy()).astype(np.float64) * Q6 + 0.5
            ).astype(np.int64)  # (n, 64)
            out = (q @ sign_mat.T).astype(np.float64) / float(Q6)  # (n, 16)
            res = {"vec_id": pdf["vec_id"]}
            for j in range(JL_OUT_DIM):
                res[f"p{j:02d}"] = out[:, j]
            yield pd.DataFrame(res)

    return emb.mapInPandas(project, f"vec_id bigint, {out_cols}")


# ---------------------------------------------------------------------------
# Per-dimension distribution audit
# ---------------------------------------------------------------------------


@register(
    "embedding_dim_percentiles",
    category="embeddings",
    doc="Per-dimension distribution audit of the embedding column: exact "
    "p5/p50/p95 and min/max for every dimension ordinal via one posexplode "
    "+ per-dim aggregate (64 groups — map-side combinable, no global "
    "sort). The feature-drift / normalization-check pass a vector pipeline "
    "runs before training; pairs with psi_price_drift for scalars.",
    oracle="""
SELECT pos,
       round(CAST(quantile_cont(v, 0.05) AS DOUBLE), 6) AS p5,
       round(CAST(quantile_cont(v, 0.5) AS DOUBLE), 6) AS p50,
       round(CAST(quantile_cont(v, 0.95) AS DOUBLE), 6) AS p95,
       round(MIN(v), 6) AS vmin,
       round(MAX(v), 6) AS vmax
FROM (
  SELECT CAST(u.i - 1 AS INTEGER) AS pos, CAST(embedding[u.i] AS DOUBLE) AS v
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
)
GROUP BY pos
""",
)
def embedding_dim_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings").select(
        F.posexplode("embedding").alias("pos", "v")
    )
    v = F.col("v").cast("double")
    return e.groupBy("pos").agg(
        F.round(F.expr("percentile(CAST(v AS DOUBLE), 0.05)"), 6).alias("p5"),
        F.round(F.expr("percentile(CAST(v AS DOUBLE), 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(CAST(v AS DOUBLE), 0.95)"), 6).alias("p95"),
        F.round(F.min(v), 6).alias("vmin"),
        F.round(F.max(v), 6).alias("vmax"),
    )


# ---------------------------------------------------------------------------
# Contrastive pair mining (training-data prep for embedding models)
# ---------------------------------------------------------------------------

CONTRASTIVE_NEGS = 3
CONTRASTIVE_BATCHES = 8


@register(
    "embedding_contrastive_pairs",
    category="embeddings",
    doc="IN-BATCH contrastive training-pair mining: vectors are sharded "
    f"into {CONTRASTIVE_BATCHES} deterministic md5 batches and each anchor "
    f"mines ONE positive (same label) and {CONTRASTIVE_NEGS} negatives "
    "(different labels) FROM ITS OWN BATCH, each chosen by a deterministic "
    "md5 rank keyed on (anchor, candidate) — reproducible sampling with no "
    "rand(). Batch-restricting the candidate pool is how this survives "
    "scale: the pair space is sum-of-squared-batch-sizes, not corpus², "
    "exactly like in-batch negatives during real contrastive training "
    "(anchors whose batch lacks a same-label partner yield no positive "
    "row, as in a real batch). Ranking windows partition per anchor × "
    "polarity, so window state is bounded by batch size.",
    oracle=f"""
WITH e AS (
  SELECT vec_id, label,
         ('0x' || substr(md5('b:' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
           % {CONTRASTIVE_BATCHES} AS batch
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS anchor, b.vec_id AS cand,
         (a.label = b.label) AS is_pos,
         ('0x' || substr(md5('ctr:' || CAST(a.vec_id AS VARCHAR) || ':'
                              || CAST(b.vec_id AS VARCHAR)), 1, 15))::BIGINT
           AS rk
  FROM e a JOIN e b ON a.batch = b.batch AND a.vec_id <> b.vec_id
),
ranked AS (
  SELECT anchor, cand, is_pos,
         row_number() OVER (PARTITION BY anchor, is_pos ORDER BY rk, cand)
           AS rn
  FROM pairs
)
SELECT anchor, cand, is_pos
FROM ranked
WHERE (is_pos AND rn = 1) OR (NOT is_pos AND rn <= {CONTRASTIVE_NEGS})
""",
)
def embedding_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.functions.similarity import hash_hex

    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        (
            hash_hex(F.concat(F.lit("b:"), F.col("vec_id").cast("string")))
            % CONTRASTIVE_BATCHES
        ).alias("batch"),
    )
    a = e.select(
        F.col("vec_id").alias("anchor"), F.col("label").alias("la"), "batch"
    )
    b = e.select(F.col("vec_id").alias("cand"), F.col("label").alias("lb"), "batch")
    pairs = (
        a.join(F.broadcast(b), ["batch"])
        .where(F.col("anchor") != F.col("cand"))
        .select(
            "anchor",
            "cand",
            (F.col("la") == F.col("lb")).alias("is_pos"),
            hash_hex(
                F.concat(
                    F.lit("ctr:"),
                    F.col("anchor").cast("string"),
                    F.lit(":"),
                    F.col("cand").cast("string"),
                )
            ).alias("rk"),
        )
    )
    w = Window.partitionBy("anchor", "is_pos").orderBy("rk", "cand")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(
            (F.col("is_pos") & (F.col("rn") == 1))
            | (~F.col("is_pos") & (F.col("rn") <= CONTRASTIVE_NEGS))
        )
        .select("anchor", "cand", "is_pos")
    )


# --------------------------------------------------------------------------
# Exact covariance matrix of the embedding dimensions + audited PCA
# --------------------------------------------------------------------------

COV_GRID = 1_000_000  # Q6 quantization; cov scaled back by GRID^2
COV_DIM = 64


def covariance_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer moment sums for the 64×64 covariance matrix: ONE
    mapInPandas pass emits per-Arrow-batch partial outer products of the
    Q6-quantized vectors (one numpy int64 matmul per batch — the
    treeAggregate shape), then a groupBy reduces the 4096-cell partials.
    Shuffle volume is cells × batches, independent of corpus size.
    Rows: (i, j, s) for j ≥ 0 = Σ qᵢqⱼ; (i, -1, s) = Σ qᵢ; (-1, -1, n)."""
    import pyspark.sql.types as T

    def partials(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            e = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            q = np.floor(e * COV_GRID + 0.5).astype("int64")
            outer = q.T @ q  # 64×64 exact int64
            ii, jj = np.meshgrid(np.arange(COV_DIM), np.arange(COV_DIM), indexing="ij")
            rows = {
                "i": np.concatenate([ii.ravel(), np.arange(COV_DIM), [-1]]),
                "j": np.concatenate([jj.ravel(), np.full(COV_DIM, -1), [-1]]),
                "s": np.concatenate([outer.ravel(), q.sum(axis=0), [len(q)]]),
            }
            yield pd.DataFrame(rows)

    schema = T.StructType(
        [
            T.StructField("i", T.IntegerType()),
            T.StructField("j", T.IntegerType()),
            T.StructField("s", T.LongType()),
        ]
    )
    return (
        table(spark, sf_dir, "embeddings")
        .select("embedding")
        .mapInPandas(partials, schema)
        .groupBy("i", "j")
        .agg(F.sum("s").alias("s"))
    )


def covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(i, j, cov) — exact sums assembled into covariance doubles."""
    sums = covariance_sums(spark, sf_dir).localCheckpoint()  # 4161 rows
    pairs = sums.where((F.col("i") >= 0) & (F.col("j") >= 0))
    vec = sums.where((F.col("i") >= 0) & (F.col("j") == -1)).select(
        F.col("i").alias("k"), F.col("s").alias("sv")
    )
    n = sums.where((F.col("i") == -1)).select(F.col("s").alias("n"))
    return (
        pairs.join(F.broadcast(vec.withColumnRenamed("k", "i").withColumnRenamed("sv", "sx")), "i")
        .join(F.broadcast(vec.withColumnRenamed("k", "j").withColumnRenamed("sv", "sy")), "j")
        .crossJoin(F.broadcast(n))
        .select(
            "i",
            "j",
            F.round(
                (
                    F.col("s").cast("double")
                    - F.col("sx").cast("double") * F.col("sy").cast("double") / F.col("n")
                )
                / F.col("n")
                / float(COV_GRID) ** 2,
                10,
            ).alias("cov"),
        )
    )


_COV_ORACLE = f"""
WITH e AS (
  SELECT list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {COV_GRID} + 0.5) AS BIGINT)) AS q
  FROM embeddings
),
cells AS (
  SELECT i, j,
         CAST(SUM(q[CAST(i + 1 AS INTEGER)] * q[CAST(j + 1 AS INTEGER)]) AS DOUBLE) AS sxy,
         CAST(SUM(q[CAST(i + 1 AS INTEGER)]) AS DOUBLE) AS sx,
         CAST(SUM(q[CAST(j + 1 AS INTEGER)]) AS DOUBLE) AS sy,
         CAST(COUNT(*) AS DOUBLE) AS n
  FROM e
  CROSS JOIN (SELECT unnest(range({COV_DIM})) AS i) ii
  CROSS JOIN (SELECT unnest(range({COV_DIM})) AS j) jj
  GROUP BY i, j
)
SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
       round((sxy - sx * sy / n) / n / {float(COV_GRID) ** 2}, 10) AS cov
FROM cells
"""


@register(
    "embedding_covariance_matrix",
    category="embeddings",
    doc=f"Exact {COV_DIM}×{COV_DIM} covariance matrix of the embedding "
    "dimensions (feature-whitening / drift-audit primitive): vectors "
    "Q6-quantized, per-batch int64 outer products via one numpy matmul "
    "each (mapInPandas partials — the treeAggregate shape), reduced by a "
    "4096-cell groupBy; covariance assembled from exact sums. Shuffle is "
    "dim²×batches regardless of corpus size. Fully oracle-checked (DuckDB "
    "recomputes the same quantized moments relationally).",
    oracle=_COV_ORACLE,
)
def embedding_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return covariance_matrix(spark, sf_dir)


PCA_ITERS = 2000


@register(
    "embedding_pca_power_iteration",
    category="embeddings",
    doc="Audited PCA: the exact covariance matrix (dim²-bounded — a model "
    "artifact, not corpus data) is collected and the top eigenpair "
    "extracted by deterministic power iteration (md5-seeded start, "
    f"{PCA_ITERS} fixed iterations — the spectrum is near-degenerate, "
    "λ2/λ1≈0.99, so convergence is slow; 64×64 matmuls make iterations "
    "free). Emitted relation "
    "carries the SQL-recomputable facts (n dims, exact trace = total "
    "variance) plus verdicts computed from the eigenpair — residual "
    "‖Av−λv‖∞ ≤ 1e-5·λ, 0 < λ ≤ trace — which the oracle asserts TRUE "
    "(Count-Min audit pattern: a broken solver flips a verdict and fails "
    "the hash). Eigen-decomposition itself is checked against "
    "numpy.linalg in tests.",
    oracle=f"""
WITH e AS (
  SELECT list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {COV_GRID} + 0.5) AS BIGINT)) AS q
  FROM embeddings
),
diag AS (
  SELECT i,
         CAST(SUM(q[CAST(i + 1 AS INTEGER)] * q[CAST(i + 1 AS INTEGER)]) AS DOUBLE) AS sxx,
         CAST(SUM(q[CAST(i + 1 AS INTEGER)]) AS DOUBLE) AS sx,
         CAST(COUNT(*) AS DOUBLE) AS n
  FROM e CROSS JOIN (SELECT unnest(range({COV_DIM})) AS i) ii
  GROUP BY i
)
SELECT CAST({COV_DIM} AS INTEGER) AS n_dims,
       round(CAST(SUM(CAST(round((sxx - sx * sx / n) / n / {float(COV_GRID) ** 2}, 10) AS DECIMAL(28,10))) AS DOUBLE), 8) AS trace_cov,
       TRUE AS residual_within_tol,
       TRUE AS eigenvalue_in_range
FROM diag
""",
)
def embedding_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    import numpy as np

    cov_rows = covariance_matrix(spark, sf_dir).collect()  # dim² = 4096 rows
    A = np.zeros((COV_DIM, COV_DIM))
    for r in cov_rows:
        A[r.i, r.j] = r.cov
    v = np.array(
        [
            int(hashlib.md5(f"pca:{d}".encode()).hexdigest()[:8], 16) / float(1 << 32)
            for d in range(COV_DIM)
        ]
    )
    v /= np.linalg.norm(v)
    for _ in range(PCA_ITERS):
        w = A @ v
        v = w / np.linalg.norm(w)
    lam = float(v @ (A @ v))
    residual = float(np.abs(A @ v - lam * v).max())
    trace = float(np.trace(A))
    import pandas as pd  # noqa: F401

    return local_frame(
        spark,
        [
            (
                COV_DIM,
                round(trace, 8),
                bool(residual <= 1e-5 * max(lam, 1e-300)),
                bool(0.0 < lam <= trace + 1e-12),
            )
        ],
        "n_dims INT, trace_cov DOUBLE, residual_within_tol BOOLEAN, eigenvalue_in_range BOOLEAN",
    )


# ---------------------------------------------------------------------------
# Hard-negative mining — similarity-RANKED negatives (vs the md5-sampled
# in-batch negatives of embedding_contrastive_pairs)
# ---------------------------------------------------------------------------

HARDNEG_ANCHOR_MOD = 37  # anchors = vec_id % 37 == 0 — a bounded ~3% slice
HARDNEG_TOPK = 3


@register(
    "hard_negative_mining",
    category="embeddings",
    doc="Hard-negative mining for contrastive/retrieval training: for each "
    f"anchor (a deterministic 1/{HARDNEG_ANCHOR_MOD} slice of the corpus) "
    f"the {HARDNEG_TOPK} HIGHEST-cosine vectors with a DIFFERENT label — "
    "the semantically-closest wrong answers, which is what makes a "
    "negative 'hard' (embedding_contrastive_pairs is the md5-sampled "
    "random-negative sibling). SCALE SHAPE: the anchor batch is bounded "
    "and broadcast, the corpus streams through ONE linear pass (broadcast "
    "nested-loop join — no corpus×corpus pair space), and per-anchor "
    "top-k is a window partitioned by anchor, so parallelism equals the "
    "anchor count. For unbounded anchor sets, the LSH-bucketed path "
    "(ann_lsh_bucketed) replaces the scan; this operator is the exact "
    "per-batch miner used between training epochs. Ordering is on the "
    "6dp-ROUNDED cosine with vec_id tiebreak — engine-deterministic.",
    oracle=f"""
WITH n AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
nn AS (
  SELECT vec_id, label, e, sqrt(list_dot_product(e, e)) AS nrm FROM n
),
a AS (SELECT * FROM nn WHERE vec_id % {HARDNEG_ANCHOR_MOD} = 0),
scored AS (
  SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
         c.vec_id AS neg_id, c.label AS neg_label,
         ROUND(list_dot_product(a.e, c.e) / (a.nrm * c.nrm), 6) AS cosine
  FROM a JOIN nn c ON c.label <> a.label
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY anchor_id
                               ORDER BY cosine DESC, neg_id ASC) AS rn
  FROM scored
)
SELECT anchor_id, anchor_label, neg_id, neg_label, cosine
FROM ranked WHERE rn <= {HARDNEG_TOPK}
""",
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.functions.similarity import dot

    nn = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    nn = nn.withColumn("nrm", F.sqrt(dot(F.col("e"), F.col("e"))))
    anchors = nn.where(F.col("vec_id") % HARDNEG_ANCHOR_MOD == 0).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("e").alias("ae"),
        F.col("nrm").alias("anrm"),
    )
    scored = (
        nn.join(F.broadcast(anchors), F.col("label") != F.col("anchor_label"))
        .select(
            "anchor_id",
            "anchor_label",
            F.col("vec_id").alias("neg_id"),
            F.col("label").alias("neg_label"),
            F.round(
                dot(F.col("ae"), F.col("e")) / (F.col("anrm") * F.col("nrm")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cosine"), F.asc("neg_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= HARDNEG_TOPK)
        .drop("rn")
    )


@register(
    "embedding_rank_normalize",
    category="embeddings",
    doc="Feature-wise rank (quantile) normalization — the standard ML "
    "preprocessing step that maps every dimension to its within-dimension "
    "quantile, ties to average rank: output q_ppm = (2*avgrank - 1) / "
    "(2*n) in exact integer parts-per-million. SCALE SHAPE: one "
    "posexplode to (vec, dim, value) rows, values collapse to the "
    "per-(dim, value) distinct relation, and ALL 64 dimensions get their "
    "within-dim ranks from ONE two-phase exact prefix pass ordered by "
    "(dim, value) — per-dim offsets are a 64-row broadcast (cumulative "
    "dim totals), so there is no per-dim window and no single-task sort "
    "even when every dimension is value-unique at corpus scale. One hash "
    "join-back re-attaches ranks to rows. Everything integer, so the "
    "normalization is engine- and partitioning-deterministic.",
    oracle="""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
rows_ AS (
  SELECT vec_id, i AS dim, e[CAST(i + 1 AS INTEGER)] AS val
  FROM (SELECT vec_id, e, unnest(range(0, 64)) AS i FROM e)
),
vals AS (
  SELECT dim, val, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM rows_ GROUP BY 1, 2
),
ranked AS (
  SELECT dim, val, cnt,
         CAST(SUM(cnt) OVER (PARTITION BY dim ORDER BY val
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS prefix
  FROM vals
),
tot AS (SELECT dim, CAST(SUM(cnt) AS BIGINT) AS dim_n FROM vals GROUP BY 1)
SELECT r.vec_id, r.dim,
       CAST((2 * k.prefix - k.cnt) * 500000 // t.dim_n AS BIGINT) AS q_ppm
FROM rows_ r
JOIN ranked k ON r.dim = k.dim AND r.val = k.val
JOIN tot t ON r.dim = t.dim
""",
)
def embedding_rank_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.operators.windows import (
        global_prefix_sums,
    )

    rows = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.posexplode("embedding").alias("dim", "valf")
    ).select("vec_id", F.col("dim").cast("bigint").alias("dim"),
             F.col("valf").cast("double").alias("val"))
    vals = rows.groupBy("dim", "val").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    # ONE global two-phase prefix over (dim, val); per-dim prefixes fall
    # out by subtracting the 64-row cumulative dim offsets
    g = global_prefix_sums(vals, ["dim", "val"], ["cnt"])
    dim_tot = (
        vals.groupBy("dim").agg(F.sum("cnt").cast("bigint").alias("dim_n"))
    )
    per_dim = sorted(dim_tot.collect(), key=lambda r: r["dim"])
    offs, acc = [], 0
    for r in per_dim:
        offs.append((r["dim"], acc, r["dim_n"]))
        acc += r["dim_n"]
    off = local_frame(spark, offs, "dim BIGINT, dim_off BIGINT, dim_n BIGINT")
    ranked = g.join(F.broadcast(off), "dim").select(
        "dim",
        "val",
        "cnt",
        (F.col("cnt_cum") - F.col("dim_off")).alias("prefix"),
        "dim_n",
    )
    return rows.join(ranked, ["dim", "val"]).select(
        "vec_id",
        "dim",
        # DIV, not `/`: float division + truncate can land one off the
        # exact integer quotient the oracle's // computes
        F.expr("((2 * prefix - cnt) * 500000) DIV dim_n")
        .cast("bigint")
        .alias("q_ppm"),
    )


MATRYOSHKA_DIMS = (16, 32, 64)
MATRYOSHKA_PAIR_STEP = 7  # pair (id, id+7) — deterministic, linear, corpus-wide


@register(
    "embedding_matryoshka_audit",
    category="embeddings",
    doc="Matryoshka truncation audit (Kusupati et al. 2022): how much "
    "pairwise-cosine structure survives when embeddings are truncated to "
    f"their first {MATRYOSHKA_DIMS[0]}/{MATRYOSHKA_DIMS[1]} dimensions — "
    "the decision input for serving shorter vectors. A deterministic "
    f"linear pair set (id, id+{MATRYOSHKA_PAIR_STEP}) is scored at each "
    "prefix length; per-pair cosines quantize to integer micro-units "
    "(floor(c*1e6+0.5) of the bit-identical sequential dot ratio) so the "
    "per-dim error sums, maxima and pair counts are EXACT integers. "
    "SCALE SHAPE: one self-join on a shifted key (linear, no pair "
    "explosion), slices and dots JVM-side, one partial-aggregable "
    "rollup per prefix length.",
    oracle=f"""
WITH n AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
pairs AS (
  SELECT a.e AS ea, b.e AS eb
  FROM n a JOIN n b ON b.vec_id = a.vec_id + {MATRYOSHKA_PAIR_STEP}
),
dims AS (SELECT unnest([{', '.join(str(d) for d in MATRYOSHKA_DIMS)}]) AS d),
scored AS (
  SELECT d,
         CAST(floor(list_dot_product(list_slice(ea, 1, CAST(d AS INTEGER)),
                                     list_slice(eb, 1, CAST(d AS INTEGER)))
              / (sqrt(list_dot_product(list_slice(ea, 1, CAST(d AS INTEGER)),
                                       list_slice(ea, 1, CAST(d AS INTEGER))))
               * sqrt(list_dot_product(list_slice(eb, 1, CAST(d AS INTEGER)),
                                       list_slice(eb, 1, CAST(d AS INTEGER)))))
              * 1000000 + 0.5) AS BIGINT) AS c_micro,
         CAST(floor(list_dot_product(ea, eb)
              / (sqrt(list_dot_product(ea, ea)) * sqrt(list_dot_product(eb, eb)))
              * 1000000 + 0.5) AS BIGINT) AS full_micro
  FROM pairs CROSS JOIN dims
)
SELECT CAST(d AS BIGINT) AS prefix_dim,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(abs(c_micro - full_micro)) AS BIGINT) AS sum_abs_err_micro,
       CAST(MAX(abs(c_micro - full_micro)) AS BIGINT) AS max_abs_err_micro
FROM scored GROUP BY 1
""",
)
def embedding_matryoshka_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.functions.similarity import dot

    n = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    a = n.select("vec_id", F.col("e").alias("ea"))
    b = n.select(
        (F.col("vec_id") - MATRYOSHKA_PAIR_STEP).alias("vec_id"),
        F.col("e").alias("eb"),
    )
    pairs = a.join(b, "vec_id").localCheckpoint()  # 3 prefix scores reuse it

    def micro(ca, cb) -> "F.Column":
        c = dot(ca, cb) / (F.sqrt(dot(ca, ca)) * F.sqrt(dot(cb, cb)))
        return F.floor(c * 1000000 + F.lit(0.5)).cast("bigint")

    per_dim = []
    full = micro(F.col("ea"), F.col("eb"))
    for d in MATRYOSHKA_DIMS:
        sa, sb = F.slice("ea", 1, d), F.slice("eb", 1, d)
        per_dim.append(
            pairs.select(
                F.lit(d).cast("bigint").alias("prefix_dim"),
                (micro(sa, sb) - full).alias("err"),
            )
        )
    scored = per_dim[0]
    for p in per_dim[1:]:
        scored = scored.unionAll(p)
    return scored.groupBy("prefix_dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.abs(F.col("err"))).cast("bigint").alias("sum_abs_err_micro"),
        F.max(F.abs(F.col("err"))).cast("bigint").alias("max_abs_err_micro"),
    )
