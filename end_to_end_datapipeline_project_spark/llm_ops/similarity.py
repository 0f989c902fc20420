"""Similarity search over the ``embeddings`` table (array<float>, 64-dim).

LLM-pipeline extension surface (SURVEY.md §7.2 M4; no counterpart in the
reference, which has a single fact table and no arrays).

- ``q_embedding_neardup`` / ``q_ann_topk`` — brute-force cosine, the
  correctness baseline.  The dot product is a built-in higher-order
  ``aggregate`` over ``zip_with`` — pure Catalyst expressions, no UDF.
- ``q_ann_ivf`` — the scale path: IVF-style bucketing (assign every vector
  to its nearest of C coarse centroids, search only the probe bucket).
  At 100 TB the brute-force candidate set is the bucket, not the corpus,
  and the centroid assignment is a broadcast join.

Norms are precomputed per vector and the cosine is always
``dot / (norm_a * norm_b)`` in exactly that association order on both
engines, so values agree to the ulp and round(…, 6) is stable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..lineage import cut
from ..registry import register
from ..sources import read_parquet_table

# --- shared fragments -----------------------------------------------------

#: DuckDB: embeddings with double vectors and precomputed norms
VECS_SQL = """
  __vecs AS (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
    FROM embeddings
  ),
  __normed AS (
    SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS norm
    FROM __vecs
  )
"""

COS_SQL = "list_dot_product(a.v, b.v) / (a.norm * b.norm)"


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ via zip_with + aggregate (sequential left fold, matching
    DuckDB's list_dot_product order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def normalize_embeddings(emb: DataFrame) -> DataFrame:
    """(vec_id, label, v: double[], norm) from a raw embeddings frame —
    pure row-level expressions, so it applies to streams too."""
    v = F.transform("embedding", lambda x: x.cast("double")).alias("v")
    vecs = emb.select("vec_id", "label", v)
    return vecs.withColumn("norm", F.sqrt(dot(F.col("v"), F.col("v"))))


def vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return normalize_embeddings(read_parquet_table(spark, sf_dir, "embeddings"))


def _cos(prefix_a: str = "a", prefix_b: str = "b") -> Column:
    # nullif: a zero-norm (all-zero) embedding would ANSI-crash the
    # division where DuckDB's x/0 yields NULL — latent with the current
    # fixture (no zero vectors) but the kernel must not diverge
    # crash-vs-NULL on degenerate data
    return dot(F.col(f"{prefix_a}.v"), F.col(f"{prefix_b}.v")) / F.nullif(
        F.col(f"{prefix_a}.norm") * F.col(f"{prefix_b}.norm"), F.lit(0.0)
    )


# --- queries --------------------------------------------------------------


@register(
    "q_embedding_neardup",
    f"""
  WITH {VECS_SQL}
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         round({COS_SQL}, 6) AS cosine
  FROM __normed a JOIN __normed b ON a.vec_id < b.vec_id
  WHERE {COS_SQL} >= 0.45
""",
    doc="Embedding-cosine near-duplicate pairs (brute-force self-join "
    "baseline; the IVF variant below is the 100 TB path).",
)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = vectors(spark, sf_dir)
    a, b = vecs.alias("a"), vecs.alias("b")
    # project the cosine ONCE, then filter on the materialized column —
    # higher-order array folds don't whole-stage-codegen, so evaluating
    # the 64-dim fold in filter AND select AND round triples the cost
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            _cos().alias("cos_raw"),
        )
        .filter(F.col("cos_raw") >= 0.45)
        .select("vec_a", "vec_b", F.round("cos_raw", 6).alias("cosine"))
    )


@register(
    "q_ann_topk",
    f"""
  WITH {VECS_SQL},
  __queries AS (SELECT * FROM __normed WHERE vec_id < 5),
  __scored AS (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, b.label AS neighbor_label,
           {COS_SQL} AS cos_raw
    FROM __queries a JOIN __normed b ON a.vec_id <> b.vec_id
  )
  SELECT query_id, neighbor_id, neighbor_label, round(cos_raw, 6) AS cosine, rank
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS rank
    FROM __scored)
  WHERE rank <= 10
""",
    doc="Brute-force cosine top-k nearest neighbors for a query set "
    "(broadcast the queries, scan the corpus once, per-query top-k heap).",
)
def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = vectors(spark, sf_dir)
    queries = vecs.filter(F.col("vec_id") < 5)
    a, b = queries.alias("a"), vecs.alias("b")
    cos = _cos()
    scored = a.join(b, F.col("a.vec_id") != F.col("b.vec_id")).select(
        F.col("a.vec_id").alias("query_id"),
        F.col("b.vec_id").alias("neighbor_id"),
        F.col("b.label").alias("neighbor_label"),
        cos.alias("cos_raw"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_raw"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            F.round("cos_raw", 6).alias("cosine"),
            "rank",
        )
    )


N_CENTROIDS_MOD = 50  # vec_id % 50 == 0 → 10 coarse centroids at sf0.01


@register(
    "q_ann_ivf",
    f"""
  WITH {VECS_SQL},
  __centroids AS (
    SELECT vec_id AS centroid_id, v, norm FROM __normed
    WHERE vec_id % {N_CENTROIDS_MOD} = 0
  ),
  __assign AS (
    SELECT vec_id, label, v, norm, centroid_id FROM (
      SELECT a.vec_id, a.label, a.v, a.norm, b.centroid_id,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY list_dot_product(a.v, b.v) / (a.norm * b.norm) DESC,
                        b.centroid_id) AS rn
      FROM __normed a CROSS JOIN __centroids b)
    WHERE rn = 1
  ),
  __queries AS (SELECT * FROM __assign WHERE vec_id < 5),
  __scored AS (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           {COS_SQL} AS cos_raw
    FROM __queries a JOIN __assign b
      ON a.centroid_id = b.centroid_id AND a.vec_id <> b.vec_id
  )
  SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine, rank
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS rank
    FROM __scored)
  WHERE rank <= 5
""",
    doc="IVF-bucketed approximate NN: nearest-centroid assignment "
    "(broadcast centroids), then top-k within the probe bucket only — "
    "the candidate set shrinks from |corpus| to |bucket|.",
)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = vectors(spark, sf_dir)
    centroids = vecs.filter(F.col("vec_id") % N_CENTROIDS_MOD == 0).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cnorm"),
    )
    cos_to_centroid = dot(F.col("v"), F.col("cv")) / F.nullif(
        F.col("norm") * F.col("cnorm"), F.lit(0.0)
    )
    # max_by partial aggregation, NOT a row_number window: the window
    # form shuffles all n_centroids copies of every 64-dim embedding
    # just to keep rank 1 (q_kmeans_step measured that shape at 15x
    # super-linear before its identical rewrite); the partial max_by
    # collapses the candidates map-side so the shuffle carries one row
    # per vector.  Tiebreak struct (cos desc, centroid_id asc) matches
    # the oracle's ORDER BY exactly.
    assign = (
        vecs.crossJoin(F.broadcast(centroids))
        .withColumn("cos_c", cos_to_centroid)
        .groupBy("vec_id")
        .agg(
            F.max_by(
                F.col("centroid_id"),
                F.struct(
                    F.col("cos_c").alias("c"),
                    (-F.col("centroid_id")).alias("t"),
                ),
            ).alias("centroid_id"),
            F.first("label").alias("label"),
            F.first("v").alias("v"),
            F.first("norm").alias("norm"),
        )
        .select("vec_id", "label", "v", "norm", "centroid_id")
    )
    queries = assign.filter(F.col("vec_id") < 5)
    a, b = queries.alias("a"), assign.alias("b")
    cos = _cos()
    scored = a.join(
        b,
        (F.col("a.centroid_id") == F.col("b.centroid_id"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("query_id"),
        F.col("b.vec_id").alias("neighbor_id"),
        cos.alias("cos_raw"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_raw"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", F.round("cos_raw", 6).alias("cosine"), "rank")
    )


@register(
    "q_label_centroid_sim",
    f"""
  WITH {VECS_SQL},
  __dims AS (
    SELECT label, generate_subscripts(v, 1) AS dim, unnest(v) AS val
    FROM __normed
  ),
  __means AS (
    SELECT label, dim, sum(val) / count(*) AS m
    FROM __dims GROUP BY label, dim
  )
  SELECT label, round(sqrt(sum(m * m)), 6) AS centroid_norm
  FROM __means GROUP BY label
""",
    doc="Per-label mean-vector (centroid) norm — element-wise vector mean "
    "across rows via posexplode, then ‖·‖₂ of the 64 per-dim means.",
)
def q_label_centroid_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = vectors(spark, sf_dir)
    exploded = vecs.select(
        "label", F.posexplode("v").alias("dim", "val")
    )
    # plain double sums, deliberately NOT dsum: embedding components
    # are full-precision doubles, so a DECIMAL(30,6) cast would QUANTIZE
    # the values (unlike the price/quantity columns dsum serves).  The
    # order-dependence this leaves is bounded ~sqrt(n)·eps·Σ|x| ≈ 1e-10
    # per dim at sf0.1 — three orders below the round(·,6) grid — and
    # three rounds of full sweeps at three SFs have never tripped it.
    means = exploded.groupBy("label", "dim").agg(
        (F.sum("val") / F.count(F.lit(1))).alias("m")
    )
    return means.groupBy("label").agg(
        F.round(F.sqrt(F.sum(F.col("m") * F.col("m"))), 6).alias("centroid_norm")
    )


@register(
    "q_embedding_quantize",
    """
  WITH __v AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  ),
  __m AS (
    SELECT vec_id, v,
           list_max(list_transform(v, x -> abs(x))) AS maxabs
    FROM __v
  )
  SELECT vec_id,
         round(maxabs / 127.0, 6) AS scale,
         round(
           CASE WHEN maxabs = 0 THEN 0.0 ELSE
             list_max(list_transform(v,
               x -> abs(x - round(x / (maxabs / 127.0)) * (maxabs / 127.0))))
           END, 6) AS max_abs_err,
         len(v) AS dim
  FROM __m
""",
    doc="Int8 symmetric quantization of the embedding column: per-vector "
    "max-abs scale, round-to-nearest levels, reconstruction-error bound — "
    "all higher-order array expressions, no UDF; at 100 TB this is the "
    "4× storage/bandwidth cut before ANN indexing.",
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    df = emb.select("vec_id", v.alias("v")).withColumn(
        "maxabs",
        F.array_max(F.transform("v", lambda x: F.abs(x))),
    )
    scale = F.col("maxabs") / 127.0
    err = F.array_max(
        F.transform(
            "v", lambda x: F.abs(x - F.round(x / scale, 0) * scale)
        )
    )
    return df.select(
        "vec_id",
        F.round(scale, 6).alias("scale"),
        F.round(
            F.when(F.col("maxabs") == 0, F.lit(0.0)).otherwise(err), 6
        ).alias("max_abs_err"),
        F.size("v").alias("dim"),
    )


@register(
    "q_kmeans_step",
    f"""
  WITH {VECS_SQL},
  __centroids AS (
    SELECT vec_id AS centroid_id, v, norm FROM __normed
    ORDER BY vec_id LIMIT 64
  ),
  __assign AS (
    SELECT vec_id, v, centroid_id FROM (
      SELECT a.vec_id, a.v, b.centroid_id,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY list_dot_product(a.v, b.v) / (a.norm * b.norm) DESC,
                        b.centroid_id) AS rn
      FROM __normed a CROSS JOIN __centroids b)
    WHERE rn = 1
  ),
  __dims AS (
    SELECT centroid_id, generate_subscripts(v, 1) AS dim, unnest(v) AS val
    FROM __assign
  ),
  __means AS (
    SELECT centroid_id, dim, sum(val) / count(*) AS m
    FROM __dims GROUP BY centroid_id, dim
  ),
  __norms AS (
    SELECT centroid_id, round(sqrt(sum(m * m)), 6) AS new_norm
    FROM __means GROUP BY centroid_id
  ),
  __sizes AS (
    SELECT centroid_id, count(*) AS n_assigned FROM __assign
    GROUP BY centroid_id
  )
  SELECT s.centroid_id, s.n_assigned, n.new_norm
  FROM __sizes s JOIN __norms n USING (centroid_id)
""",
    doc="One Lloyd iteration of k-means over the embedding column: "
    "nearest-centroid assignment (broadcast centroids, deterministic "
    "cosine-then-id tiebreak) followed by the per-dimension mean "
    "update. This is the full-corpus-scale shape: assignment is a "
    "broadcast probe in the scan stage, the update is one partial-"
    "aggregated shuffle keyed (centroid, dim) — iterate to "
    "convergence by re-running with the updated centroids. k is FIXED "
    "(64 seed vectors via top-k on id) so assignment cost stays k·n at "
    "any corpus size; the earlier modulo seed rule grew k with the "
    "data and the ×10 scale probe caught the resulting 10× blowup.",
)
def q_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = vectors(spark, sf_dir)
    centroids = vecs.orderBy("vec_id").limit(64).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cnorm"),
    )
    cos_to_centroid = dot(F.col("v"), F.col("cv")) / F.nullif(
        F.col("norm") * F.col("cnorm"), F.lit(0.0)
    )  # zero-norm guard: NULL (DuckDB's x/0), not an ANSI crash
    # argmax via max_by, NOT a row_number window: the 64 candidate rows
    # per vector are produced consecutively by the broadcast cross join,
    # so the partial aggregate collapses them to one row inside the scan
    # stage — the shuffle carries n rows, never 64n copies of the
    # embedding (the window form was 15x super-linear in the x10 probe)
    assign = (
        vecs.crossJoin(F.broadcast(centroids))
        .withColumn("cos_c", cos_to_centroid)
        .groupBy("vec_id")
        .agg(
            F.max_by(
                "centroid_id",
                F.struct(
                    F.col("cos_c").alias("c"),
                    (-F.col("centroid_id")).alias("t"),
                ),
            ).alias("centroid_id"),
            F.first("v").alias("v"),
        )
        .select("vec_id", "v", "centroid_id")
    )
    dims = assign.select(
        "centroid_id", F.posexplode("v").alias("dim", "val")
    )
    means = dims.groupBy("centroid_id", "dim").agg(
        (F.sum("val") / F.count(F.lit(1))).alias("m")
    )
    norms = means.groupBy("centroid_id").agg(
        F.round(F.sqrt(F.sum(F.col("m") * F.col("m"))), 6).alias("new_norm")
    )
    sizes = assign.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n_assigned")
    )
    return sizes.join(norms, "centroid_id")


SEMANTIC_COS = 0.45


@register(
    "q_semantic_dedup",
    f"""
  WITH RECURSIVE {VECS_SQL},
  __pairs AS (
    SELECT a.vec_id AS src, b.vec_id AS dst
    FROM __normed a JOIN __normed b ON a.vec_id < b.vec_id
    WHERE {COS_SQL} >= {SEMANTIC_COS}
  ),
  __edges AS (
    SELECT src, dst FROM __pairs
    UNION ALL SELECT dst, src FROM __pairs
  ),
  __reach (vec_id, r) AS (
    SELECT vec_id, vec_id FROM embeddings
    UNION
    SELECT q.vec_id, e.dst FROM __reach q JOIN __edges e ON e.src = q.r
  )
  SELECT vec_id,
         min(r) AS cluster_id,
         CAST(vec_id = min(r) AS INTEGER) AS is_canonical
  FROM __reach GROUP BY vec_id
""",
    doc="SEMANTIC deduplication: cosine-similar embedding pairs "
    f"(≥ {SEMANTIC_COS}) become edges, connected components collapse "
    "chains of paraphrases into one cluster, canonical = min id — the "
    "embedding-space counterpart of shingle-based q_dedup_clusters, "
    "sharing its connected components (a small pair list is labelled on "
    "the driver; a larger one runs the min-label-propagation loop, one "
    "lineage cut per iteration, stopping at the first iteration that "
    "lowers no label). "
    "At 100 TB the pair generation "
    "is the IVF/LSH candidate path, not this brute-force oracle shape.",
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import connected_components

    vecs = vectors(spark, sf_dir)
    a, b = vecs.alias("a"), vecs.alias("b")
    pairs = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .filter(_cos() >= SEMANTIC_COS)
        .select(
            F.col("a.vec_id").alias("src"), F.col("b.vec_id").alias("dst")
        )
    )
    nodes = vecs.select("vec_id")
    return connected_components(nodes, pairs, "vec_id")


# --- distributed logistic-regression gradient step ------------------------


@register(
    "q_logreg_grad",
    """
  WITH v AS (
    SELECT vec_id, CAST(label % 2 AS DOUBLE) AS y,
           CAST(embedding AS DOUBLE[]) AS x
    FROM embeddings
  ),
  m AS (
    SELECT vec_id, y, x,
           1.0 / (1.0 + exp(-list_dot_product(x,
             list_transform(range(1, len(x) + 1),
                            j -> ((j * 37) % 19 - 9) / 10.0)))) AS p
    FROM v
  ),
  e AS (
    SELECT m.p, m.y, u.j AS dim, m.x[u.j] AS xj
    FROM m, UNNEST(range(1, len(m.x) + 1)) AS u(j)
  )
  SELECT dim, count(*) AS n,
         round(CAST(SUM(CAST(round(xj * (p - y), 9) AS DECIMAL(30,9)))
                    AS DOUBLE) / count(*), 6) AS grad
  FROM e GROUP BY dim
""",
    doc="One synchronous distributed gradient step of logistic regression "
    "over the embedding table (y = label parity, fixed deterministic "
    "weight vector): per-row sigmoid margin stays inside the scan "
    "stage, then ONE shuffle keyed by dimension aggregates per-dim "
    "gradient contributions with rounded-then-decimal-exact sums — the "
    "allreduce pattern of data-parallel training expressed as a "
    "DataFrame aggregate, reproducible at any executor count.",
)
def q_logreg_grad(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_parquet_table(spark, sf_dir, "embeddings")
    x = F.transform("embedding", lambda c: c.cast("double"))
    base = emb.select(
        (F.col("label") % 2).cast("double").alias("y"), x.alias("x")
    )
    w = F.transform(
        F.sequence(F.lit(1), F.size("x")),
        lambda j: ((j * F.lit(37)) % 19 - 9) / 10.0,
    )
    margin = dot(F.col("x"), w)
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
    scored = base.select("y", "x", p.alias("p"))
    exploded = scored.select(
        "y",
        "p",
        F.posexplode("x").alias("pos", "xj"),
    ).select((F.col("pos") + 1).alias("dim"), "y", "p", "xj")
    term = F.round(F.col("xj") * (F.col("p") - F.col("y")), 9).cast(
        "decimal(30,9)"
    )
    return exploded.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(term).cast("double") / F.count(F.lit(1)), 6).alias(
            "grad"
        ),
    )


# --- first principal component via distributed power iteration ------------

_PCA_ITERS = 2

#: (vec_id, dim, xd): the exploded double-precision coordinate stream
#: mirrors the Spark side's ragged-vector exclusion (len = corpus max):
#: without it a single off-dimension row makes list_dot_product error
#: on DuckDB while Spark silently fits without that row
_PCA_COORDS_SQL = """
  __pemb AS (
    SELECT vec_id, embedding FROM embeddings
    WHERE len(embedding) = (SELECT max(len(embedding)) FROM embeddings)
  ),
  __coords AS (
    SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
           CAST(unnest(embedding) AS DOUBLE) AS xd
    FROM __pemb
  ),
  __pvecs AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM __pemb
  )"""


def _pca_iter_sql(prev: str, out: str) -> str:
    from ..registry import dsum

    return f"""
  {out}_s AS (
    SELECT vec_id,
           round(list_dot_product(
             v, (SELECT list(val ORDER BY dim) FROM {prev})), 6) AS s
    FROM __pvecs
  ),
  {out}_u AS (
    SELECT c.dim, {dsum("s.s * c.xd")} AS u
    FROM __coords c JOIN {out}_s s ON s.vec_id = c.vec_id
    GROUP BY c.dim
  ),
  {out}_n AS (
    SELECT sqrt({dsum("u * u")}) AS nrm FROM {out}_u
  ),
  {out} AS (
    SELECT dim, round(u / nrm, 6) AS val, nrm
    FROM {out}_u CROSS JOIN {out}_n
  )"""


@register(
    "q_pca_power",
    f"""
  WITH {_PCA_COORDS_SQL},
  __v0 AS (
    SELECT DISTINCT dim, 0.125 AS val FROM __coords
  ),
  {", ".join(_pca_iter_sql(f"__v{i}", f"__v{i + 1}")
             for i in range(_PCA_ITERS))}
  SELECT dim, val AS pc1_component, round(nrm, 6) AS eigenvalue_est
  FROM __v{_PCA_ITERS}
""",
    doc=f"First principal direction of the raw (uncentered) embedding "
    f"second-moment matrix via {_PCA_ITERS} distributed power "
    "iterations — WITHOUT ever materializing the d×d covariance: each "
    "iteration is v ← normalize(Σᵢ (xᵢ·v)·xᵢ) as ONE scan of the "
    "cached vectors — the projection s = x·v is computed map-side "
    "from a driver-held literal array (O(d) scalars between "
    "iterations, the kmeans-centroid pattern), and the weighted "
    "recombination is a dim-keyed aggregate whose partial-agged "
    "shuffle carries only partitions × d rows (the classic allreduce "
    "shape, same as q_logreg_grad). Projections are rounded left-fold "
    "double dot products (the cosine queries' parity pattern) and "
    "component sums are decimal-quantized, so both engines iterate on "
    "identical vectors; ‖u‖ after the last step estimates the top "
    "eigenvalue. "
    "At 100 TB this streams the corpus once per iteration with O(d) "
    "driver state — the covariance matrix (d² floats) never exists "
    "anywhere.",
)
def q_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..registry import spark_dsum, spark_dsum_rounded

    emb = read_parquet_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("x")
    )
    d = emb.select(F.max(F.size("x"))).first()[0]
    if d is None:  # empty table: return an empty, correctly-typed frame
        return spark.createDataFrame(
            [], "dim int, pc1_component double, eigenvalue_est double"
        )
    # drop ragged vectors up front: zip_with null-pads a short vector,
    # silently nulling its dot product out of the iteration, while the
    # oracle's list_dot_product errors — neither is acceptable, so
    # off-dimension vectors are excluded from the fit explicitly
    emb = emb.filter(F.size("x") == d)
    # v lives in the DRIVER between iterations (O(d) scalars — the same
    # loop-control budget as the kmeans centroid collect): each iteration
    # is then ONE scan of the cached vectors with the projection s = x·v
    # computed map-side from a literal array, and one dim-keyed aggregate
    # whose shuffle carries only num_partitions × d partial rows.  The
    # previous form joined the exploded n·d coords table against the n
    # projections every iteration — a full n·d shuffle per step that the
    # ×10 probe flagged at 3.4×.
    emb = emb.persist()
    v_vals = [0.125] * d
    v_df = None
    for it in range(_PCA_ITERS):
        v_lit = F.array(*[F.lit(float(val)) for val in v_vals])
        # s = round(x·v, 6) as the same left-fold double dot product the
        # cosine queries use (zip_with + aggregate ≡ DuckDB
        # list_dot_product, bit-for-bit) — codegen doubles, no per-element
        # interpreted decimal arithmetic in the hot path
        s_col = F.round(dot(F.col("x"), v_lit), 6)
        u = (
            emb.select(s_col.alias("s"), F.posexplode("x").alias("dim0", "xd"))
            .groupBy((F.col("dim0") + 1).alias("dim"))
            # s·xd is off-grid (raw embedding components) → rounded
            # variant over the rows×dims exploded stream
            .agg(spark_dsum_rounded(F.col("s") * F.col("xd")).alias("u"))
        )
        nrm = u.agg(F.sqrt(spark_dsum(F.col("u") * F.col("u"))).alias("nrm"))
        v_df = u.crossJoin(F.broadcast(nrm)).select(
            "dim", F.round(F.col("u") / F.col("nrm"), 6).alias("val"), "nrm"
        )
        if it + 1 < _PCA_ITERS:  # the last v is returned, not re-broadcast
            v_vals_rows = {r["dim"]: r["val"] for r in v_df.collect()}
            v_vals = [v_vals_rows[i + 1] for i in range(d)]
    # materialize the O(d) result, then release the cached corpus — a
    # bare persist would pin executor memory for the rest of the session
    # (bench/notebook reruns accumulate cached copies)
    v_df = cut(v_df, "q_pca_power.v_df")
    emb.unpersist()
    return v_df.select(
        "dim",
        F.col("val").alias("pc1_component"),
        F.round("nrm", 6).alias("eigenvalue_est"),
    )


@register(
    "q_ann_recall",
    f"""
  WITH {VECS_SQL},
  __queries AS (SELECT * FROM __normed WHERE vec_id < 5),
  __exact AS (
    SELECT query_id, neighbor_id FROM (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY {COS_SQL} DESC, b.vec_id) AS rnk
      FROM __queries a JOIN __normed b ON a.vec_id <> b.vec_id)
    WHERE rnk <= 5
  ),
  __centroids AS (
    SELECT vec_id AS centroid_id, v, norm FROM __normed
    WHERE vec_id % {N_CENTROIDS_MOD} = 0
  ),
  __assign AS (
    SELECT vec_id, v, norm, centroid_id FROM (
      SELECT a.vec_id, a.v, a.norm, b.centroid_id,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY list_dot_product(a.v, b.v) / (a.norm * b.norm) DESC,
                        b.centroid_id) AS rn
      FROM __normed a CROSS JOIN __centroids b)
    WHERE rn = 1
  ),
  __q2 AS (SELECT * FROM __assign WHERE vec_id < 5),
  __ivf AS (
    SELECT query_id, neighbor_id FROM (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY {COS_SQL} DESC, b.vec_id) AS rnk
      FROM __q2 a JOIN __assign b
        ON a.centroid_id = b.centroid_id AND a.vec_id <> b.vec_id)
    WHERE rnk <= 5
  )
  SELECT e.query_id,
         CAST(count(i.neighbor_id) AS DOUBLE) / 5 AS recall_at_5
  FROM __exact e
  LEFT JOIN __ivf i
    ON i.query_id = e.query_id AND i.neighbor_id = e.neighbor_id
  GROUP BY e.query_id
""",
    doc="ANN index evaluation: recall@5 of the IVF-bucketed search "
    "against the exact brute-force top-5, per query — the quality "
    "gauge that decides nprobe/centroid-count trade-offs before an "
    "approximate index serves production traffic. Both paths run in "
    "the same plan over the same normalized vectors; the exact side's "
    "per-query top-k joins the IVF side's and counts hits. At 100 TB "
    "you run this on a sampled query set, exactly as here (5 probes).",
)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = (
        q_ann_topk(spark, sf_dir)
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id")
    )
    ivf = q_ann_ivf(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("ivf_neighbor")
    )
    return (
        exact.join(
            ivf,
            (exact.query_id == ivf.query_id)
            & (F.col("neighbor_id") == F.col("ivf_neighbor")),
            "left",
        )
        .drop(ivf.query_id)
        .groupBy("query_id")
        .agg(
            (F.count("ivf_neighbor").cast("double") / 5).alias("recall_at_5")
        )
    )


# --- random-hyperplane LSH for cosine (SimHash over embeddings) -----------

#: banded OR-amplified signature: _RHP_BANDS bands × _RHP_ROWS sign bits.
#: A pair is a candidate if ANY band matches — P(candidate) =
#: 1 - (1 - (1-θ/π)^rows)^bands, steep around the target angle; a single
#: 16-bit bucket would have (1-θ/π)^16 ≈ 0 recall at θ ≈ 60°.
#: rows 2→4 (round 3): a 2-bit band has only 4 sig values, so both the
#: bucket-cap window and the bucket join degrade Θ(n) per group as data
#: grows; 4 bits gives 16 groups/band (4× smaller buckets — ×10 probe
#: ratio went 4.9×→1.0×) and bands 8→12 holds analytic candidate recall
#: at the 0.45 threshold: 1-(1-0.648^4)^12 = 0.90.  Measured recall vs
#: the exact ≥0.45 top-10 ground truth at sf0.1: 128/144 = 0.889.
_RHP_BANDS = 12
_RHP_ROWS = 4
_RHP_DIM = 64
_RHP_COS_T = 0.45
#: per-(band, sig) occupancy cap: with r sign bits a band has only 2^r
#: sig values, so bucket size is Θ(n/2^r) and uncapped same-bucket pair
#: generation is quadratic (the ×10 probe measured 25× on the earlier
#: uncapped 2-bit form).  Only the first CAP vectors of a bucket
#: (vec_id asc) generate candidates — the same degenerate-block policy
#: as the fuzzy-match and radius-join caps.
_RHP_BUCKET_CAP = 128
#: per-vector output bound (cosine desc, vec_b asc), as in the other
#: similarity joins: worst-case output K·n even on replica cliques
_RHP_TOPK = 10


def _rhp_weights() -> list[list[int]]:
    """Deterministic pseudo-random hyperplane matrix (bits × dim),
    zero-centered integers in [-6, 6], baked as LITERALS into both
    engines' plans so cross-engine sign parity is trivial.  Seeded PRNG,
    not a modular formula: the earlier ((i*31 + j*17) % 13) - 6 scheme
    made hyperplane i and i+13 IDENTICAL (period-13 in i) and adjacent
    rows cyclic shifts of each other, collapsing the effective band
    count (measured recall 0.44 vs the 0.90 analytic bound)."""
    import random

    rng = random.Random(0x5EED)
    return [
        [rng.randint(-6, 6) for _ in range(_RHP_DIM)]
        for _ in range(_RHP_BANDS * _RHP_ROWS)
    ]


_RHP_W = _rhp_weights()


def _rhp_bit_sql(i: int) -> str:
    hp = ", ".join(f"CAST({w} AS DOUBLE)" for w in _RHP_W[i])
    return (
        f"CASE WHEN list_dot_product(v, [{hp}]) >= 0 THEN '1' ELSE '0' END"
    )


def _rhp_bands_sql() -> str:
    """DuckDB: one (band, sig) struct per band, unnested to rows."""
    bands = []
    for b in range(_RHP_BANDS):
        bits = " || ".join(
            _rhp_bit_sql(b * _RHP_ROWS + r) for r in range(_RHP_ROWS)
        )
        bands.append(f"{{'band': {b}, 'sig': {bits}}}")
    return f"unnest([{', '.join(bands)}])"


def _rhp_bits_expr() -> str:
    """Spark: the whole signature as ONE F.expr string, not per-literal
    Columns — bits × dim F.lit() calls are one py4j round-trip each
    (measured 5.4 s of pure driver-side expression construction at
    48×64); a SQL string with the same literals parses JVM-side in
    milliseconds.  The zip_with + left-fold aggregate matches dot() —
    and therefore DuckDB's list_dot_product summation order — exactly."""
    matrix = ", ".join(
        "array(" + ", ".join(f"{w}D" for w in row) + ")" for row in _RHP_W
    )
    return (
        f"transform(array({matrix}), hp -> CASE WHEN "
        "aggregate(zip_with(v, hp, (x, y) -> x * y), 0D, "
        "(acc, z) -> acc + z) >= 0 THEN '1' ELSE '0' END)"
    )


def _rhp_bands_expr() -> str:
    return (
        f"explode(transform(sequence(0, {_RHP_BANDS - 1}), b -> struct("
        f"CAST(b AS INT) AS band, "
        f"array_join(slice(__bits, b * {_RHP_ROWS} + 1, {_RHP_ROWS}), '') "
        "AS sig)))"
    )


def _rhp_band_rows(vecs: DataFrame) -> DataFrame:
    """(vec_id, band, sig) band-signature rows — one map-side projection
    per vector, shared by q_ann_hyperplane_lsh and q_hard_negatives."""
    return (
        vecs.select("vec_id", F.expr(_rhp_bits_expr()).alias("__bits"))
        .select("vec_id", F.expr(_rhp_bands_expr()).alias("bs"))
        .select("vec_id", "bs.band", "bs.sig")
    )


@register(
    "q_ann_hyperplane_lsh",
    f"""
  WITH {VECS_SQL},
  __rhp AS (
    SELECT * FROM __normed WHERE len(v) = {_RHP_DIM}
  ),
  __bands0 AS (
    SELECT vec_id, u.band AS band, u.sig AS sig FROM (
      SELECT vec_id, {_rhp_bands_sql()} AS u FROM __rhp)
  ),
  __bands AS (
    SELECT vec_id, band, sig FROM (
      SELECT *, row_number() OVER (
        PARTITION BY band, sig ORDER BY vec_id) AS __bn
      FROM __bands0) WHERE __bn <= {_RHP_BUCKET_CAP}
  ),
  __cand AS (
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM __bands a JOIN __bands b
      ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
  )
  SELECT vec_a, vec_b, round(cos_raw, 6) AS cosine FROM (
    SELECT c.vec_a, c.vec_b, {COS_SQL} AS cos_raw
    FROM __cand c
    JOIN __rhp a ON a.vec_id = c.vec_a
    JOIN __rhp b ON b.vec_id = c.vec_b
    WHERE {COS_SQL} >= {_RHP_COS_T}
  )
  QUALIFY row_number() OVER (PARTITION BY vec_a
                             ORDER BY cos_raw DESC, vec_b) <= {_RHP_TOPK}
""",
    doc="Random-hyperplane LSH (SimHash for cosine), banded OR-"
    f"amplification: {_RHP_BANDS} bands × {_RHP_ROWS} sign bits from "
    "deterministic integer hyperplanes; a pair is a candidate when ANY "
    "band collides, then exact cosine >= "
    f"{_RHP_COS_T} verifies candidates only — the same "
    "band/verify architecture as q_minhash_lsh, transplanted from "
    "Jaccard to angle space. The signature is one map-side projection "
    "per row (16 64-term dot products); at 100 TB the join touches "
    "only same-band-bucket pairs, the corpus never self-joins, and "
    "band count tunes the recall/candidate trade-off analytically "
    "(P = 1-(1-(1-θ/π)^rows)^bands). Two bounds keep degenerate "
    f"buckets from going quadratic: per-(band,sig) occupancy cap "
    f"{_RHP_BUCKET_CAP} (vec_id asc — a {_RHP_ROWS}-bit band has only "
    f"{2 ** _RHP_ROWS} sig values, so an uncapped bucket is still "
    "Θ(n/2^rows)) and top-"
    f"{_RHP_TOPK} emission per vector (cosine desc). Seeded-PRNG "
    "integer hyperplane weights (independent rows — a modular formula "
    "measured recall 0.44 from period-13 duplicate hyperplanes) are "
    "baked as literals into both engines, so signatures are "
    "bit-identical; cosines use the shared left-fold double kernel. "
    "Measured at sf0.1: recall 0.889 vs the exact ≥0.45 top-10 ground "
    "truth (analytic 0.90), ×10 probe ratio 1.0×.",
)
def q_ann_hyperplane_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # off-dimension vectors are excluded on BOTH sides: the 64-term
    # hyperplane dot would silently yield NULL (-> sign bit "0") on
    # Spark while DuckDB's list_dot_product errors outright
    vecs = vectors(spark, sf_dir).filter(F.size("v") == _RHP_DIM)
    bands = _rhp_band_rows(vecs)
    w_bucket = Window.partitionBy("band", "sig").orderBy("vec_id")
    bands = (
        bands.withColumn("__bn", F.row_number().over(w_bucket))
        .filter(F.col("__bn") <= _RHP_BUCKET_CAP)
        .drop("__bn")
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        )
        .distinct()
    )
    va = vecs.select(
        F.col("vec_id").alias("vec_a"),
        F.col("v").alias("v_a"),
        F.col("norm").alias("norm_a"),
    )
    vb = vecs.select(
        F.col("vec_id").alias("vec_b"),
        F.col("v").alias("v_b"),
        F.col("norm").alias("norm_b"),
    )
    cos = dot(F.col("v_a"), F.col("v_b")) / (
        F.col("norm_a") * F.col("norm_b")
    )
    w_k = Window.partitionBy("vec_a").orderBy(F.desc("cos_raw"), "vec_b")
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .withColumn("cos_raw", cos)
        .filter(F.col("cos_raw") >= _RHP_COS_T)
        .withColumn("__rk", F.row_number().over(w_k))
        .filter(F.col("__rk") <= _RHP_TOPK)
        .select("vec_a", "vec_b", F.round("cos_raw", 6).alias("cosine"))
    )


# --- incremental embedding near-dup: delta vectors vs the band index ------


def rhp_band_index(vecs: DataFrame) -> DataFrame:
    """The capped random-hyperplane band index (identical construction
    to q_ann_hyperplane_lsh): checkpointed because every consumer joins
    it at least twice — at 100 TB this is the stored table an ingest
    tier maintains, bucketed by (band, sig)."""
    w_bucket = Window.partitionBy("band", "sig").orderBy("vec_id")
    return cut(
        _rhp_band_rows(vecs)
        .withColumn("__bn", F.row_number().over(w_bucket))
        .filter(F.col("__bn") <= _RHP_BUCKET_CAP)
        .drop("__bn"),
        "rhp_band_index",
    )


#: shared by q_incremental_embedding_neardup and its streaming twin
#: (streaming_queries.q_stream_incremental_embedding_neardup):
#: identical semantics, so identical oracle
INCREMENTAL_EMBEDDING_SQL = f"""
  WITH {VECS_SQL},
  __rhp AS (
    SELECT * FROM __normed WHERE len(v) = {_RHP_DIM}
  ),
  __bands0 AS (
    SELECT vec_id, u.band AS band, u.sig AS sig FROM (
      SELECT vec_id, {_rhp_bands_sql()} AS u FROM __rhp)
  ),
  __bands AS (
    SELECT vec_id, band, sig FROM (
      SELECT *, row_number() OVER (
        PARTITION BY band, sig ORDER BY vec_id) AS __bn
      FROM __bands0) WHERE __bn <= {_RHP_BUCKET_CAP}
  ),
  __cand AS (
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM __bands a JOIN __bands b
      ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
    WHERE a.vec_id % 10 = 7 OR b.vec_id % 10 = 7
  )
  SELECT c.vec_a, c.vec_b, round({COS_SQL}, 6) AS cosine
  FROM __cand c
  JOIN __rhp a ON a.vec_id = c.vec_a
  JOIN __rhp b ON b.vec_id = c.vec_b
  WHERE {COS_SQL} >= {_RHP_COS_T}
"""


@register(
    "q_incremental_embedding_neardup",
    INCREMENTAL_EMBEDDING_SQL,
    doc="Incremental embedding near-dup: a simulated ingest delta "
    "(vec_id % 10 = 7) probes the FULL capped random-hyperplane band "
    "index and emits only cosine near-dup pairs touching the delta — "
    "the angle-space twin of q_incremental_minhash, completing the "
    "dedupe-on-ingest family across both modalities. The Spark plan is "
    "probe-shaped (delta band signatures joined against the stored "
    "index, never self-join-then-filter); per-ingest candidate volume "
    "scales with the delta, per-bucket work is bounded by "
    f"|delta ∩ bucket| × {_RHP_BUCKET_CAP}, and exact-cosine verify "
    "(the shared left-fold dot kernel) runs on delta-touching "
    "candidates only.",
)
def q_incremental_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = vectors(spark, sf_dir).filter(F.size("v") == _RHP_DIM)
    idx = rhp_band_index(vecs)
    delta = idx.filter(F.col("vec_id") % 10 == 7).select(
        F.col("vec_id").alias("d_id"), "band", "sig"
    )
    # pinned-width pair exchange: the q_minhash_lsh discipline — pair
    # rows are two longs, and AQE's byte-based coalescing would
    # otherwise collapse the dedup + verify to a handful of tasks
    n = spark.sparkContext.defaultParallelism
    cand = (
        delta.join(
            idx.select(F.col("vec_id").alias("i_id"), "band", "sig"),
            ["band", "sig"],
        )
        .filter(F.col("i_id") != F.col("d_id"))
        .select(
            F.least("d_id", "i_id").alias("vec_a"),
            F.greatest("d_id", "i_id").alias("vec_b"),
        )
        .repartition(n, "vec_a", "vec_b")
        .dropDuplicates(["vec_a", "vec_b"])
    )
    return verify_cosine_pairs(vecs, cand)


def verify_cosine_pairs(vecs: DataFrame, cand: DataFrame) -> DataFrame:
    """Exact-cosine verify of candidate (vec_a, vec_b) pairs against the
    ≥ :data:`_RHP_COS_T` threshold — two vec-keyed joins carrying the
    shared left-fold dot kernel; shared by the batch and streaming
    incremental embedding near-dup forms (cand may be a streaming
    DataFrame — the vector sides are static)."""
    va = vecs.select(
        F.col("vec_id").alias("vec_a"),
        F.col("v").alias("v_a"),
        F.col("norm").alias("norm_a"),
    )
    vb = vecs.select(
        F.col("vec_id").alias("vec_b"),
        F.col("v").alias("v_b"),
        F.col("norm").alias("norm_b"),
    )
    cos = dot(F.col("v_a"), F.col("v_b")) / (
        F.col("norm_a") * F.col("norm_b")
    )
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .withColumn("cos_raw", cos)
        .filter(F.col("cos_raw") >= _RHP_COS_T)
        .select("vec_a", "vec_b", F.round("cos_raw", 6).alias("cosine"))
    )


# --- hard-negative mining --------------------------------------------------


@register(
    "q_hard_negatives",
    f"""
  WITH {VECS_SQL},
  __rhp AS (
    SELECT * FROM __normed WHERE len(v) = {_RHP_DIM}
  ),
  __bands0 AS (
    SELECT vec_id, u.band AS band, u.sig AS sig FROM (
      SELECT vec_id, {_rhp_bands_sql()} AS u FROM __rhp)
  ),
  __bands AS (
    SELECT vec_id, band, sig FROM (
      SELECT *, row_number() OVER (
        PARTITION BY band, sig ORDER BY vec_id) AS __bn
      FROM __bands0) WHERE __bn <= {_RHP_BUCKET_CAP}
  ),
  __abands AS (SELECT * FROM __bands0 WHERE vec_id < 8),
  __cand AS (
    SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS negative_id
    FROM __abands q JOIN __bands c
      ON q.band = c.band AND q.sig = c.sig AND q.vec_id <> c.vec_id
  ),
  __scored AS (
    SELECT x.query_id, a.label AS query_label,
           x.negative_id, b.label AS negative_label,
           {COS_SQL} AS cos_raw
    FROM __cand x
    JOIN __rhp a ON a.vec_id = x.query_id
    JOIN __rhp b ON b.vec_id = x.negative_id
    WHERE a.label <> b.label
  )
  SELECT query_id, query_label, negative_id, negative_label,
         round(cos_raw, 6) AS cosine, rank
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cos_raw DESC, negative_id) AS rank
    FROM __scored)
  WHERE rank <= 5
""",
    doc="Hard-negative mining for contrastive training: for each anchor, "
    "the top-5 most-similar vectors with a DIFFERENT label — the "
    "near-miss negatives that make a contrastive/triplet batch "
    "informative (random negatives are trivially separable).  Scale "
    "shape: the hyperplane-LSH band machinery PREFILTERS candidates — "
    "anchors' band signatures (O(|anchors|·bands) rows) broadcast "
    "against the corpus band table, so only same-bucket vectors are "
    "ever cosine-scored; the earlier BNLJ form re-scanned the whole "
    "corpus per anchor batch (×10 probe 3.5×, scan-bound). Exact "
    "cosine + per-anchor top-5 verify candidates only. Measured recall "
    "vs the exact BNLJ ground truth: 0.85 at sf0.001/sf0.01, 0.775 at "
    "sf0.1 (asserted in tests/test_llm_ops.py, reported in SCALING.md) "
    "— acceptable for a no-threshold top-k task where the true 5th "
    "negative can sit at an angle the bands are not tuned for.",
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = vectors(spark, sf_dir).filter(F.size("v") == _RHP_DIM)
    bands = _rhp_band_rows(vecs)
    # corpus side: per-(band,sig) occupancy cap, exactly as
    # q_ann_hyperplane_lsh bounds degenerate buckets
    w_bucket = Window.partitionBy("band", "sig").orderBy("vec_id")
    corpus_bands = (
        bands.withColumn("__bn", F.row_number().over(w_bucket))
        .filter(F.col("__bn") <= _RHP_BUCKET_CAP)
        .drop("__bn")
    )
    # anchor side: UNCAPPED (an anchor past the cap position must still
    # mine its bucket) and tiny — 8 anchors × bands rows — so broadcast
    anchor_bands = bands.filter(F.col("vec_id") < 8)
    cand = (
        F.broadcast(anchor_bands.alias("q"))
        .join(
            corpus_bands.alias("c"),
            (F.col("q.band") == F.col("c.band"))
            & (F.col("q.sig") == F.col("c.sig"))
            & (F.col("q.vec_id") != F.col("c.vec_id")),
        )
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("negative_id"),
        )
        .distinct()
    )
    # anchors-only: cand.query_id < 8 by construction (anchor_bands above),
    # so filtering here is semantically identical and keeps the broadcast
    # O(|anchors|) instead of O(corpus) — the full-table broadcast would
    # ship every embedding to every executor at the 100 TB target.
    qa = vecs.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("v").alias("v_a"),
        F.col("norm").alias("norm_a"),
    )
    nb = vecs.select(
        F.col("vec_id").alias("negative_id"),
        F.col("label").alias("negative_label"),
        F.col("v").alias("v_b"),
        F.col("norm").alias("norm_b"),
    )
    cos = dot(F.col("v_a"), F.col("v_b")) / F.nullif(
        F.col("norm_a") * F.col("norm_b"), F.lit(0.0)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_raw"), "negative_id"
    )
    return (
        cand.join(F.broadcast(qa), "query_id")
        .join(nb, "negative_id")
        .filter(F.col("query_label") != F.col("negative_label"))
        .withColumn("cos_raw", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id",
            "query_label",
            "negative_id",
            "negative_label",
            F.round("cos_raw", 6).alias("cosine"),
            "rank",
        )
    )


# --- SemDeDup: embedding-cluster near-duplicate pruning -------------------

#: number of seed centroids (first k vec_ids — deterministic init, fixed
#: k so assignment stays k·n at any corpus size, same rule as kmeans)
_SEM_K = 32
#: cosine threshold above which two same-cluster vectors are duplicates
_SEM_TAU = 0.30
#: per-cluster candidate cap for the pairwise stage: bounds the
#: quadratic at C(cap,2) per cluster; overflow rows are auto-kept (at
#: production scale the fix is a larger k, not a bigger cap)
_SEM_CAP = 256


@register(
    "q_semdedup",
    f"""
  WITH {VECS_SQL},
  __centroids AS (
    SELECT vec_id AS centroid_id, v, norm FROM __normed
    ORDER BY vec_id LIMIT {_SEM_K}
  ),
  __assign AS (
    SELECT vec_id, v, norm, centroid_id FROM (
      SELECT a.vec_id, a.v, a.norm, b.centroid_id,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY list_dot_product(a.v, b.v) / (a.norm * b.norm) DESC,
                        b.centroid_id) AS rn
      FROM __normed a CROSS JOIN __centroids b)
    WHERE rn = 1
  ),
  __ranked AS (
    SELECT vec_id, v, norm, centroid_id,
           row_number() OVER (PARTITION BY centroid_id
                              ORDER BY vec_id) AS r
    FROM __assign
  ),
  __cand AS (SELECT * FROM __ranked WHERE r <= {_SEM_CAP}),
  __dropped AS (
    SELECT DISTINCT b.vec_id
    FROM __cand a JOIN __cand b
      ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v) / (a.norm * b.norm) > {_SEM_TAU}
  )
  SELECT r.centroid_id AS cluster_id,
         count(*) AS n_vectors,
         CAST(count(d.vec_id) AS BIGINT) AS n_dropped,
         round(1.0 - count(d.vec_id) * 1.0 / count(*), 6) AS keep_rate
  FROM __ranked r LEFT JOIN __dropped d ON d.vec_id = r.vec_id
  GROUP BY r.centroid_id
""",
    doc="SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic "
    "near-duplicate pruning — cluster embeddings, then inside each "
    "cluster drop any vector with a higher-priority (lower-id) "
    f"neighbor above cosine {_SEM_TAU}. The clustering makes the "
    "pairwise stage tractable: candidate pairs exist only within a "
    "cluster, and a per-cluster occupancy cap ({} rows) bounds any "
    "one cluster's fan-out at C(cap,2) — the same discipline as the "
    "LSH bucket caps. Scale shape: centroid assignment is a broadcast "
    "max_by probe in the scan stage (k fixed), the self-join shuffles "
    "on cluster_id only, and the output is the k-row keep-rate "
    "profile a curation run reports.".format(_SEM_CAP),
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    vecs = vectors(spark, sf_dir)
    centroids = vecs.orderBy("vec_id").limit(_SEM_K).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cnorm"),
    )
    cos_c = dot(F.col("v"), F.col("cv")) / F.nullif(
        F.col("norm") * F.col("cnorm"), F.lit(0.0)
    )
    # argmax via max_by (see q_kmeans_step: the window form shuffles 64n
    # embedding copies; the partial aggregate collapses in the scan)
    assign = (
        vecs.crossJoin(F.broadcast(centroids))
        .withColumn("cos_c", cos_c)
        .groupBy("vec_id")
        .agg(
            F.max_by(
                "centroid_id",
                F.struct(
                    F.col("cos_c").alias("c"),
                    (-F.col("centroid_id")).alias("t"),
                ),
            ).alias("centroid_id"),
            F.first("v").alias("v"),
            F.first("norm").alias("norm"),
        )
    )
    wc = Window.partitionBy("centroid_id").orderBy("vec_id")
    ranked = assign.withColumn("r", F.row_number().over(wc))
    cand = ranked.filter(F.col("r") <= _SEM_CAP)
    a = cand.select(
        F.col("centroid_id").alias("cid"),
        F.col("vec_id").alias("a_id"),
        F.col("v").alias("av"),
        F.col("norm").alias("an"),
    )
    b = cand.select(
        F.col("centroid_id").alias("cid"),
        F.col("vec_id").alias("b_id"),
        F.col("v").alias("bv"),
        F.col("norm").alias("bn"),
    )
    cos_ab = dot(F.col("av"), F.col("bv")) / F.nullif(
        F.col("an") * F.col("bn"), F.lit(0.0)
    )
    dropped = (
        a.join(b, (F.col("a_id") < F.col("b_id")) & (a.cid == b.cid))
        .filter(cos_ab > _SEM_TAU)
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
    )
    return (
        ranked.join(
            dropped.withColumn("is_dropped", F.lit(1)), "vec_id", "left"
        )
        .groupBy(F.col("centroid_id").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.count("is_dropped").alias("n_dropped"),
            F.round(
                1.0 - F.count("is_dropped") / F.count(F.lit(1)), 6
            ).alias("keep_rate"),
        )
    )
