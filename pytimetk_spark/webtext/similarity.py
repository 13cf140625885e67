"""Similarity search over embedding columns (array<float>).

* ``cosine_topk_bruteforce`` — exact baseline: broadcast the (small) query
  set against the corpus, native ``zip_with``/``aggregate`` dot products,
  per-query top-k via window rank. One corpus scan, no Python.
* ``lsh_bucket_ann`` — scale path: random-hyperplane sign buckets
  (Charikar 2002) with optional multiprobe (flip 1 bit); candidates only
  within matching buckets, so cost is corpus/2^planes per query bucket.

At 100 TB the bruteforce path is a full-scan-per-query-batch (fine for
offline eval batches, broadcast keeps it one pass); the LSH path prunes the
scan by bucket pushdown when the corpus is stored partitioned by bucket.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def vector_norm(c: Column) -> Column:
    """L2 norm of an array column as a TOP-LEVEL projection expression —
    evaluated once per row."""
    return F.sqrt(
        F.aggregate(c, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v)
    )


def normalize_embeddings(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Rewrite ``vec_col`` as its L2-normalized form.

    NOTE (scale): the scalar norm ends up INSIDE the per-element transform
    lambda after Catalyst's CollapseProject (higher-order-function bodies
    re-evaluate outer sub-expressions per element), so this costs O(d^2)
    per row. The hot similarity/dedup paths therefore avoid materializing
    normalized vectors entirely: they carry ``vector_norm`` as a column
    and divide the aggregated dot product by the norm product (cosine ==
    dot(a,b)/(|a||b|)), and hyperplane sign buckets operate on RAW vectors
    (sign is scale-invariant). This function remains for callers that
    genuinely need stored unit vectors (e.g. the IVF KMeans geometry)."""
    norm = F.sqrt(
        F.aggregate(
            F.col(vec_col), F.lit(0.0), lambda acc, v: acc + v.cast("double") * v
        )
    )
    return df.withColumn(
        vec_col,
        F.transform(F.col(vec_col), lambda v: v.cast("double") / norm),
    )


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine for each query vector. ``queries`` must be
    small (it is broadcast); corpus is scanned once. cosine =
    dot(a,b)/(|a||b|) with the norms as per-row columns — no normalized
    copy of any vector is ever materialized (see normalize_embeddings)."""
    c = corpus.select(
        F.col(id_col),
        F.col(vec_col).alias("__cv__"),
        vector_norm(F.col(vec_col)).alias("__cn__"),
    )
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qv__"),
        vector_norm(F.col(vec_col)).alias("__qn__"),
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        query_id_col,
        id_col,
        (
            _dot(F.col("__cv__"), F.col("__qv__"))
            / (F.col("__cn__") * F.col("__qn__"))
        ).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy(query_id_col, "rank")
    )


def ivf_ann(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    seed: int = 42,
    fit_sample: int = 100_000,
) -> DataFrame:
    """IVF (inverted-file) ANN: KMeans-partition the corpus into ``n_cells``
    Voronoi cells (pyspark.ml, trained on a sample), search only the
    ``n_probe`` cells nearest each query. The classic FAISS-IVF recall/cost
    dial: cost ≈ corpus·n_probe/n_cells per query batch.

    The KMeans fit sees at most ``fit_sample`` corpus rows (uniform sample
    + limit) — centroids only need a representative sketch, and a
    full-corpus multi-pass fit at 100 TB would dominate the whole job.
    The fitted model then assigns the FULL corpus in one pass.

    At scale the corpus is stored partitioned by ``ivf_cell`` so probing
    prunes file scans (same pruning story as the tier tables)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    c = normalize_embeddings(corpus, vec_col)
    ml_df = c.select(
        F.col(id_col), F.col(vec_col), array_to_vector(F.col(vec_col)).alias("__feat__")
    )
    km = KMeans(k=n_cells, seed=seed, featuresCol="__feat__", predictionCol="ivf_cell")
    n_corpus = ml_df.count()
    fit_df = ml_df.select("__feat__")
    if n_corpus > fit_sample:
        # oversample 1.5x then hard-limit: deterministic bound on fit input
        frac = min(1.0, 1.5 * fit_sample / n_corpus)
        fit_df = fit_df.sample(False, frac, seed=seed).limit(fit_sample)
    model = km.fit(fit_df)
    assigned = model.transform(ml_df).select(
        id_col, F.col(vec_col).alias("__cv__"), "ivf_cell"
    )

    centers = [[float(x) for x in ctr] for ctr in model.clusterCenters()]
    q = normalize_embeddings(queries, vec_col).select(
        F.col(query_id_col), F.col(vec_col).alias("__qv__")
    )
    # distance of each query to every centroid → keep n_probe nearest cells
    cell_structs = [
        F.struct(
            F.lit(i).alias("cell"),
            _dot(F.col("__qv__"), F.array(*[F.lit(x) for x in ctr])).alias("sim"),
        )
        for i, ctr in enumerate(centers)
    ]
    probes = q.select(
        query_id_col,
        "__qv__",
        F.explode(
            F.slice(
                F.reverse(F.array_sort(F.array(*cell_structs), lambda a, b: F.when(a["sim"] < b["sim"], -1).when(a["sim"] > b["sim"], 1).otherwise(0))),
                1,
                n_probe,
            )
        ).alias("__p__"),
    ).select(query_id_col, "__qv__", F.col("__p__.cell").alias("ivf_cell"))

    scored = assigned.join(F.broadcast(probes), on="ivf_cell").select(
        query_id_col, id_col, _dot(F.col("__cv__"), F.col("__qv__")).alias("cosine")
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy(query_id_col, "rank")
    )


def _hyperplanes(n_planes: int, dim: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_planes)]


def _sign_bucket(vec: Column, planes: list[list[float]]) -> Column:
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(x) for x in p])
        proj = F.aggregate(
            F.zip_with(vec, plane, lambda v, w: v.cast("double") * w),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket.bitwiseOR(
            F.when(proj >= 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return bucket


def lsh_bucket_ann(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    n_planes: int = 10,
    multiprobe: bool = True,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: candidates share the query's hyperplane sign
    bucket (or differ by one flipped bit with ``multiprobe``), exact cosine
    then ranks within candidates. Buckets hash the RAW vectors (hyperplane
    sign is scale-invariant) and cosine divides the dot by norm columns —
    no normalization pass over the corpus."""
    dim = int(corpus.select(F.size(vec_col).alias("d")).first()["d"])
    planes = _hyperplanes(n_planes, dim, seed)

    c = corpus.select(
        F.col(id_col),
        F.col(vec_col).alias("__cv__"),
        vector_norm(F.col(vec_col)).alias("__cn__"),
        _sign_bucket(F.col(vec_col), planes).alias("__bucket__"),
    )
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qv__"),
        vector_norm(F.col(vec_col)).alias("__qn__"),
        _sign_bucket(F.col(vec_col), planes).alias("__qb__"),
    )
    if multiprobe:
        probes = F.explode(
            F.array(
                F.col("__qb__"),
                *[
                    F.col("__qb__").bitwiseXOR(F.lit(1 << i).cast("long"))
                    for i in range(n_planes)
                ],
            )
        ).alias("__bucket__")
        q = q.select(query_id_col, "__qv__", "__qn__", probes)
    else:
        q = q.withColumnRenamed("__qb__", "__bucket__")

    scored = c.join(F.broadcast(q), on="__bucket__").select(
        query_id_col,
        id_col,
        (
            _dot(F.col("__cv__"), F.col("__qv__"))
            / (F.col("__cn__") * F.col("__qn__"))
        ).alias("cosine"),
    ).groupBy(query_id_col, id_col).agg(F.max("cosine").alias("cosine"))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy(query_id_col, "rank")
    )
