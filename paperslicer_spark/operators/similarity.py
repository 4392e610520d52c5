"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k as the exact baseline and a sign-LSH bucketed
variant as the scale path. Dot products stay JVM-side via
``aggregate``/``zip_with`` higher-order functions — no Python UDF.

Scale path notes: brute force is a broadcast of the (small) query set
against the corpus — linear scan, embarrassingly parallel. The LSH
variant buckets by leading-dimension sign bits so each query only
scans its bucket (probing neighbors of the bucket restores recall);
at 100 TB you'd persist the bucketed table sorted by bucket for
partition pruning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    ))


def cosine(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def euclid(a, b):
    """Euclidean distance, JVM-side (zip_with + aggregate)."""
    return F.sqrt(F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double"))
                   * (x.cast("double") - y.cast("double"))),
        F.lit(0.0),
        lambda acc, v: acc + v,
    ))


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                     id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, rank, cos).

    Ties broken by neighbor id for determinism; self-matches excluded.
    The query side is broadcast (small by contract).
    """
    # norms are materialized per ROW before the cross join — inlined in
    # the cosine they would be re-evaluated per (query, neighbor) PAIR
    # (k·|corpus| + |queries|·|corpus| extra HOF folds). Same fold
    # order as `cosine`, so the quotient is bit-identical.
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("qvec"))
    q = q.select("query_id", "qvec", _norm(F.col("qvec")).alias("_qn"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("cvec"))
    c = c.select("neighbor_id", "cvec", _norm(F.col("cvec")).alias("_cn"))
    scored = (
        F.broadcast(q).crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            # rounded BEFORE ranking: two engines computing the same
            # cosine in different fold orders can differ below 1e-6,
            # flipping near-tie ranks — 6dp + neighbor_id tiebreak makes
            # the rank deterministic across engines
            F.round(_dot(F.col("qvec"), F.col("cvec"))
                    / (F.col("_qn") * F.col("_cn")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def sign_lsh_bucket(vec_col, bits: int = 8):
    """Sign-bit bucket key from the first ``bits`` dimensions."""
    return F.array_join(
        F.transform(
            F.slice(vec_col, 1, bits),
            lambda x: F.when(x >= 0, F.lit("1")).otherwise(F.lit("0")),
        ),
        "",
    )


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding",
             n_lists: int = 16, n_probe: int = 3, seed: int = 42):
    """IVF-style approximate top-k: KMeans-partition the corpus into
    ``n_lists`` inverted lists; each query scans only its ``n_probe``
    nearest lists. Returns (result_df, model).

    At 100 TB the corpus table is written partitioned/sorted by
    ``list_id`` so probing prunes file scans; here the equi-join on
    ``list_id`` expresses the same pruning.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import Window

    feat = corpus.select(
        F.col(id_col), array_to_vector(F.col(vec_col)).alias("features"))
    model = KMeans(k=n_lists, seed=seed, featuresCol="features").fit(feat)
    assigned = model.transform(feat).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("prediction").alias("list_id"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("cvec")).join(
        assigned, "neighbor_id")

    centers = [(i, [float(x) for x in ctr])
               for i, ctr in enumerate(model.clusterCenters())]
    centers_df = F.broadcast(
        corpus.sparkSession.createDataFrame(
            centers, "list_id int, center array<double>"))
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("qvec"))
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("list_id").asc())
    probes = (
        F.broadcast(q).crossJoin(centers_df)
        # probe ranking must use the SAME metric KMeans assigned members
        # by (Euclidean) — ranking lists by -dot(q, center) silently
        # probes the wrong lists for unnormalized embeddings
        .withColumn("dist", euclid(F.col("qvec"), F.col("center")))
        .withColumn("pr", F.row_number().over(probe_w))
        .where(F.col("pr") <= n_probe)
        .select("query_id", "qvec", "list_id")
    )
    scored = (
        F.broadcast(probes).join(c, "list_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                F.round(cosine(F.col("qvec"), F.col("cvec")), 6).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc())
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )
    return out, model


def ivf_assign(corpus: DataFrame, centroids: DataFrame,
               id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """Deterministic nearest-centroid assignment: ``(id, list_id)``.

    Distance is Euclidean rounded to 6dp BEFORE the argmin with a
    ``list_id`` tiebreak, so a SQL engine recomputing the same
    distances agrees exactly (the q12 cross-engine tie rule).
    ``centroids`` is ``(list_id int, center array<double>)`` — small by
    contract, broadcast. The argmin is ``min_by`` under a ``groupBy``
    (map-side partial agg), never a window over the exploded
    corpus×centroids rows — at 100 TB the assignment output is a thin
    (id, list_id) table written partitioned by ``list_id``.
    """
    scored = (
        corpus.select(F.col(id_col), F.col(vec_col).alias("_v"))
        .crossJoin(F.broadcast(centroids))
        .select(
            id_col,
            F.col("list_id"),
            F.round(euclid(F.col("_v"), F.col("center")), 6).alias("dist"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.min_by("list_id", F.struct("dist", "list_id")).alias("list_id"))


def ivf_topk_frozen(corpus: DataFrame, queries: DataFrame,
                    centroids: DataFrame, k: int = 5, n_probe: int = 3,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """IVF top-k against a FROZEN centroid table — fully deterministic
    and SQL-replayable (the x15 oracle path): train once offline
    (``ivf_topk``'s KMeans, or any trainer), persist the centroids,
    then assignment + probing + scoring are pure relational ops both
    engines can replay. This mirrors the production shape too — at
    100 TB the model is trained on a sample and applied everywhere;
    training is never part of the query plan.
    """
    assigned = ivf_assign(corpus, centroids, id_col, vec_col) \
        .withColumnRenamed(id_col, "neighbor_id")
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("cvec")).join(
        assigned, "neighbor_id")

    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("qvec"))
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("list_id").asc())
    probes = (
        F.broadcast(q).crossJoin(F.broadcast(centroids))
        .withColumn("dist", F.round(euclid(F.col("qvec"), F.col("center")), 6))
        .withColumn("pr", F.row_number().over(probe_w))
        .where(F.col("pr") <= n_probe)
        .select("query_id", "qvec", "list_id")
    )
    scored = (
        F.broadcast(probes).join(c, "list_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                F.round(cosine(F.col("qvec"), F.col("cvec")), 6).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def cosine_dup_pairs(corpus: DataFrame, threshold: float = 0.9,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     bits: int | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS: ``(id_a, id_b, cos)``
    with ``cos ≥ threshold`` and ``id_a < id_b``.

    ``bits=None`` is the EXACT all-pairs baseline (upper triangle of a
    self cross join) — quadratic by definition, the embedding analog of
    q11's exact n-gram Jaccard. At scale pass ``bits`` to block by the
    sign-LSH bucket: candidates become an equi-join on the bucket key
    (never a cross join); recall < 1 by design — near-dups whose lead
    dimensions straddle a sign boundary land in different buckets (the
    multi-band MinHash-LSH pattern in dedup.py restores recall for the
    text domain; for embeddings, probe multiple rotations).
    Cosines are rounded to 6dp BEFORE thresholding so the SQL oracle
    agrees exactly at the boundary."""
    a = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    if bits:
        a = a.withColumn("bucket", sign_lsh_bucket(F.col("va"), bits))
        b = b.withColumn("bucket", sign_lsh_bucket(F.col("vb"), bits))
        j = a.join(b, "bucket").where(F.col("id_a") < F.col("id_b"))
    else:
        j = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
    return (
        j.select("id_a", "id_b",
                 F.round(cosine(F.col("va"), F.col("vb")), 6).alias("cos"))
        .where(F.col("cos") >= threshold)
    )


def quantize_embeddings(df: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Scalar int8 quantization with per-vector max-abs scale — the
    standard 4× embedding-storage reduction, plus the fidelity number
    a pipeline needs to decide it was safe: cosine between the
    original and the dequantized vector (6dp, matching the engine's
    cosine convention).

    Pure JVM higher-order functions on the base scan, zero shuffles;
    the DuckDB twin (x36) runs the same expressions with IEEE-double
    arithmetic so the rounded values agree exactly. All-zero vectors
    quantize to zeros with scale 0 and drift 0 by convention.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(v, F.abs))
    qvec = F.transform(
        v, lambda x: F.round(x * 127.0 / scale).cast("int"))
    dq = F.transform(
        qvec, lambda q: q.cast("double") * scale / 127.0)
    drift = F.when(scale == 0.0, F.lit(0.0)) \
        .otherwise(F.round(cosine(v, dq), 6))
    zeros = F.transform(v, lambda x: F.lit(0).cast("int"))
    return df.select(
        F.col(id_col),
        F.round(scale, 6).alias("scale"),
        F.when(scale == 0.0, zeros).otherwise(qvec).alias("qvec"),
        drift.alias("cos_fidelity"),
    )


def semdedup(corpus: DataFrame, centroids: DataFrame,
             threshold: float = 0.7, id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by embedding — cluster the corpus with a frozen
    coarse quantizer, find within-cluster pairs with cosine ≥
    ``threshold``, connect them into duplicate groups, and keep one
    representative (the minimum id) per group.

    Output: one row per corpus vector — ``(vec_id, list_id, rep_id,
    is_rep)``; a dedup pass keeps ``is_rep`` rows. Fully deterministic
    and SQL-replayable (6dp-rounded cosines, min-id representatives,
    the frozen-centroid x15 pattern).

    Scale notes (100 TB): the pair search is an equi-join on
    ``list_id`` — quadratic only WITHIN a cluster, which is the
    algorithm's own contract (SemDeDup runs k-means with k large
    enough that clusters are ~10^5 vectors; cluster count grows with
    the corpus, cluster size does not). Assignment is the broadcast
    min_by argmin (ivf_assign); the duplicate-group closure reuses
    connected_components (bucketed, checkpointed, no driver graph).
    """
    from paperslicer_spark.operators.dedup import connected_components

    assigned = ivf_assign(corpus, centroids, id_col, vec_col)
    withvec = assigned.join(
        corpus.select(F.col(id_col), F.col(vec_col).alias("_v")), id_col)
    l = withvec.select(F.col(id_col).alias("id_a"), "list_id",
                       F.col("_v").alias("_va"))
    r = withvec.select(F.col(id_col).alias("id_b"), "list_id",
                       F.col("_v").alias("_vb"))
    pairs = (
        l.join(r, "list_id")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                F.round(cosine(F.col("_va"), F.col("_vb")), 6).alias("cos"))
        .where(F.col("cos") >= threshold)
    )
    groups = connected_components(pairs, "id_a", "id_b")
    return (
        assigned.join(groups, assigned[id_col] == groups["node"], "left")
        .select(
            F.col(id_col), F.col("list_id"),
            F.coalesce(F.col("label"), F.col(id_col)).alias("rep_id"),
            (F.coalesce(F.col("label"), F.col(id_col)) == F.col(id_col))
            .alias("is_rep"),
        )
    )


def kmeans_lloyd(corpus: DataFrame, k: int = 8, iters: int = 2,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 dim: int | None = None) -> DataFrame:
    """Distributed Lloyd's k-means over an embedding column — the
    trainer for the coarse quantizers the IVF/SemDeDup paths consume
    frozen (x15/x55 read their centroids as given; this is where they
    come from).

    Fully deterministic and SQL-replayable:
    - init: the ``k`` vectors with the smallest ``(md5(id), id)`` —
      a seeded shuffle, not ``rand()``;
    - assignment: broadcast centroids, per-row argmin of the
      6dp-rounded Euclidean distance with ``list_id`` tiebreak (the
      x15 cross-engine tie rule);
    - update: per-dimension mean, rounded to 6dp BEFORE the next
      assignment so both engines iterate from bit-identical centroids
      (double-summation order jitter lives below the rounding grid).

    Spark shape per iteration: one broadcast of the k×dim centroid
    relation + one ``groupBy(id).agg(min(struct(dist, list_id)))``
    argmin (map-side combined) + one ``groupBy(list_id)`` update agg
    whose partials are ``k × (dim + 1)`` doubles per partition — the
    corpus is scanned ``iters + 1`` times and never shuffled by more
    than the thin ``(id, list_id)`` assignment. The per-dim means are
    ``dim`` independent ``avg`` columns (codegen partial agg), not an
    explode — the update shuffle carries k rows per partition.

    An empty cluster simply drops out (both engines derive the next
    round's centroid relation from the same assignment), matching the
    unrolled SQL oracle. Returns the final assignment
    ``(id, list_id, dist)``.
    """
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])

    v = corpus.select(
        F.col(id_col).alias("_id"),
        F.transform(F.col(vec_col),
                    lambda x: x.cast("double")).alias("_v"))

    # seeded init: global top-k by (md5(id), id) is a
    # TakeOrderedAndProject (per-partition top-k, k-row driver
    # merge), NEVER a global window sort of the corpus; the
    # row_number that assigns list_id runs on the k-row result
    seed_h = F.md5(F.col("_id").cast("string"))
    seeds = v.select("_id", "_v", seed_h.alias("_h")) \
        .orderBy("_h", "_id").limit(k)
    cents = (
        seeds.withColumn(
            "list_id",
            F.row_number().over(Window.orderBy("_h", "_id"))
            .cast("int"))
        .select("list_id",
                F.transform("_v", lambda x: F.round(x, 6))
                .alias("center"))
    )

    def _assign(cent_df):
        scored = v.crossJoin(F.broadcast(cent_df)).select(
            "_id", "list_id",
            F.round(euclid(F.col("_v"), F.col("center")), 6)
            .alias("dist"))
        best = scored.groupBy("_id").agg(
            F.min(F.struct("dist", "list_id")).alias("_b"))
        return best.select("_id", F.col("_b.list_id").alias("list_id"),
                           F.col("_b.dist").alias("dist"))

    spark = corpus.sparkSession
    for _ in range(iters):
        assigned = _assign(cents)
        means = [F.round(F.avg(F.col("_v").getItem(i)), 6)
                 .alias(f"_m{i}") for i in range(dim)]
        new_cents = (
            assigned.join(v, "_id")
            .groupBy("list_id")
            .agg(*means)
            .select("list_id",
                    F.array(*[F.col(f"_m{i}") for i in range(dim)])
                    .alias("center"))
        )
        # the centroid relation IS the model — k × dim doubles.
        # Materialize it on the driver each iteration (the MLlib
        # pattern) so iteration i+1's lineage starts from a literal
        # relation instead of replaying every prior assignment pass:
        # without this cut the plan re-scans the corpus once per
        # PRIOR iteration (measured 6 scans at iters=2, exponential
        # in iters). This is the documented tiny-relation collect
        # exception, not a corpus collect.
        cents = spark.createDataFrame(
            new_cents.collect(), "list_id int, center array<double>")

    return _assign(cents).select(
        F.col("_id").alias(id_col), "list_id", "dist")


def semantic_decontaminate(corpus: DataFrame, bench: DataFrame,
                           threshold: float = 0.95,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           bits: int | None = None) -> DataFrame:
    """Semantic benchmark decontamination — the embedding-space twin
    of dedup.decontaminate's n-gram overlap: flag every training
    vector whose cosine to ANY benchmark vector reaches ``threshold``
    (paraphrased eval leakage that token overlap misses).

    Output: ``(vec_id, bench_id, cos)`` — one row per contaminated
    training vector, paired with its best-matching benchmark item
    (ties: max cos first, then min bench_id; both 6dp-rounded before
    thresholding so the SQL oracle agrees at the boundary).

    Scale: the bench side is eval-suite-sized (thousands), so the
    exact path is a BROADCAST nested-loop — each executor scans its
    training partition once against the in-memory bench; nothing
    shuffles but the flagged survivors entering the per-vector top-1
    window (contamination-sized, not corpus-sized).  For a bench too
    large to broadcast, pass ``bits`` to block candidates by the
    shared sign-LSH bucket (equi-join; recall < 1 by design — the
    cosine_dup_pairs trade, documented there).
    """
    t = corpus.select(F.col(id_col).alias("t_id"),
                      F.col(vec_col).alias("tv"))
    b = bench.select(F.col(id_col).alias("bench_id"),
                     F.col(vec_col).alias("bv"))
    if bits:
        t = t.withColumn("bucket", sign_lsh_bucket(F.col("tv"), bits))
        b = b.withColumn("bucket", sign_lsh_bucket(F.col("bv"), bits))
        j = t.join(F.broadcast(b), "bucket")
    else:
        j = t.crossJoin(F.broadcast(b))
    hits = (j.select("t_id", "bench_id",
                     F.round(cosine(F.col("tv"), F.col("bv")), 6)
                     .alias("cos"))
            .where(F.col("cos") >= threshold))
    w = Window.partitionBy("t_id").orderBy(
        F.col("cos").desc(), F.col("bench_id").asc())
    return (hits.withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") == 1)
            .select(F.col("t_id").alias(id_col), "bench_id", "cos"))
