"""Similarity search over embedding columns (array<float>).

- :func:`cosine_scores` / :func:`brute_force_topk` — exact baseline:
  broadcast the query vector(s), score every row with native array
  expressions (`zip_with` + `aggregate` — JVM-side, no Python).
- :func:`lsh_bucketed_topk` — the scale path: random-hyperplane LSH
  assigns each vector a bucket signature; search touches only matching
  buckets. Recall < 1 by design; `num_planes` trades recall vs fanout.
- :func:`embedding_near_duplicates` — pairwise cosine >= threshold
  within LSH buckets (the embedding tier of the dedup stack).

At 100 TB the embedding table is partitioned by bucket; queries prune
to one bucket per plane-signature (plus optional multi-probe), so a
top-k is a partition-pruned scan + local top-k + global top-k merge —
no full-table shuffle.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_pipelines_spark.session import persisted


def _to_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL when either vector has zero norm.

    A zero vector (a deleted or padded embedding — routine in a real
    corpus) has no direction: under ANSI mode the bare division would
    abort the WHOLE query with DIVIDE_BY_ZERO, and with ANSI off it
    yields NaN, which Spark's ordering ranks ABOVE every real score —
    a zero vector would win every top-k. NULL does the right thing in
    both consumers: descending sorts place NULLs last, and
    ``cosine >= t`` thresholds reject them.

    The denominator is let-bound so the two norm aggregations run once
    per row, not once per reference (cosine sits inside higher-order
    lambdas where Catalyst's subexpression elimination does not
    reach)."""
    from data_pipelines_spark.functions.text import let

    return let(
        l2_norm(a) * l2_norm(b),
        lambda denom: F.when(denom != 0.0, dot(a, b) / denom),
    )


def cosine_scores(
    embeddings: DataFrame,
    query: DataFrame,
    vec_col: str = "embedding",
    query_vec_col: str = "qvec",
) -> DataFrame:
    """Score every embedding row against every query row (queries are
    few — broadcast)."""
    a = _to_double(F.col(vec_col))
    b = _to_double(F.col(query_vec_col))
    return embeddings.crossJoin(F.broadcast(query)).withColumn(
        "cosine_raw", cosine(a, b)
    )


def brute_force_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_vec_col: str = "qvec",
) -> DataFrame:
    """Exact top-k by cosine for a single query vector.

    orderBy+limit over scored rows: Spark executes this as per-partition
    top-k (TakeOrderedAndProject) — no global sort materialization.
    """
    scored = cosine_scores(embeddings, query, vec_col, query_vec_col)
    return (
        scored.orderBy(F.desc("cosine_raw"), F.asc(id_col))
        .limit(k)
        .select(F.col(id_col), F.round("cosine_raw", 6).alias("cosine"))
    )


def random_hyperplanes(dim: int, num_planes: int = 8, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((num_planes, dim))


def plane_signature(vec: Column, planes: np.ndarray) -> Column:
    """LSH bucket id: sign-bit signature of the vector against each
    hyperplane, packed into a long."""
    from functools import reduce

    bits = []
    for i, plane in enumerate(planes):
        plane_col = F.array(*[F.lit(float(v)) for v in plane])
        bits.append(
            F.when(dot(vec, plane_col) >= 0, F.shiftleft(F.lit(1).cast("long"), i))
            .otherwise(F.lit(0).cast("long"))
        )
    return reduce(lambda x, y: x.bitwiseOR(y), bits)


def lsh_bucketed_topk(
    embeddings: DataFrame,
    query: DataFrame,
    dim: int,
    k: int = 10,
    num_planes: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_vec_col: str = "qvec",
) -> DataFrame:
    """Approximate top-k: only embeddings in the query's hyperplane
    bucket are scored. With ``num_planes`` planes the candidate set is
    ~N/2^planes — the 100 TB path (bucket = partition key)."""
    planes = random_hyperplanes(dim, num_planes, seed)
    emb_b = embeddings.withColumn(
        "bucket", plane_signature(_to_double(F.col(vec_col)), planes)
    )
    qry_b = query.withColumn(
        "bucket", plane_signature(_to_double(F.col(query_vec_col)), planes)
    )
    scored = emb_b.join(F.broadcast(qry_b), "bucket").withColumn(
        "cosine_raw",
        cosine(_to_double(F.col(vec_col)), _to_double(F.col(query_vec_col))),
    )
    return (
        scored.orderBy(F.desc("cosine_raw"), F.asc(id_col))
        .limit(k)
        .select(F.col(id_col), F.round("cosine_raw", 6).alias("cosine"))
    )


def embedding_near_duplicates(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.95,
    num_planes: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Pairs (vec_a, vec_b, cosine) with cosine >= threshold, candidate
    -limited to LSH buckets (high-cosine pairs land in the same bucket
    with high probability)."""
    planes = random_hyperplanes(dim, num_planes, seed)
    emb_b = embeddings.select(
        F.col(id_col),
        F.col(vec_col),
        plane_signature(_to_double(F.col(vec_col)), planes).alias("bucket"),
    )
    a = emb_b.select(
        F.col("bucket"),
        F.col(id_col).alias("vec_a"),
        F.col(vec_col).alias("va"),
    )
    b = emb_b.select(
        F.col("bucket"),
        F.col(id_col).alias("vec_b"),
        F.col(vec_col).alias("vb"),
    )
    return (
        a.join(b, "bucket")
        .where(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine_raw", cosine(_to_double(F.col("va")), _to_double(F.col("vb"))))
        .where(F.col("cosine_raw") >= threshold)
        .select(
            "vec_a", "vec_b", F.round("cosine_raw", 6).alias("cosine")
        )
    )


def kmeans_centroids(
    embeddings: DataFrame,
    k: int = 16,
    max_iterations: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_decimals: int | None = 6,
) -> list[list[float]]:
    """Deterministic Lloyd k-means coarse quantizer (the IVF index's
    training step).

    Initialization: the k vectors with the smallest ids (deterministic,
    no RNG). Each iteration: assign every vector to its nearest
    centroid (native expressions), recompute centroids as per-dimension
    means via posexplode + groupBy. Only the k x dim centroid matrix is
    ever collected to the driver — the model, not the data.

    ``round_decimals`` quantizes each recomputed mean (default 1e-6):
    distributed averages are order-of-summation dependent in their last
    ulps, so two clusters (or two runs with different partitioning)
    could otherwise disagree in the low bits and drift apart over
    iterations. Rounding collapses that to a reproducible fit — which
    is what lets the trained model be pinned as oracle literals.

    The (id, double-vector) projection is persisted for the duration of
    the fit: every Lloyd iteration is an action, and without the cache
    each one would repeat the full source scan — free at test scale,
    ``max_iterations`` extra passes over the corpus on a real one.
    """
    data = embeddings.select(
        F.col(id_col).alias(id_col), _to_double(F.col(vec_col)).alias("__v")
    )
    with persisted(data):
        init = (
            data.orderBy(id_col).limit(k).select(F.col("__v").alias("c")).collect()
        )
        centroids = [list(r["c"]) for r in init]

        for _ in range(max_iterations):
            assigned = ivf_assign(data, centroids, "__v")
            per_dim = (
                assigned.select(
                    "cluster", F.posexplode(F.col("__v")).alias("pos", "x")
                )
                .groupBy("cluster", "pos")
                .agg(F.avg("x").alias("m"))
                .collect()
            )
            new_centroids = [list(c) for c in centroids]
            for r in per_dim:
                m = r["m"]
                new_centroids[r["cluster"]][r["pos"]] = (
                    round(m, round_decimals) if round_decimals is not None else m
                )
            if new_centroids == centroids:
                break
            centroids = new_centroids
        return centroids


def ivf_assign(
    embeddings: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Attach the nearest-centroid id as ``cluster`` (squared-L2).

    The double-cast vector is let-bound so the cast transform runs once
    per row, not once per centroid (HOF lambdas get no subexpression
    elimination — see `functions.text.let`)."""
    from data_pipelines_spark.functions.text import let

    def nearest(v: Column) -> Column:
        scored = [
            F.struct(
                F.aggregate(
                    F.zip_with(
                        v,
                        F.array(*[F.lit(float(x)) for x in c]),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("dist"),
                F.lit(i).alias("cluster"),
            )
            for i, c in enumerate(centroids)
        ]
        return F.array_min(F.array(*scored))["cluster"]

    return embeddings.withColumn(
        "cluster", let(_to_double(F.col(vec_col)), nearest)
    )


def ivf_topk(
    indexed: DataFrame,
    query: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_vec_col: str = "qvec",
) -> DataFrame:
    """IVF search: probe only the query's ``nprobe`` nearest inverted
    lists, then exact cosine within them. ``indexed`` must carry the
    ``cluster`` column (from :func:`ivf_assign` — at scale this is the
    table's partition key, so the probe is partition pruning)."""
    probed = ivf_assign(
        query.withColumnRenamed(query_vec_col, "__qv"), centroids, "__qv"
    )
    # nprobe nearest clusters for the query vector
    qv = _to_double(F.col("__qv"))
    dists = [
        F.struct(
            F.aggregate(
                F.zip_with(
                    qv,
                    F.array(*[F.lit(float(x)) for x in c]),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("dist"),
            F.lit(i).alias("cluster"),
        )
        for i, c in enumerate(centroids)
    ]
    probe_clusters = probed.select(
        F.col("__qv"),
        F.slice(F.array_sort(F.array(*dists)), 1, nprobe)["cluster"].alias(
            "probe"
        ),
    ).select(F.col("__qv").alias(query_vec_col), F.explode("probe").alias("cluster"))

    cand = indexed.join(F.broadcast(probe_clusters), "cluster")
    scored = cand.withColumn(
        "cosine_raw",
        cosine(_to_double(F.col(vec_col)), _to_double(F.col(query_vec_col))),
    )
    return (
        scored.orderBy(F.desc("cosine_raw"), F.asc(id_col))
        .limit(k)
        .select(F.col(id_col), F.round("cosine_raw", 6).alias("cosine"))
    )


def semantic_dedup(
    embeddings: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup-style semantic deduplication: assign every vector to its
    nearest k-means centroid, then within each cluster drop any vector
    that has a near-identical neighbor (cosine >= ``threshold``) with a
    smaller id — the smallest id in each semantic group survives as the
    representative.

    Output, one row per input vector:
    (id_col, cluster, dup_of, keep) — ``dup_of`` is the smallest
    qualifying neighbor id (null for kept rows), so the decision is
    auditable and the kept set is ``where(keep)``.

    Scale shape: the pairwise comparison is confined to a cluster
    (k ~ sqrt(N) keeps clusters ~sqrt(N)-sized), exactly the published
    SemDeDup recipe — never an all-pairs join; the centroid model is
    the only collected state. Deterministic: min-id-init quantized
    k-means + a total-order tie rule, so re-runs reproduce the same
    kept set.
    """
    assigned = ivf_assign(embeddings, centroids, vec_col).select(
        F.col(id_col), F.col(vec_col), F.col("cluster")
    )
    a = assigned.select(
        F.col("cluster"),
        F.col(id_col).alias("__ida"),
        F.col(vec_col).alias("__va"),
    )
    b = assigned.select(
        F.col("cluster"),
        F.col(id_col).alias("__idb"),
        F.col(vec_col).alias("__vb"),
    )
    dups = (
        a.join(b, "cluster")
        .where(F.col("__idb") < F.col("__ida"))
        .where(
            cosine(_to_double(F.col("__va")), _to_double(F.col("__vb")))
            >= threshold
        )
        .groupBy("__ida")
        .agg(F.min("__idb").alias("dup_of"))
        .withColumnRenamed("__ida", id_col)
    )
    return (
        assigned.join(dups, id_col, "left")
        .select(
            F.col(id_col),
            F.col("cluster").cast("long").alias("cluster"),
            F.col("dup_of"),
            F.col("dup_of").isNull().alias("keep"),
        )
    )


def quantize_int8(
    embeddings: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: each vector is scaled by
    its own max-abs so components land in [-127, 127] and stored as
    array<tinyint> plus one float scale — a 4x storage/shuffle cut for
    a 100 TB embedding table (float32 -> int8 + 4 bytes).

    Cosine similarity is SCALE-INVARIANT, so searches over the
    quantized column need no dequantization at all — the per-vector
    scale cancels out of dot(a,b)/(|a||b|); only the int8 rounding
    error remains (~1e-2 on the score for random vectors, see
    tests/test_text_similarity.py). Ranking pipelines re-score the final
    candidate page with the float column if exact order matters.

    Output: input columns with ``vec_col`` replaced by
    ``{vec_col}_q`` (array<tinyint>) and ``{vec_col}_scale`` (float).
    """
    v = _to_double(F.col(vec_col))
    max_abs = F.array_max(F.transform(v, F.abs))
    scale = F.when(max_abs > 0, max_abs / F.lit(127.0)).otherwise(F.lit(1.0))
    q = F.transform(v, lambda x: F.round(x / scale).cast("tinyint"))
    return embeddings.withColumn(f"{vec_col}_q", q).withColumn(
        f"{vec_col}_scale", scale.cast("float")
    ).drop(vec_col)


def dequantize_int8(
    quantized: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Inverse of :func:`quantize_int8` (up to rounding): reconstruct
    array<float> from the int8 codes and the per-vector scale."""
    q = F.col(f"{vec_col}_q")
    s = F.col(f"{vec_col}_scale").cast("double")
    vec = F.transform(q, lambda x: (x.cast("double") * s).cast("float"))
    return quantized.withColumn(vec_col, vec).drop(
        f"{vec_col}_q", f"{vec_col}_scale"
    )


def l2_normalize(vec: Column) -> Column:
    """Unit-normalize an embedding (array → array<double>); NULL for
    zero-norm vectors (same contract as :func:`cosine` — a descending
    sort puts them last, thresholds reject them) and NULL inputs."""
    v = _to_double(vec)
    n = l2_norm(v)
    return F.when(n > 0, F.transform(v, lambda x: x / n))


def mean_pool(
    df: DataFrame,
    group_cols: list[str],
    vec_col: str = "vec",
    out_col: str = "vec",
    normalize: bool = False,
) -> DataFrame:
    """Element-wise mean of the vectors in each group — the chunk→doc
    pooling step between a chunker (``chunk_text`` + an encoder) and
    document-level ANN/SemDeDup: (group_cols..., out_col, n_vectors).

    Plan: posexplode to (group, dim_index, component) → ONE
    map-side-combined average per (group, index) → reassemble the array
    with ``array_sort(collect_list(struct(index, mean)))`` (each
    group's list is dim-sized, never corpus-sized). Shuffle volume is
    rows × dim numeric triples — fine for embedding dims; NULL vectors
    are excluded from the mean (and groups with only NULLs drop out).
    ``normalize=True`` L2-normalizes the pooled vector, which makes
    pooled cosine comparable across groups of different sizes.
    """
    exploded = df.where(F.col(vec_col).isNotNull()).select(
        *group_cols, F.posexplode(_to_double(F.col(vec_col))).alias("__i", "__x")
    )
    per_dim = exploded.groupBy(*group_cols, "__i").agg(
        F.avg("__x").alias("__m"), F.count(F.lit(1)).alias("__n")
    )
    pooled = per_dim.groupBy(*group_cols).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("__i"), F.col("__m")))),
            lambda s: s.getField("__m"),
        ).alias("__pooled"),
        F.max("__n").alias("n_vectors"),
    )
    out = (
        l2_normalize(F.col("__pooled")) if normalize else F.col("__pooled")
    )
    return pooled.select(*group_cols, out.alias(out_col), "n_vectors")


def knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int,
    dim: int,
    left_id_col: str = "vec_id",
    right_id_col: str = "vec_id",
    left_vec_col: str = "embedding",
    right_vec_col: str = "embedding",
    num_planes: int = 8,
    seed: int = 42,
    hamming_probe: int = 0,
    exclude_same_id: bool = True,
    score_round: int | None = 6,
) -> DataFrame:
    """Approximate k-NN JOIN: for EVERY left vector, its ``k`` highest-
    cosine right vectors among LSH-bucket candidates —
    ``(left_id, right_id, cosine, rank)``. The batch-retrieval
    primitive (:func:`lsh_bucketed_topk` answers one query; this
    answers all of them in one plan): dedup a batch against a reference
    corpus, nearest-prototype assignment, retrieval-style labeling.

    Plan shape: both sides take a hyperplane signature (same seeded
    planes → deterministic), candidates meet in a plain equi shuffle
    join on the bucket id, cosine is native array arithmetic, and the
    per-left top-k is a row_number window over bucket-sized candidate
    sets — never all-pairs. ``hamming_probe=1`` additionally probes
    every bucket at Hamming distance 1 from the left signature
    (``num_planes`` extra probes per left row — the standard
    multi-probe recall lever; each true pair still meets at most once
    because the right side keeps ONE bucket).

    Honest contract: recall is approximate — a true neighbor in a
    non-probed bucket is missed; raise ``hamming_probe``, lower
    ``num_planes``, or use the IVF path for recall/cost trade-offs.
    Zero-norm/NULL vectors score NULL (:func:`cosine`'s contract) and
    are excluded from candidates on both sides. Ties order by
    ``right_id`` for a total order; ``cosine`` is rounded to
    ``score_round`` for engine-portable output (ranking uses the raw
    value).
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if hamming_probe not in (0, 1):
        raise ValueError("hamming_probe supports 0 or 1")
    from pyspark.sql import Window

    planes = random_hyperplanes(dim, num_planes, seed)
    # Cast to double BEFORE any arithmetic: float×float multiplies
    # round before the double accumulate and drift a ulp from engines
    # that cast first (the oracle's ::DOUBLE[] — caught by the parity
    # gate at a round-to-6 boundary).
    lvec = _to_double(F.col(left_vec_col))
    rvec = _to_double(F.col(right_vec_col))
    lsig = plane_signature(lvec, planes)
    rsig = plane_signature(rvec, planes)

    if hamming_probe == 1:
        probes = F.array(
            lsig, *[lsig.bitwiseXOR(F.lit(1 << i)) for i in range(num_planes)]
        )
        l = left.select(
            F.col(left_id_col).alias("__lid"),
            lvec.alias("__lvec"),
            F.explode(probes).alias("__bucket"),
        )
    else:
        l = left.select(
            F.col(left_id_col).alias("__lid"),
            lvec.alias("__lvec"),
            lsig.alias("__bucket"),
        )
    r = right.select(
        F.col(right_id_col).alias("__rid"),
        rvec.alias("__rvec"),
        rsig.alias("__bucket"),
    )
    pairs = l.join(r, "__bucket")
    if exclude_same_id:
        pairs = pairs.where(F.col("__lid") != F.col("__rid"))
    score_raw = cosine(F.col("__lvec"), F.col("__rvec"))
    scored = pairs.withColumn("__score", score_raw).where(
        F.col("__score").isNotNull()
    )
    w = Window.partitionBy("__lid").orderBy(
        F.desc("__score"), F.asc("__rid")
    )
    out_score = (
        F.round(F.col("__score"), score_round)
        if score_round is not None
        else F.col("__score")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(
            F.col("__lid").alias(f"left_{left_id_col}"),
            F.col("__rid").alias(f"right_{right_id_col}"),
            out_score.alias("cosine"),
            "rank",
        )
    )


def knn_join_ivf(
    left: DataFrame,
    right: DataFrame,
    centroids: list[list[float]],
    k: int,
    nprobe: int = 2,
    left_id_col: str = "vec_id",
    right_id_col: str = "vec_id",
    left_vec_col: str = "embedding",
    right_vec_col: str = "embedding",
    exclude_same_id: bool = True,
    score_round: int | None = 6,
    right_assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF variant of :func:`knn_join`: every left vector retrieves its
    ``k`` nearest right vectors from its ``nprobe`` nearest inverted
    lists — recall is tuned by list count instead of hash probes
    (``nprobe = len(centroids)`` degrades gracefully to exact brute
    force). Use over :func:`knn_join` when a trained coarse quantizer
    exists (:func:`kmeans_centroids`) and recall needs to be dialed,
    not hashed.

    Plan shape: the right side takes ONE cluster id
    (:func:`ivf_assign`), the left side explodes over its ``nprobe``
    nearest centroid ids (distances to a centroid-count-sized literal
    array — model-sized, never data-sized), candidates meet in a plain
    equi shuffle join on the cluster id, and the per-left top-k is a
    row_number window over list-sized candidate sets. Each pair meets
    at most once (the right side holds one list). Zero-norm/NULL
    vectors are excluded per :func:`cosine`'s contract.

    ``right_assigned`` is the stored inverted-list table — the
    (cluster, id, vector) rows a previous :func:`ivf_assign` run with
    the SAME centroids produced (assignments are only valid for the
    quantizer that made them — keep the model with the store). Pass it
    so a 100 TB corpus is not re-assigned on every query batch, and
    write it PARTITIONED BY ``cluster``: a selective query batch then
    prunes whole lists at the scan (statically for a literal cluster
    filter; via dynamic partition pruning when the probe side is
    broadcastable), instead of reading the corpus to throw most of it
    away post-join.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if not (1 <= nprobe <= len(centroids)):
        raise ValueError(
            f"nprobe must be in [1, {len(centroids)}], got {nprobe}"
        )
    from pyspark.sql import Window

    lvec = _to_double(F.col(left_vec_col))
    rvec = _to_double(F.col(right_vec_col))

    from data_pipelines_spark.functions.text import let

    def probe_ids(v: Column) -> Column:
        dists = [
            F.struct(
                F.aggregate(
                    F.zip_with(
                        v,
                        F.array(*[F.lit(float(x)) for x in c]),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("dist"),
                F.lit(i).alias("cluster"),
            )
            for i, c in enumerate(centroids)
        ]
        return F.slice(F.array_sort(F.array(*dists)), 1, nprobe)["cluster"]

    l = left.select(
        F.col(left_id_col).alias("__lid"),
        lvec.alias("__lvec"),
        F.explode(let(lvec, probe_ids)).alias("cluster"),
    )
    if right_assigned is None:
        r = ivf_assign(
            right.select(
                F.col(right_id_col).alias("__rid"), rvec.alias("__rvec")
            ),
            centroids,
            "__rvec",
        )
    else:
        r = right_assigned.select(
            "cluster",
            F.col(right_id_col).alias("__rid"),
            _to_double(F.col(right_vec_col)).alias("__rvec"),
        )
    pairs = l.join(r, "cluster")
    if exclude_same_id:
        pairs = pairs.where(F.col("__lid") != F.col("__rid"))
    scored = pairs.withColumn(
        "__score", cosine(F.col("__lvec"), F.col("__rvec"))
    ).where(F.col("__score").isNotNull())
    w = Window.partitionBy("__lid").orderBy(F.desc("__score"), F.asc("__rid"))
    out_score = (
        F.round(F.col("__score"), score_round)
        if score_round is not None
        else F.col("__score")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(
            F.col("__lid").alias(f"left_{left_id_col}"),
            F.col("__rid").alias(f"right_{right_id_col}"),
            out_score.alias("cosine"),
            "rank",
        )
    )


def exact_knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int,
    left_id_col: str = "vec_id",
    right_id_col: str = "vec_id",
    left_vec_col: str = "embedding",
    right_vec_col: str = "embedding",
    exclude_same_id: bool = True,
    score_round: int | None = 6,
) -> DataFrame:
    """EXACT k-NN join: every left vector against EVERY right vector —
    ``(left_id, right_id, cosine, rank)``, rank 1..k by (cosine desc,
    right_id asc).

    Contract: the right side must be dimension-sized (a labeled seed
    set, a prototype table) — it is broadcast and every left row scores
    all of it, so the candidate volume is |left| x |right|. That is the
    exact-recall baseline the ANN paths (:func:`knn_join`,
    :func:`knn_join_ivf`) are measured against; for corpus-x-corpus
    retrieval use those instead (bucket-pruned candidates). Zero-norm /
    NULL vectors are excluded on both sides per :func:`cosine`'s
    contract.

    Plan shape: after the broadcast product, the per-left top-k is a
    map-side ``collect_list`` + ``array_sort`` + ``slice`` aggregation,
    NOT a row_number window — every left row's candidates are already
    colocated (the broadcast adds no movement), so partial aggregation
    finishes each left key on the map side and the shuffle carries ONE
    k-sized row per left vector instead of the full |left| x |right|
    pair stream a window sort would move. At corpus scale that is a
    |right|-factor reduction in shuffle volume.

    The left side passes through the `plans.parallelism.spread` guard:
    the cosine lambdas are interpreted (higher-order functions don't
    codegen), so a single-split input would serialize |left| x |right|
    evaluations onto one core (measured: 11.3 s -> 1.5 s at 4800x200,
    dim 64). At real scale the input is already wide and the guard is
    a no-op.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    from data_pipelines_spark.plans.parallelism import spread

    lvec = _to_double(F.col(left_vec_col))
    rvec = _to_double(F.col(right_vec_col))
    # Project BEFORE spreading: the guard's repartition should move only
    # (id, vector), not whatever payload columns the caller's frame
    # carries. The width estimate still resolves the same leaf files.
    l = spread(left.select(F.col(left_id_col).alias("__lid"), lvec.alias("__lvec")))
    r = right.select(F.col(right_id_col).alias("__rid"), rvec.alias("__rvec"))
    pairs = l.crossJoin(F.broadcast(r))
    if exclude_same_id:
        pairs = pairs.where(F.col("__lid") != F.col("__rid"))
    scored = pairs.select(
        "__lid",
        "__rid",
        cosine(F.col("__lvec"), F.col("__rvec")).alias("__score"),
    ).where(F.col("__score").isNotNull())
    # Struct field order gives the sort order: -score asc == score desc,
    # then right id asc for a total order on ties.
    cand = F.struct(
        (-F.col("__score")).alias("neg"),
        F.col("__rid").alias("rid"),
        F.col("__score").alias("score"),
    )
    topk = scored.groupBy("__lid").agg(
        F.slice(F.array_sort(F.collect_list(cand)), 1, k).alias("__topk")
    )
    out_score = (
        F.round(F.col("__c.score"), score_round)
        if score_round is not None
        else F.col("__c.score")
    )
    return (
        topk.select(
            "__lid", F.posexplode(F.col("__topk")).alias("__pos", "__c")
        )
        .select(
            F.col("__lid").alias(f"left_{left_id_col}"),
            F.col("__c.rid").alias(f"right_{right_id_col}"),
            out_score.alias("cosine"),
            (F.col("__pos") + 1).cast("long").alias("rank"),
        )
    )


def knn_classify(
    queries: DataFrame,
    labeled: DataFrame,
    k: int,
    label_col: str = "label",
    method: str = "exact",
    dim: int | None = None,
    centroids: list[list[float]] | None = None,
    query_id_col: str = "vec_id",
    labeled_id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    labeled_vec_col: str = "embedding",
    exclude_same_id: bool = False,
    **ann_kwargs,
) -> DataFrame:
    """k-NN label propagation: classify every query vector by majority
    vote over its ``k`` nearest labeled neighbors — the embedding-space
    stand-in for a fastText-style quality classifier (label a small
    curated seed set, let the corpus inherit labels from geometry).

    ``exclude_same_id`` defaults to FALSE here (unlike the raw neighbor
    joins): queries and seeds are normally DISTINCT tables with
    independent id spaces, where dropping a seed whose id happens to
    collide with a query's id would silently remove a true neighbor
    and could flip the vote. Set it True only when the query frame is a
    subset of the labeled frame (self-labeling sanity checks), where
    matching ids really do mean "the same row".

    Output: one row per scorable query —
    ``(query_id_col, pred_label, n_votes, vote_weight)`` where
    ``n_votes`` counts the winning label's neighbors and
    ``vote_weight`` is the sum of their cosines (rounded to 6; the
    tie-break uses the ROUNDED value so any engine replaying the
    arithmetic orders identically). Winner = max by
    (n_votes, vote_weight, label asc) — fully deterministic.

    ``method='exact'`` uses :func:`exact_knn_join` (labeled seed is
    broadcast — the right shape when the seed is dimension-sized);
    ``'lsh'`` / ``'ivf'`` swap in the bucket-pruned ANN joins for
    corpus-scale seeds, same voting semantics over approximate
    neighbors. Queries whose vectors are NULL/zero-norm (or that miss
    every probed bucket under ANN) produce no row — surface them with
    a left anti join when the pipeline needs explicit unknowns.
    """
    from pyspark.sql import Window

    if method == "exact":
        neighbors = exact_knn_join(
            queries, labeled, k,
            left_id_col=query_id_col, right_id_col=labeled_id_col,
            left_vec_col=query_vec_col, right_vec_col=labeled_vec_col,
            exclude_same_id=exclude_same_id,
            **ann_kwargs,
        )
    elif method == "lsh":
        if dim is None:
            raise ValueError("method='lsh' requires dim")
        neighbors = knn_join(
            queries, labeled, k, dim,
            left_id_col=query_id_col, right_id_col=labeled_id_col,
            left_vec_col=query_vec_col, right_vec_col=labeled_vec_col,
            exclude_same_id=exclude_same_id,
            **ann_kwargs,
        )
    elif method == "ivf":
        if centroids is None:
            raise ValueError("method='ivf' requires centroids")
        neighbors = knn_join_ivf(
            queries, labeled, centroids, k,
            left_id_col=query_id_col, right_id_col=labeled_id_col,
            left_vec_col=query_vec_col, right_vec_col=labeled_vec_col,
            exclude_same_id=exclude_same_id,
            **ann_kwargs,
        )
    else:
        raise ValueError(f"unknown method {method!r}")

    lid = f"left_{query_id_col}"
    rid = f"right_{labeled_id_col}"
    lab = F.broadcast(
        labeled.select(
            F.col(labeled_id_col).alias(rid), F.col(label_col).alias("__lab")
        )
    ) if method == "exact" else labeled.select(
        F.col(labeled_id_col).alias(rid), F.col(label_col).alias("__lab")
    )
    votes = (
        neighbors.join(lab, rid)
        .groupBy(lid, "__lab")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_votes"),
            # DECIMAL sum of the already-rounded cosines: exact decimal
            # arithmetic is addition-order-independent, so the weight
            # (and the tie-break on it) is identical on any engine and
            # any partitioning — a double sum could drift an ulp across
            # reduction orders right at a rounding boundary.
            F.sum(F.col("cosine").cast("decimal(18,6)"))
            .cast("double")
            .alias("vote_weight"),
        )
    )
    w = Window.partitionBy(lid).orderBy(
        F.desc("n_votes"), F.desc("vote_weight"), F.asc("__lab")
    )
    return (
        votes.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .select(
            F.col(lid).alias(query_id_col),
            F.col("__lab").alias("pred_label"),
            "n_votes",
            "vote_weight",
        )
    )


def recall_at_k(
    approx: DataFrame,
    exact: DataFrame,
    query_col: str = "left_vec_id",
    neighbor_col: str = "right_vec_id",
) -> DataFrame:
    """Per-query recall of an ANN result against the exact baseline —
    the QA metric that decides whether an LSH/IVF configuration's
    probe/list settings are good enough to ship. Both inputs are
    neighbor frames as produced by :func:`knn_join` /
    :func:`knn_join_ivf` / :func:`exact_knn_join` (same k).

    Output: ``(query_col, n_exact, n_hit, recall)`` — one row per
    query that appears in the EXACT result (a query the ANN path
    dropped entirely scores recall 0.0, it does not vanish).

    Shape: two id-projections, one left-semi-style equi join on
    (query, neighbor), one groupBy — all map-side combinable; at 100 TB
    both frames are k-sized per query, so the shuffle is k rows per
    query and recall aggregates without ever touching the vectors.
    """
    ex = exact.select(
        F.col(query_col).alias("__q"), F.col(neighbor_col).alias("__n")
    )
    ap = approx.select(
        F.col(query_col).alias("__q"),
        F.col(neighbor_col).alias("__n"),
        F.lit(1).alias("__hit"),
    )
    joined = ex.join(ap, ["__q", "__n"], "left")
    return (
        joined.groupBy("__q")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("long").alias("n_hit"),
        )
        .select(
            F.col("__q").alias(query_col),
            "n_exact",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_exact"), 6).alias("recall"),
        )
    )
