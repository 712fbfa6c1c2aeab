"""Distributed k-means over embedding columns — corpus clustering for
training-data curation (topic balancing, stratified sampling, IVF
coarse quantizers).

Physical shape (the standard Lloyd layout, same as MLlib's):
  * assignment is a scan-side PROJECTION against the k broadcast
    centroids (no shuffle);
  * the mean update is one groupBy over (cluster, dimension) — a
    k*d-cell aggregate, shuffle bounded by k*d not by n;
  * only the k x d centroid matrix ever reaches the driver, once per
    iteration.

Determinism: centroids initialize from the md5-ordered vector sample
(similarity.ivf_centroids) and every Lloyd step is
argmin/avg arithmetic, so the WHOLE clustering — n_iter iterations
deep — replays in SQL and hash-matches the DuckDB oracle (the same
technique as the STL/LOESS unroll).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

from scalecast_spark.datapipe.similarity import ivf_centroids


def _sqdist(vec, cent: list[float]) -> "F.Column":
    clit = F.array(*[F.lit(float(x)) for x in cent])
    return F.aggregate(
        F.zip_with(vec, clit, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _assign(vec, cents: list[tuple[int, list[float]]]):
    """(cluster, sqdist) of the nearest centroid; ties -> lowest id."""
    dists = F.array(*[_sqdist(vec, cv) for _, cv in cents])
    best = F.array_min(dists)
    cluster = F.array_position(dists, best).cast("int")
    return cluster, best


def kmeans_embeddings(
    df: DataFrame,
    k: int = 8,
    n_iter: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    vectorized: bool | None = None,
    vectorized_threshold: int = 4096,
    mean_update: str = "partial",
) -> DataFrame:
    """Lloyd's k-means: returns (id, cluster, sqdist) for every vector.

    ``cluster`` is 1-based (matching the md5-ordered seed order).
    Empty clusters keep their previous centroid. n_iter is small and
    fixed — each iteration costs one scan + one k*d aggregate.

    ``vectorized=None`` auto-selects the physical assignment strategy:
    below ``vectorized_threshold`` k*d cells the interpreted
    column-expression argmin runs; at or above it each iteration
    switches to one numpy pass per Arrow batch
    (``assign_clusters_vectorized`` for the final pass). The numpy
    distances are an exact left fold over dimensions, BIT-IDENTICAL to
    the expression chain — same clusters, same sqdist, either way.

    ``mean_update`` picks the vectorized-iteration mean plan:
    ``'partial'`` (default) emits per-batch partial (cluster, dim,
    sum, count) rows — shuffle bounded by k*d per batch, the 100 TB
    shape; ``'exploded'`` emits (cluster, dim, x) per row and reuses
    the SAME groupBy-avg aggregation as the expression path, making
    the whole loop aggregation-plan-identical to it (use when the
    result must hash-match the unrolled SQL oracle but the expression
    assignment is too slow). Ignored on the expression path.
    """
    if mean_update not in ("partial", "exploded"):
        raise ValueError(f"mean_update must be partial|exploded, got {mean_update}")
    vec = F.col(vec_col).cast("array<double>")
    cents = ivf_centroids(df, k, vec_col, id_col)
    dim = len(cents[0][1])
    if vectorized is None:
        vectorized = k * dim >= vectorized_threshold
    # the vectorized loop would re-scan the source once per iteration;
    # cache the pruned vector projection for the loop's duration only —
    # unpersisted before return, so a later invocation can never reuse
    # it (the source plan carries no per-call token, unlike the Arrow
    # kernels' closures).
    vec_src = df.select(vec_col) if vectorized else df
    loop_cached = vectorized and n_iter > 1
    if loop_cached:
        vec_src.cache()
    try:
        for _ in range(n_iter):
            if vectorized and mean_update == "exploded":
                means = (
                    _exploded_assignments(vec_src, cents, vec_col)
                    .groupBy("_c", "_dim")
                    .agg(F.avg("_x").alias("_m"))
                    .collect()
                )
            elif vectorized:
                means = (
                    _partial_cluster_sums(vec_src, cents, vec_col)
                    .groupBy("_c", "_dim")
                    .agg((F.sum("_s") / F.sum("_n")).alias("_m"))
                    .collect()
                )
            else:
                cluster, _d = _assign(vec, cents)
                assigned = df.withColumn("_c", cluster)
                means = (
                    assigned.select(
                        "_c", F.posexplode(vec).alias("_dim", "_x")
                    )
                    .groupBy("_c", "_dim")
                    .agg(F.avg("_x").alias("_m"))
                    .collect()
                )
            by_cell: dict[int, list[float]] = {}
            for r in means:
                by_cell.setdefault(r["_c"], [0.0] * dim)[r["_dim"]] = r["_m"]
            cents = [
                (ci, by_cell.get(ci, cv)) for ci, cv in cents
            ]
    finally:
        if loop_cached:
            vec_src.unpersist()
    if vectorized:
        return assign_clusters_vectorized(df, cents, vec_col, id_col)
    cluster, d = _assign(vec, cents)
    return df.select(
        id_col,
        cluster.alias("cluster"),
        F.round(d, 6).alias("sqdist"),
    )


def _batch_vectors_best(pdf, vec_col: str, C):
    """Shared per-batch kernel for the three mapInPandas assignment
    variants: materialize the batch's vectors, exact-fold distances,
    argmin (first minimum → lowest cell). Returns (V, d2, best) or
    (None, None, None) for an empty batch."""
    import numpy as np

    V = np.asarray([np.asarray(v, dtype=float) for v in pdf[vec_col]])
    if len(V) == 0:
        return None, None, None
    d2 = _exact_sqdists(V, C)
    return V, d2, d2.argmin(axis=1)


def _exploded_assignments(
    df: DataFrame,
    cents: list[tuple[int, list[float]]],
    vec_col: str,
) -> DataFrame:
    """Numpy exact-fold assignment, emitted as exploded (_c, _dim, _x)
    rows — the same row set, per-partition row order, and downstream
    groupBy-avg the expression path's posexplode produces, so the
    resulting means are plan-identical to it. n*d-row shuffle: use
    _partial_cluster_sums for the bounded-shuffle variant."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    C = np.asarray([cv for _, cv in cents], dtype=float)
    ids = np.asarray([ci for ci, _ in cents])
    d = C.shape[1]
    schema = T.StructType(
        [
            T.StructField("_c", T.IntegerType()),
            T.StructField("_dim", T.IntegerType()),
            T.StructField("_x", T.DoubleType()),
        ]
    )

    def run(batches):
        for pdf in batches:
            V, _d2, best = _batch_vectors_best(pdf, vec_col, C)
            if V is None:
                continue
            yield pd.DataFrame(
                {
                    "_c": np.repeat(ids[best], d).astype("int32"),
                    "_dim": np.tile(np.arange(d, dtype="int32"), len(V)),
                    "_x": V.ravel(),
                }
            )

    return df.select(vec_col).mapInPandas(run, schema)


def _partial_cluster_sums(
    df: DataFrame,
    cents: list[tuple[int, list[float]]],
    vec_col: str,
) -> DataFrame:
    """GEMM assignment + per-batch partial (cluster, dim, sum, count)
    rows for the Lloyd mean update. Each Arrow batch emits at most k*d
    rows regardless of batch size, so the shuffle that follows is
    bounded by k*d*n_batches — the map-side-combine shape — instead of
    the expression path's n*d posexplode."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    C = np.asarray([cv for _, cv in cents], dtype=float)  # (k, d)
    ids = np.asarray([ci for ci, _ in cents])
    k, d = C.shape
    schema = T.StructType(
        [
            T.StructField("_c", T.IntegerType()),
            T.StructField("_dim", T.IntegerType()),
            T.StructField("_s", T.DoubleType()),
            T.StructField("_n", T.LongType()),
        ]
    )

    def run(batches):
        for pdf in batches:
            V, _d2, best = _batch_vectors_best(pdf, vec_col, C)
            if V is None:
                continue
            sums = np.zeros((k, d))
            np.add.at(sums, best, V)
            counts = np.bincount(best, minlength=k)
            nz = counts > 0
            cell = np.repeat(ids[nz], d)
            yield pd.DataFrame(
                {
                    "_c": cell.astype("int32"),
                    "_dim": np.tile(np.arange(d, dtype="int32"), int(nz.sum())),
                    "_s": sums[nz].ravel(),
                    "_n": np.repeat(counts[nz], d).astype("int64"),
                }
            )

    return df.select(vec_col).mapInPandas(run, schema)


def assign_clusters_vectorized(
    df: DataFrame,
    cents: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Performance twin of the expression-based assignment via
    mapInPandas. Distances use an explicit per-dimension left fold —
    ``acc += (V[:,j] - C[:,j])²`` for j = 0..d-1 — which performs the
    SAME float64 operations in the SAME order as the interpreted
    ``F.aggregate`` fold, so distances (and therefore argmin ties) are
    BIT-IDENTICAL to the expression path, not merely close (the
    expanded ||v||²-2v·C+||c||² GEMM form differs in the last ulps,
    which a round-to-6dp hash can expose). Still vectorized: d passes
    over an (n, k) accumulator instead of k×d interpreted expression
    nodes per row. Prefer this for wide embeddings / large k."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    C = np.asarray([cv for _, cv in cents], dtype=float)  # (k, d)
    ids = [ci for ci, _ in cents]
    schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("cluster", T.IntegerType()),
            T.StructField("sqdist", T.DoubleType()),
        ]
    )

    def run(batches):
        for pdf in batches:
            V, d2, best = _batch_vectors_best(pdf, vec_col, C)
            if V is None:
                continue
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "cluster": [ids[b] for b in best],
                    "sqdist": np.round(d2[np.arange(len(best)), best], 6),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(run, schema)


def _exact_sqdists(V, C):
    """(n, k) squared distances as a left fold over dimensions —
    bit-identical to the F.aggregate/zip_with expression chain."""
    import numpy as np

    n, k = V.shape[0], C.shape[0]
    acc = np.zeros((n, k))
    for j in range(C.shape[1]):
        diff = V[:, j, None] - C[None, :, j]
        acc = acc + diff * diff
    return acc


def balance_by_cluster(
    df: DataFrame,
    k: int = 8,
    per_cluster: int = 50,
    n_iter: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    **kmeans_kw,
) -> DataFrame:
    """Topic-balanced corpus selection: cluster the embedding space
    with deterministic k-means, then keep at most ``per_cluster``
    vectors per cluster (md5-ranked, via sample.cap_per_group) — the
    standard recipe for rebalancing a crawl corpus whose topic mix is
    dominated by a few giant modes. Output (id, cluster) for joining
    back to the documents. Fully deterministic end-to-end, so the
    whole select replays in SQL."""
    from scalecast_spark.datapipe.sample import cap_per_group

    assigned = kmeans_embeddings(
        df, k=k, n_iter=n_iter, vec_col=vec_col, id_col=id_col, **kmeans_kw
    ).select(id_col, "cluster")
    return cap_per_group(assigned, "cluster", per_cluster, id_col, salt="balance")


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.95,
    k: int = 8,
    n_iter: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    assigned: DataFrame | None = None,
    method: str = "gemm",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): cluster the
    embedding space with k-means, then mark within-cluster semantic
    near-duplicates (cosine ≥ ``threshold``) and keep one
    representative per duplicated neighborhood. Returns the assignment
    frame (id, cluster, sqdist) plus ``keep_sem`` (False = semantic
    duplicate of a kept vector).

    Keep rule: a vector is dropped iff an EARLIER-id vector in the
    same cluster sits within the threshold. That is deterministic and
    needs ONE within-cluster join; the paper instead keeps the item
    with the LOWEST centroid similarity per duplicate group — a
    chain-sensitive rule that needs iterative peeling. On transitive
    chains (a~b, b~c, a≁c) this variant drops c where iterative
    peeling could keep it — the standard "dominated by any earlier"
    simplification, documented on purpose.

    Scale shape: the pair generation is an equi-join on the cluster
    id, so the corpus never sees an all-pairs product — O(Σ n_c²·d)
    work bounded by the largest cluster. SemDeDup deployments use
    large k (10k-100k clusters on web corpora) precisely to keep n_c
    small; pass ``assigned`` to reuse an existing clustering. Fully
    deterministic → replays in SQL (the emb_kmeans oracle wraps the
    unrolled-Lloyd assignment with the same join + earlier-id rule).
    """
    if method not in ("gemm", "expr"):
        raise ValueError(f"method must be gemm|expr, got {method!r}")
    if assigned is None:
        assigned = kmeans_embeddings(df, k, n_iter, vec_col, id_col)
    vec = F.col(vec_col).cast("array<double>")
    side = df.select(F.col(id_col), vec.alias("_v")).join(
        assigned.select(id_col, "cluster"), id_col
    )
    if method == "gemm" and not isinstance(
        side.schema[id_col].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
    ):
        # the GEMM kernel emits long ids; a silent cast would NULL
        # string ids and mark nothing as duplicate — route to the
        # parity-tested expr twin, which keeps the native id type.
        # Warn (don't raise like blocked_pairwise_above does) because
        # the expr twin IS result-equivalent here, but the caller
        # asked for a specific kernel and should know it switched.
        import warnings

        warnings.warn(
            f"semantic_dedup: method='gemm' requires an integral id "
            f"column; '{id_col}' is "
            f"{side.schema[id_col].dataType.simpleString()} — falling "
            f"back to the parity-tested method='expr' kernel",
            UserWarning,
            stacklevel=2,
        )
        method = "expr"
    if method == "gemm":
        dropped = _semantic_dropped_gemm(side, threshold, id_col)
    else:
        dropped = _semantic_dropped_expr(side, threshold, id_col)
    return (
        assigned.join(dropped.withColumn("_dup", F.lit(True)), id_col, "left")
        .withColumn("keep_sem", F.col("_dup").isNull())
        .drop("_dup")
    )


def _semantic_dropped_expr(side: DataFrame, threshold: float, id_col: str) -> DataFrame:
    """Dropped-id frame via a within-cluster self-join with the
    interpreted-HOF cosine — the declarative twin (parity-tested
    against the GEMM kernel; ~6x slower per pair, measured)."""
    from scalecast_spark.datapipe.similarity import _norm

    a, b = side.alias("a"), side.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a._v"), F.col("b._v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = F.round(
        F.try_divide(dot, _norm(F.col("a._v")) * _norm(F.col("b._v"))), 6
    )
    return (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"b.{id_col}").alias(id_col), cos.alias("_cos"))
        .filter(F.col("_cos") >= threshold)
        .select(id_col)
        .distinct()
    )


def _semantic_dropped_gemm(side: DataFrame, threshold: float, id_col: str) -> DataFrame:
    """Dropped-id frame via ONE numpy GEMM per cluster: clusters are
    the natural blocks (the same layout as
    similarity.blocked_pairwise_above, whose 6dp-rounded GEMM cosines
    already hash-match the SQL oracle), so each task stacks its
    cluster, computes the full cosine matrix, and emits the ids with
    any EARLIER-id neighbor ≥ threshold. Task memory is O(n_c²) — the
    reason SemDeDup deployments run large k (small clusters)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField(id_col, T.LongType())])

    def per_cluster(key, pdf):
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        V = np.stack(pdf["_v"].to_numpy())[order]
        if len(ids) < 2:
            return pd.DataFrame({id_col: []}).astype({id_col: "int64"})
        n = np.linalg.norm(V, axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.round((V @ V.T) / np.outer(n, n), 6)
        iu, ju = np.triu_indices(len(ids), k=1)
        hits = cos[iu, ju] >= threshold
        dropped = np.unique(ju[hits])
        return pd.DataFrame({id_col: ids[dropped].astype("int64")})

    return (
        side.select(F.col(id_col).cast("long").alias(id_col), "_v", "cluster")
        .groupBy("cluster")
        .applyInPandas(per_cluster, schema)
    )
