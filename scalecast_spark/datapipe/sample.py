"""Deterministic sampling for reproducible dataset curation.

``sample(fraction, seed)`` in any engine draws from engine-specific
RNG state — re-running on a different cluster, partition layout, or
engine changes the sample. Training-data curation wants the OPPOSITE:
the sample is a pure function of the data, reproducible everywhere and
auditable row-by-row. The standard trick: keep a row iff the first 8
hex chars of md5(key ‖ salt) fall below rate · 2^32 — a uniform
deterministic draw per key, stable across engines (and therefore
hash-checkable against the DuckDB oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

_M32 = float(1 << 32)


def _bucket(key_col, salt: str) -> "F.Column":
    h = F.md5(F.concat(key_col.cast("string"), F.lit(":" + salt)))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("double") / F.lit(_M32)


def deterministic_sample(
    df: DataFrame, rate: float, key_col: str, salt: str = "sample"
) -> DataFrame:
    """Keep ~rate of rows, chosen by md5(key:salt) — the same rows
    survive on every engine, cluster size, and run. Pure scan-side
    filter: pushes to the source, no shuffle, no RNG state."""
    return df.filter(_bucket(F.col(key_col), salt) < rate)


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    stratum_col: str,
    key_col: str,
    default_rate: float = 0.0,
    salt: str = "sample",
) -> DataFrame:
    """Per-stratum deterministic rates (e.g. downsample crawl dumps,
    keep all curated sources): rate = rates.get(stratum, default).
    Same scan-side filter shape — the rate map compiles to a CASE
    expression, so Catalyst still pushes the whole predicate down."""
    rate = F.lit(float(default_rate))
    expr = None
    for s, r in sorted(rates.items()):
        cond = F.col(stratum_col) == s
        expr = F.when(cond, float(r)) if expr is None else expr.when(cond, float(r))
    rate = expr.otherwise(float(default_rate)) if expr is not None else rate
    return df.filter(_bucket(F.col(key_col), salt) < rate)


def cap_per_group(
    df: DataFrame,
    group_col: str,
    cap: int,
    key_col: str,
    salt: str = "cap",
) -> DataFrame:
    """Keep at most ``cap`` rows per group — the standard per-domain
    cap in corpus curation (no single crawl domain may dominate the
    training mix). Which rows survive is a pure function of the data:
    rank within the group by md5(key:salt) (a deterministic uniform
    draw, same trick as ``deterministic_sample``) with the raw key as
    tie-break, keep rank ≤ cap.

    Scale shape: one hash-partition shuffle on ``group_col`` + a
    per-group window sort. Rank ≤ cap is rank-limited, so Spark's
    WindowGroupLimit pushes the limit into the sort (top-cap heap per
    group, not a full group sort). Hot groups are exactly the groups
    the cap exists to shrink; AQE skew split covers the read side.
    """
    h = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(":" + salt)))
    w = Window.partitionBy(group_col).orderBy(h, F.col(key_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )


def sample_to_token_budget(
    df: DataFrame,
    budget: float,
    weight_col: str,
    key_col: str,
    salt: str = "budget",
    n_buckets: int = 256,
) -> DataFrame:
    """Deterministic prefix sample that fills a global weight budget
    (e.g. "give me ~10B training tokens"): order every row by
    (md5-bucket, md5, key) and keep the maximal prefix whose cumulative
    ``weight_col`` stays ≤ ``budget``. Equivalent to the single global
    cumulative-sum window

        SUM(w) OVER (ORDER BY bucket, h, key) <= budget

    but executed WITHOUT a global sort: per-bucket totals (n_buckets
    rows) come to the driver, a prefix scan finds the boundary bucket,
    and only that ONE bucket (~1/n_buckets of the data) pays a
    single-partition cumulative window; everything before it is a pure
    scan-side filter. Driver state is n_buckets rows regardless of
    data size.
    """
    h = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(":" + salt)))
    bucket = F.conv(F.substring(h, 1, 2), 16, 10).cast("int") % n_buckets
    with_b = df.withColumn("_h", h).withColumn("_b", bucket)
    totals = {
        r["_b"]: r["_w"]
        for r in with_b.groupBy("_b").agg(F.sum(weight_col).alias("_w")).collect()
    }
    acc = 0.0
    boundary, before = None, 0.0
    for b in range(n_buckets):
        w = float(totals.get(b, 0.0))
        if acc + w > budget:
            boundary, before = b, acc
            break
        acc += w
    if boundary is None:  # whole corpus fits
        return df
    full = with_b.filter(F.col("_b") < boundary)
    cum = Window.partitionBy("_b").orderBy("_h", F.col(key_col)).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    edge = (
        with_b.filter(F.col("_b") == boundary)
        .withColumn("_cum", F.sum(weight_col).over(cum))
        .filter(F.col("_cum") <= budget - before)
        .drop("_cum")
    )
    return full.unionByName(edge).drop("_h", "_b")


def pack_sequences(
    df: DataFrame,
    capacity: float,
    weight_col: str,
    key_col: str,
    salt: str = "pack",
    n_buckets: int = 256,
) -> DataFrame:
    """Greedy sequence packing for training-batch construction: stream
    the corpus in deterministic (md5-bucket, md5, key) order and close
    a bin whenever the next document would push its ``weight_col`` sum
    (token count) past ``capacity``. Returns (key, bucket, bin) — bins
    are 0-based per bucket, so (bucket, bin) is the global pack id.
    Documents heavier than ``capacity`` get a bin of their own.

    Packing is inherently sequential, so the parallel axis is the md5
    bucket. The frame is hash-repartitioned by ``_b`` (every bucket
    lands whole in exactly one partition) and ALL of a partition's
    buckets pack in ONE mapInPandas task — one Arrow round-trip per
    task, a single sort by (bucket, hash, key), and a greedy linear
    pass that resets per bucket. A per-bucket ``applyInPandas`` would
    pay one Arrow round-trip + pandas construction per bucket (256 of
    them). Deterministic end-to-end — the whole pack replays as a
    per-bucket recursive CTE in SQL.

    Memory note: a task materializes its partition's (key, weight,
    hash) rows — its buckets-per-partition share of the corpus; size
    ``n_buckets`` >= shuffle partitions so buckets stay task-bounded.
    """
    import pandas as pd

    h = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(":" + salt)))
    bucket = F.conv(F.substring(h, 1, 2), 16, 10).cast("int") % n_buckets
    src = df.select(
        F.col(key_col),
        F.col(weight_col).cast("double").alias("_w"),
        h.alias("_h"),
        bucket.alias("_b"),
    )
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            src.schema[key_col],
            T.StructField("bucket", T.IntegerType()),
            T.StructField("bin", T.IntegerType()),
        ]
    )

    def pack_partition(batches):
        chunks = list(batches)
        if not chunks:
            return
        pdf = (
            pd.concat(chunks, ignore_index=True)
            if len(chunks) > 1 else chunks[0]
        )
        # one stable sort puts every bucket's rows in its (_h, key)
        # stream order; the greedy fold then just resets per bucket
        pdf = pdf.sort_values(["_b", "_h", key_col]).reset_index(drop=True)
        bins = []
        fill, cur, prev_b = 0.0, 0, None
        for b, w in zip(pdf["_b"], pdf["_w"]):
            if b != prev_b:
                prev_b, cur, fill = b, 0, w
            elif fill + w <= capacity:
                fill += w
            else:
                cur += 1
                fill = w
            bins.append(cur)
        yield pd.DataFrame(
            {
                key_col: pdf[key_col],
                "bucket": pdf["_b"].astype("int32"),
                "bin": pd.Series(bins, dtype="int32"),
            }
        )

    from scalecast_spark.datapipe.dedup import _spread

    # explicit count: a column-only repartition is AQE-coalescible and
    # this frame is byte-small — coalescing would serialize all the
    # buckets in one task (the _spread rationale)
    return src.repartition(_spread(src), F.col("_b")).mapInPandas(
        pack_partition, out_schema
    )


def hash_split(
    df: DataFrame,
    fracs: dict[str, float],
    key_col: str,
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/val/test split: each row's md5(key:salt)
    draw lands in one of the cumulative ``fracs`` intervals (insertion
    order; fractions must sum to ≤1, remainder → last split). Adds a
    ``split`` column. Pure scan-side projection — the SAME rows land
    in the same split on every engine, cluster, and run, and a row can
    never appear in two splits (the leakage failure mode of
    engine-RNG splits)."""
    total = sum(fracs.values())
    if not fracs or total > 1.0 + 1e-9:
        raise ValueError(f"fracs must be non-empty and sum to <=1, got {fracs}")
    u = _bucket(F.col(key_col), salt)
    names = list(fracs)
    expr = F.lit(names[-1])
    acc = 0.0
    bounds = []
    for name in names[:-1]:
        acc += fracs[name]
        bounds.append((name, acc))
    for name, hi in reversed(bounds):
        expr = F.when(u < hi, F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr)


def mix_sources(
    df: DataFrame,
    weights: dict[str, float],
    budget: float,
    weight_col: str,
    key_col: str,
    group_col: str = "source",
    salt: str = "mix",
) -> DataFrame:
    """Source-mixture sampling (the DoReMi/Pile-style static mixture):
    give each group ``weights[g] · budget`` of the ``weight_col``
    budget (tokens/chars) and keep each group's maximal md5-ordered
    prefix within its allowance. Groups absent from ``weights`` are
    dropped; an over-allocated group simply keeps everything it has.

    Shape: ONE cumulative-sum window partitioned by group (shuffle by
    group + in-group sort) — no global sort. With very few giant
    groups the per-group sort dominates; the two-phase bucketed trick
    in sample_to_token_budget applies per (group, bucket) if that ever
    binds. Deterministic end-to-end (md5 order), so the mixture is
    reproducible and SQL-restatable."""
    if not weights:
        raise ValueError("weights must be non-empty")
    items = sorted(weights.items())
    alloc = F.create_map(
        *[F.lit(x) for kv in items for x in (kv[0], float(kv[1]) * budget)]
    )
    h = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(":" + salt)))
    cum = Window.partitionBy(group_col).orderBy("_h", F.col(key_col)).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        df.filter(F.col(group_col).isin([k for k, _ in items]))
        .withColumn("_h", h)
        .withColumn("_allow", alloc[F.col(group_col)])
        .withColumn("_cum", F.sum(weight_col).over(cum))
        .filter(F.col("_cum") <= F.col("_allow"))
        .drop("_h", "_allow", "_cum")
    )
