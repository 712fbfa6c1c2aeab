"""Deduplication operators — exact and near-dup, designed for 100 TB.

Strategy notes (scale first):
  * exact: hash-groupBy on md5(normalized text). The shuffle carries
    (hash, doc_id) pairs only — never document bodies.
  * minhash: per-doc signature via explode(shingles) → groupBy(doc) of
    per-permutation minima. The shingle explosion is map-side; the
    shuffle reduces to n_docs × n_hashes longs. LSH banding then groups
    docs into (band, band-signature) buckets and pairs only the members
    of each bucket — the classic sub-quadratic path.
  * verification: exact n-gram Jaccard on candidate pairs only.
  * simhash: 64-bit sign-aggregated fingerprint; near-dups differ in
    few bits; bucket on 16-bit chunks for sub-quadratic candidate gen.

All hashing is md5-derived (bit-identical across engines) rather than
Spark-internal ``hash()``, so signatures are portable and
oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, Window as W


def _spread(df: DataFrame) -> int:
    """Explicit partition count for pre-explode repartitions: an
    explicit number opts the exchange out of AQE partition coalescing,
    which would shrink a byte-small-but-compute-heavy stage back to
    one task (AQE sizes by input bytes, blind to per-row cost)."""
    try:
        return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        return df.sparkSession.sparkContext.defaultParallelism


def normalize_text(col):
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    ids_only: bool = False,
) -> DataFrame:
    """Keep the lowest-id document per exact (normalized) content hash.

    ``ids_only`` returns just the surviving ids via groupBy-min — the
    scale shape when the caller only needs the keep-list (e.g. to
    semi-join the corpus later): the shuffle carries (hash, id) pairs
    and there is no per-group sort. The default keeps the full rows
    (row_number window) for callers that want the surviving documents
    in one pass."""
    h = F.md5(normalize_text(F.col(text_col)))
    if ids_only:
        return (
            df.select(h.alias("_h"), id_col)
            .groupBy("_h")
            .agg(F.min(id_col).alias(id_col))
            .select(id_col)
        )
    w = W.partitionBy("_h").orderBy(id_col)
    return (
        df.withColumn("_h", h)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_h", "_rn")
    )


def _shingles_of_words(words, n: int = 3):
    """Column expression: distinct word n-gram shingles of a words-array
    column (docs shorter than ``n`` words yield one shingle of all
    their words, matching the classic shingling convention)."""
    from scalecast_spark.datapipe.text import ngram_chain

    acc = ngram_chain(words, n)
    # short docs (< n words): one shingle of the full word list
    short = F.array(F.array_join(words, " "))
    return F.filter(
        F.array_distinct(F.when(F.size(words) >= n, acc).otherwise(short)),
        lambda s: F.length(s) > 0,
    )


def shingle_array(text_col, n: int = 3):
    """Column expression: distinct word n-gram shingles of a text
    column as an array (see :func:`_shingles_of_words`).

    Built as a ZIP-CHAIN of n shifted slices, NOT as
    ``transform(indices, i -> slice(words, i, n))``: HOF lambdas are
    interpreted with no common-subexpression elimination, so a lambda
    body referencing ``words`` re-evaluates the whole
    regexp+split+filter chain PER ELEMENT — measured 20x slower at
    sf0.1. Every ``words`` reference here is a top-level child, which
    codegen evaluates once per row in a projection — but not inside an
    interpreted Generate (see :func:`word_shingles`).

    Empty words are dropped BEFORE shingling (Spark ``trim`` strips
    only spaces, so a newline-led text otherwise smuggles a phantom ''
    word into its shingles — caught by the hypothesis parity test; the
    DuckDB oracle applies the same list_filter)."""
    from scalecast_spark.datapipe.text import split_words

    return _shingles_of_words(split_words(normalize_text(text_col)), n)


def word_shingles(
    df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id",
    array_col: str | None = None,
) -> DataFrame:
    """Explode each doc into its distinct word n-gram shingles
    → (id, shingle). Pass ``array_col`` to explode a prebuilt
    :func:`shingle_array` column instead of re-deriving from text.

    The words array is projected as its own column before the explode:
    the Generate evaluates its array expression interpreted, with no
    subexpression elimination, so an inline :func:`shingle_array`
    would run the regexp/split/filter chain once per ``words``
    reference (n+3 times per doc)."""
    from scalecast_spark.datapipe.text import split_words

    # single-file sources arrive as ONE partition; spread the explode
    # (the expensive step) across the cluster before it runs. The
    # partition COUNT is explicit: a column-only repartition lets AQE
    # coalesce a byte-small shuffle back to one partition, which
    # serializes the per-row shingle work AQE can't see (verified 6x
    # slowdown at sf0.1).
    src = df.repartition(_spread(df), F.col(id_col))
    if array_col:
        sh = F.col(array_col)
    else:
        src = src.select(
            id_col, split_words(normalize_text(F.col(text_col))).alias("_ws")
        )
        sh = _shingles_of_words(F.col("_ws"), n)
    return src.select(id_col, F.explode(sh).alias("shingle"))


#: Carter-Wegman mixing constants (odd multipliers < 2^30 so a*x stays
#: well inside a signed long for 32-bit x; adders arbitrary). Hash p is
#: slice (p % 4) of the single md5 digest, mixed by group (p // 4):
#: group 0 = the raw slice, group g >= 1 = (a_g * slice + b_g) mod 2^32
#: — the standard universal-hash family, so n hashes cost ONE md5 per
#: shingle instead of ceil(n/4).
_MIX = [
    (0x3B9ACA07, 0x7F4A7C15),
    (0x2545F491, 0x9E3779B9),
    (0x19660D01, 0x85EBCA6B),
    (0x27D4EB2F, 0x165667B1),
    (0x119DE1F3, 0xC2B2AE35),
    (0x2AB57B63, 0x38495AB5),
    (0x174DD1CB, 0x61C88647),
]
_M32 = 1 << 32


def _hashes_from_digest(digest, n_hashes: int) -> list:
    """n 32-bit hash columns from ONE md5 hex digest: four 8-hex
    slices + Carter-Wegman mixes of those slices."""
    if n_hashes > 4 * (len(_MIX) + 1):
        raise ValueError(f"at most {4 * (len(_MIX) + 1)} hashes supported")
    slices = [
        F.conv(F.substring(digest, s * 8 + 1, 8), 16, 10).cast("long")
        for s in range(min(4, n_hashes))
    ]
    out = []
    for p in range(n_hashes):
        g, s = divmod(p, 4)
        if g == 0:
            out.append(slices[s])
        else:
            a, b = _MIX[g - 1]
            out.append((slices[s] * F.lit(a) + F.lit(b)) % F.lit(_M32))
    return out


def minhash_signatures(
    shingles: DataFrame, n_hashes: int = 16, id_col: str = "doc_id"
) -> DataFrame:
    """(id, minhash_0..minhash_{n-1}): minima in ONE groupBy pass (all
    aggregates share the shuffle). ONE md5 per shingle row — the
    digest is a scalar column, so whole-stage codegen's subexpression
    elimination computes it once for all n hash exprs."""
    src = shingles.withColumn("_d0", F.md5(F.col("shingle")))
    aggs = [
        F.min(h).alias(f"minhash_{p}")
        for p, h in enumerate(_hashes_from_digest(F.col("_d0"), n_hashes))
    ]
    return src.groupBy(id_col).agg(*aggs)


def minhash_signatures_projection(
    df: DataFrame, n: int = 3, n_hashes: int = 16,
    text_col: str = "text", id_col: str = "doc_id",
    array_col: str | None = None,
) -> DataFrame:
    """Signatures straight from a text frame: :func:`minhash_signatures`
    over :func:`word_shingles` (pass ``array_col`` to reuse a prebuilt
    :func:`shingle_array` column)."""
    return minhash_signatures(
        word_shingles(df, n, text_col, id_col, array_col), n_hashes, id_col
    )


def _band_buckets(
    signatures: DataFrame, bands: int, id_col: str, extra_cols: list[str] = []
) -> DataFrame:
    """(id, [extra...], band, bh) bucket rows shared by every LSH
    bucketing path. Validates the signature/band fit: bands that don't
    divide the signature length would either hash EMPTY column slices
    (every doc in one bucket → the 'sub-quadratic' join silently goes
    full cross product) or drop trailing minhashes (silent recall
    change) — both fail loudly instead."""
    sig_cols = [c for c in signatures.columns if c.startswith("minhash_")]
    if not sig_cols or bands <= 0 or len(sig_cols) % bands != 0:
        raise ValueError(
            f"bands={bands} must evenly divide the {len(sig_cols)} "
            "minhash columns (equal non-empty bands)"
        )
    rows_per_band = len(sig_cols) // bands
    band_exprs = []
    for b in range(bands):
        cols = sig_cols[b * rows_per_band : (b + 1) * rows_per_band]
        band_exprs.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws(",", *cols)).alias("bh"),
            )
        )
    return signatures.select(
        id_col, *extra_cols, F.explode(F.array(*band_exprs)).alias("bk")
    ).select(id_col, *extra_cols, "bk.band", "bk.bh")


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 4,
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Band the signature, bucket on (band, band-hash), emit candidate
    (id_a < id_b) pairs. Only docs sharing a full band collide — pair
    generation never goes quadratic in corpus size.

    Plan: ONE ``groupBy(band, bh)`` collects each bucket's sorted ids
    (map-side partial, so the signature plan runs once; a self-join of
    the band table evaluates it once per side). Singleton buckets stop
    there. The members of the remaining buckets are posexploded, each
    carrying the ids that follow it, and repartitioned by the pair's
    first id (the member's own id; the hub in a capped star), so a hot
    bucket's pairs are generated by every task, not by the one task
    that owns the bucket. The trailing ``distinct`` drops the repeats
    of pairs that collide on several bands; that partitioning already
    clusters it, so it adds no shuffle.

    ``max_bucket_size`` caps the per-bucket pair blowup that bucketing
    alone cannot prevent: a template family of n near-identical docs
    shares EVERY band hash, so one bucket emits n²/2 pairs — the
    classic web-crawl dedup straggler, and AQE can't shrink it because
    the pairs ARE the output. Buckets with more than the cap rows
    (NULL-id rows count toward the size, never pair) switch from
    pairwise to a MIN-ID STAR: the bucket's lowest id becomes the hub
    and each other member pairs with the hub only — O(n) pairs, and
    the downstream transitive closure (duplicate_clusters) still
    collapses the whole family into one component. The trade, on
    purpose: a member that near-dups another member but NOT the hub is
    missed — vanishingly unlikely in an oversized bucket, since every
    member already agrees with the hub on a full minhash band. Small
    buckets are exact-pairwise as before; ``None`` (default) disables
    the cap, preserving exact semantics.

    Hot-bucket posture: uncapped, a bucket of n members still emits
    n²/2 pairs, and the one task that owns the bucket collects it and
    writes its O(n²) member slices into the spread — a one-task
    straggler at scale under this plan or a self-join plan.
    ``max_bucket_size`` is the remedy. Measured on 4 cores with sf0.1's
    5,000 documents plus 3,000 near-identical ones, signatures not
    cached, warm runs: uncapped (4,541,173 pairs) 1.67-2.00 s here vs
    1.73-2.21 s for the self-join plan; ``max_bucket_size=100`` (45,672
    pairs) 0.59-0.70 s vs 0.87-1.06 s."""
    buckets = _band_buckets(signatures, bands, id_col)
    if max_bucket_size is not None and max_bucket_size < 2:
        raise ValueError(f"max_bucket_size must be >= 2, got {max_bucket_size}")
    members = (
        buckets.groupBy("band", "bh")
        .agg(
            F.sort_array(F.collect_list(id_col)).alias("_ids"),
            F.count("*").alias("_n"),
        )
        .filter(F.size("_ids") > 1)
        .select("_ids", "_n", F.posexplode("_ids").alias("_pos", "_id"))
    )
    later = F.slice(
        "_ids", F.col("_pos") + 2, F.size("_ids") - F.col("_pos") - 1
    )
    id_a, partners = F.col("_id"), later
    if max_bucket_size is not None:
        star = F.col("_n") > max_bucket_size
        id_a = F.when(star, F.element_at("_ids", 1)).otherwise(id_a)
        partners = F.when(star, F.array("_id")).otherwise(later)
    return (
        members.select(id_a.alias("id_a"), partners.alias("_bs"))
        .repartition(_spread(signatures), "id_a")
        .select("id_a", F.explode("_bs").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )


def jaccard_pairs(
    shingles: DataFrame,
    candidates: DataFrame | None = None,
    id_col: str = "doc_id",
    min_jaccard: float = 0.0,
) -> DataFrame:
    """Exact set Jaccard of the (id, shingle) rows of doc pairs that
    share at least one shingle -> (id_a, id_b, inter, jaccard).

    Each shingle is hashed to a long (collision odds ~ |doc|^2 / 2^64),
    one ``groupBy(id)`` collects each doc's distinct hashes into an
    array, and :func:`jaccard_pairs_arrays` verifies the pairs. Repeated
    (id, shingle) rows count once.

    With ``candidates`` (the LSH path) only those pairs are verified;
    ``candidates`` is read once, so its upstream plan runs once. Pairs
    that share no shingle, or name an id without shingle rows, are not
    emitted. Without ``candidates``, the pairs (id_a < id_b) come from a
    self-join on the shingle hash: only docs sharing a shingle meet, but
    a hot shingle still expands quadratically, so use the LSH path at
    scale.
    """
    hashed = shingles.select(id_col, F.xxhash64("shingle").alias("_sh"))
    if candidates is None:
        a = hashed.select(F.col(id_col).alias("id_a"), "_sh")
        b = hashed.select(F.col(id_col).alias("id_b"), "_sh")
        candidates = (
            a.join(b, "_sh")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
    arrays = hashed.groupBy(id_col).agg(F.collect_set("_sh").alias("_sh_arr"))
    return jaccard_pairs_arrays(
        arrays, candidates, id_col, "_sh_arr", min_jaccard
    ).filter(F.col("inter") > 0)


def jaccard_pairs_arrays(
    arrays: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    array_col: str = "_sh_arr",
    min_jaccard: float = 0.0,
) -> DataFrame:
    """Exact Jaccard for candidate pairs from PER-DOC arrays of distinct
    shingles: a :func:`shingle_array` column, or the hashed arrays
    :func:`jaccard_pairs` collects from an exploded shingle frame.

    Two joins attach each side's array to the pair, then one
    ``array_intersect`` per pair computes |A∩B| in-stage — one
    O(|A|+|B|) hash-set probe per pair inside codegen; no pair×shingle
    rows go through a shuffle. Join strategy is left to AQE: it
    broadcasts the array side when small and shuffles it when not.
    Candidate pairs that share no shingle come out with ``inter`` 0.
    """
    sz = F.size(F.col(array_col))
    arr_a = arrays.select(
        F.col(id_col).alias("id_a"), F.col(array_col).alias("_arr_a"),
        sz.alias("sz_a"),
    )
    arr_b = arrays.select(
        F.col(id_col).alias("id_b"), F.col(array_col).alias("_arr_b"),
        sz.alias("sz_b"),
    )
    out = (
        candidates.join(arr_a, "id_a")
        .join(arr_b, "id_b")
        .withColumn(
            "inter", F.size(F.array_intersect("_arr_a", "_arr_b")).cast("long")
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6
            ),
        )
        .select("id_a", "id_b", "inter", "jaccard")
    )
    if min_jaccard > 0:
        out = out.filter(F.col("jaccard") >= min_jaccard)
    return out


def duplicate_clusters(
    pairs: DataFrame, max_iter: int = 50, checkpoint_every: int = 5
) -> DataFrame:
    """Connected components over a near-duplicate pair graph — the final
    step of corpus near-dedup: LSH/jaccard emits PAIRS, but keeping one
    document per duplicate GROUP needs the transitive closure (a~b,
    b~c ⇒ {a,b,c} one cluster).

    Min-label propagation: every node starts labeled with itself; each
    round takes the min of its own and its neighbors' labels; a round
    where nothing changes ends the loop, and exhausting ``max_iter``
    RAISES rather than silently returning split components (kept
    duplicates). Rounds needed ≈ cluster
    diameter (near-dup clusters are tight — typically ≤ 3-4). Per
    round: one join + one aggregate over the LABEL frame, whose size is
    the number of documents that appear in any pair — dup-rate-bounded,
    orders of magnitude smaller than the corpus; the edge list is
    localCheckpoint-ed once at entry, so the corpus (and whatever
    pipeline produced ``pairs``) is never re-scanned by the rounds.
    The convergence check collects ONE count per round.
    Long lineage is truncated with localCheckpoint every
    ``checkpoint_every`` rounds (iterative-algorithm hygiene — without
    it round k replans rounds 1..k-1).

    Returns (node, cluster) where cluster is the min doc id of the
    component — ``node == cluster`` marks the canonical survivor.
    """
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    # materialize ONCE at entry: edges is read by every round's join
    # AND feeds the label frame — left lazy, each round's action would
    # re-evaluate the whole upstream pair pipeline (for LSH input, the
    # full shingle→minhash→band→verify chain, i.e. ~2 corpus re-scans
    # per round)
    edges = edges.localCheckpoint(eager=True)
    labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    for i in range(max_iter):
        nbr = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_min"))
        )
        new_labels = (
            labels.join(nbr, labels.node == nbr.src, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nbr_min", F.col("label"))
                ).alias("label"),
            )
        )
        if (i + 1) % checkpoint_every == 0:
            new_labels = new_labels.localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels.select("node", F.col("label").alias("cluster"))
    # falling through would silently return PARTIAL components (one
    # real cluster split into several, each with its own "canonical"
    # survivor — i.e. kept duplicates); labels move one hop per round,
    # so rounds needed = component diameter. Fail loudly instead.
    raise RuntimeError(
        f"duplicate_clusters did not converge in {max_iter} rounds — a "
        f"component has diameter > {max_iter}; raise max_iter"
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 60) -> DataFrame:
    """SimHash (up to 60 bits): for each word, md5 → take ``bits``
    bits; sum (+1/-1) per bit position across words; sign →
    fingerprint bit.

    Tokenization stays in the JVM (identical normalize/split/distinct
    byte semantics — Python str.lower/\\s+ differ from Spark's for
    exotic unicode); ONE Arrow kernel per task then does md5 + bit
    counting + sign per doc, with no explode, no wide aggregate and no
    shuffle beyond the compute-spreading repartition. Each word's hash
    is the md5's first 15 hex chars (``int(hex[:15], 16)`` IS Spark's
    ``conv(_, 16, 10)``), so fingerprints are integer-exact against
    the same bit arithmetic replayed in SQL. A doc with no non-empty
    words has no fingerprint and no output row.

    The effective cap is 60 because ``conv`` of 16 hex chars can
    overflow a signed long; 61-64 are accepted for back-compat with the
    old bits=64 default and CLAMP to 60 with a warning; >64 raises.
    """
    if bits > 64:
        raise ValueError(
            f"simhash accepts at most 64 bits (61-64 clamp to the 60-bit "
            f"signed-long md5 slice); got {bits}"
        )
    if bits > 60:
        # compat shim for callers of the old bits=64 default, which was
        # silently clamped to 60 — same clamp, now with a warning
        import warnings

        warnings.warn(
            f"simhash(bits={bits}) clamped to 60 (signed-long md5 slice); "
            "pass bits<=60 to silence",
            stacklevel=2,
        )
        bits = 60
    import pyarrow as pa
    from pyspark.sql import types as T

    words_arr = F.array_distinct(
        F.split(normalize_text(F.col(text_col)), " ")
    )
    base = df.repartition(_spread(df), F.col(id_col)).select(
        id_col, words_arr.alias("_ws")
    )
    schema = T.StructType(
        [df.schema[id_col], T.StructField("simhash", T.LongType())]
    )

    def fingerprint(batches):
        import hashlib

        import numpy as np

        memo: dict = {}  # word -> 60-bit hash; words repeat zipfian
        bitpos = np.arange(bits, dtype=np.int64)

        def word_hash(w):
            h = memo.get(w)
            if h is None:
                h = int(
                    hashlib.md5(w.encode("utf-8")).hexdigest()[:15], 16
                )
                memo[w] = h
            return h

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            ids = batch.column(0)
            ws = batch.column(1).to_pylist()
            keep, fps = [], []
            for r in range(n):
                hs = [word_hash(w) for w in (ws[r] or ()) if w]
                if not hs:
                    continue  # no non-empty words: no output row
                H = np.asarray(hs, dtype=np.int64)
                ones = ((H[:, None] >> bitpos) & 1).sum(axis=0)
                counts = 2 * ones - len(hs)  # (+1/-1 sums, exact ints)
                fp = int(((counts > 0).astype(np.int64) << bitpos).sum())
                keep.append(r)
                fps.append(fp)
            if not keep:
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    ids.take(pa.array(keep, type=pa.int32())),
                    pa.array(fps, type=pa.int64()),
                ],
                names=[id_col, "simhash"],
            )

    return base.mapInArrow(fingerprint, schema)


#: internal scratch caches, at most ONE live per tag: each new call
#: swaps out (unpersists) the previous call's entry, so long-lived
#: sessions looping over corpora never accumulate pinned cache
#: entries
_SCRATCH_CACHES: dict = {}

_INVOCATION_COUNTER = __import__("itertools").count(1)


def _invocation_salt():
    """A per-call unique literal column (``_inv_salt``): adding it to
    a cached projection makes the plan unique to THIS invocation, so
    Spark's CacheManager can never serve the entry warm to a later
    identical call (each call computes from its inputs), while the
    entry still serves
    every consumer derived from the same frame WITHIN the call. The
    column is constant per row, so it run-length-encodes to nothing
    in the InMemoryRelation; callers drop it right after caching."""
    return F.lit(next(_INVOCATION_COUNTER)).alias("_inv_salt")


def _scratch_cache(tag: str, df: DataFrame) -> DataFrame:
    """Register an internal .cache() under ``tag``, evicting the
    previous holder of the tag. An older result that is still lazy
    when its cache is swapped out simply recomputes — correctness is
    unaffected, only the recompute cost returns.

    SAME-PLAN calls reuse the live entry instead of swapping: Spark's
    CacheManager dedupes cached entries by logical plan, so
    "unpersist old, register new" on an identical plan would remove
    the very entry the new call just registered — un-caching the hot
    path while reporting it cached (a repeated identical call, e.g. a
    min-of-N bench pass, measured 2.2 s -> 7.8 s under that bug)."""
    old = _SCRATCH_CACHES.get(tag)
    if old is not None:
        try:
            if old.sameSemantics(df):
                return old  # one shared CacheManager entry — keep it hot
        except Exception:
            pass
        try:
            old.unpersist()
        except Exception:
            pass
        _SCRATCH_CACHES.pop(tag, None)
    _SCRATCH_CACHES[tag] = df
    return df


def release_scratch_caches() -> None:
    """Eagerly unpersist every internal scratch cache (they are also
    swapped out automatically on each operator's next call)."""
    for tag in list(_SCRATCH_CACHES):
        old = _SCRATCH_CACHES.pop(tag)
        try:
            old.unpersist()
        except Exception:
            pass


def hamming_near_pairs(
    df: DataFrame,
    hash_col: str,
    id_col: str = "doc_id",
    bits: int = 64,
    max_hamming: int = 3,
    max_bucket_size: int | None = None,
    cache: bool = True,
) -> DataFrame:
    """Generalized Hamming-distance candidate pairs over any packed
    hash column (simhash, pHash, ...): split the ``bits``-bit hash
    into ``max_hamming + 1`` bands — pigeonhole: two hashes within
    ``max_hamming`` bits MUST agree exactly on at least one band — so
    the join is a per-band equi-join on small ints, then an exact
    bit_count verify. Recall 1.0 within the radius, never an
    all-pairs product; shuffle carries (id, hash) only.

    ``max_bucket_size`` is the same hot-bucket cap as
    :func:`lsh_candidate_pairs`: a family of n near-identical hashes
    shares every band chunk, so one bucket emits n²/2 pairs. Oversized
    band buckets collapse to a min-id star (pairs still pass the exact
    bit_count verify, so a false-colliding member beyond the radius is
    filtered, never mislabeled); the trade — a member within radius of
    another member but not of the hub is missed — mirrors the LSH cap
    and only bites inside buckets that are near-identical families by
    construction. Default None = exact pigeonhole semantics."""
    bands = max_hamming + 1
    if max_bucket_size is not None and max_bucket_size < 2:
        raise ValueError(
            f"max_bucket_size must be >= 2, got {max_bucket_size}"
        )
    if bands > bits:
        raise ValueError(
            f"max_hamming={max_hamming} needs {bands} non-empty bands "
            f"but the hash has only {bits} bits"
        )
    # distribute bits across bands as evenly as possible: a fixed
    # ceil-width would push the last band past bit 64, where Spark's
    # shift ops WRAP the shift count mod 64 — band `bands-1` would
    # silently duplicate band 0 and the pigeonhole guarantee would
    # fail exactly at radii 8/16/32 (missing true pairs). Per-band
    # (shift, width) with sum(width) == bits keeps every band real.
    base_w, extra = divmod(bits, bands)
    widths = [base_w + (1 if i < extra else 0) for i in range(bands)]
    shifts = [sum(widths[:i]) for i in range(bands)]
    if bands > 1 and max_bucket_size is None:
        # ONE self-join on the exploded (band, key) table instead of one
        # join per band: the same total bytes (bands× rows, once) go
        # through a single exchange pair and one join, where the
        # per-band form below runs 2×bands evaluations of the projection
        # and bands separate exchanges + a union. Pair set identical — a
        # pair collides on band i in the per-band form iff the exploded
        # rows (i, key) match, and the trailing distinct dedupes
        # multi-band collisions either way. The capped (max_bucket_size)
        # path keeps the per-band form: the star-collapse is per
        # band-chunk by construction.
        keys = F.array(*[
            F.col(hash_col)
            if widths[i] >= 64
            else F.shiftrightunsigned(F.col(hash_col), shifts[i])
            .bitwiseAND(F.lit((1 << widths[i]) - 1))
            for i in range(bands)
        ])
        b = df.select(
            id_col, hash_col, F.posexplode(keys).alias("_band", "_key")
        )
        if cache:
            b = _scratch_cache(
                "hamming_bands",
                b.withColumn("_inv_salt", _invocation_salt()).cache(),
            ).drop("_inv_salt")
        a_, b_ = b.alias("a"), b.alias("b")
        cand = a_.join(
            b_,
            (F.col("a._band") == F.col("b._band"))
            & (F.col("a._key") == F.col("b._key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        ).select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col(f"a.{hash_col}").alias("_ha"),
            F.col(f"b.{hash_col}").alias("_hb"),
        )
        hamming = F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb")))
        return (
            cand.distinct()
            .withColumn("hamming", hamming)
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming")
        )
    chunks = []
    for i in range(bands):
        if widths[i] >= 64:  # single-band degenerate case: whole hash
            chunks.append(F.col(hash_col).alias(f"_hc{i}"))
        else:
            chunks.append(
                F.shiftrightunsigned(F.col(hash_col), shifts[i])
                .bitwiseAND(F.lit((1 << widths[i]) - 1))
                .alias(f"_hc{i}")
            )
    b = df.select(id_col, hash_col, *chunks)
    if bands > 1 and cache:
        # every band contributes BOTH self-join sides (plus the star
        # pieces under a cap), so an uncached input would re-evaluate
        # the upstream hash computation 2*bands times — for a simhash
        # input that is 8x the md5 aggregation (measured 5s of a 6.8s
        # sf0.1 run). The cached projection is (id, hash, band ints):
        # ~40 bytes/row, the cheapest possible thing to keep hot.
        # Cache LIFETIME: bounded at one live entry — the previous
        # call's projection is unpersisted on each new call (and
        # eagerly via release_scratch_caches); cache=False skips
        # caching entirely when the caller manages persistence.
        # Invocation-salted: cloudpickle is deterministic, so
        # even a mapInArrow upstream (simhash) is plan-EQUAL across
        # identical calls and a later call would otherwise be served
        # this call's warm entry.
        b = _scratch_cache(
            "hamming_bands",
            b.withColumn("_inv_salt", _invocation_salt()).cache(),
        ).drop("_inv_salt")
    pieces = []
    for i in range(bands):
        src = b
        if max_bucket_size is not None:
            # bucket sizing via map-side-combined groupBy, then split
            # the cached projection on the OVERSIZED bucket set (few

            # by definition: <= n/cap) — a window count here would
            # shuffle the FULL signature table once per band just to
            # tag sizes (measured ~3x the whole uncapped join at
            # sf0.1). No broadcast hint: the oversized set is tiny in
            # healthy corpora and AQE broadcasts it then, but an
            # adversarial corpus where EVERY bucket overflows keeps a
            # shuffle join instead of an oversized broadcast.
            over = (
                b.groupBy(f"_hc{i}")
                .agg(F.count("*").alias("_bsz"))
                .filter(F.col("_bsz") > max_bucket_size)
                .select(f"_hc{i}")
            )
            small = b.join(over, f"_hc{i}", "left_anti")
            big = b.join(over, f"_hc{i}", "left_semi")
            hub_ids = big.groupBy(f"_hc{i}").agg(F.min(id_col).alias("_hub"))
            # the hub row itself supplies the hub hash (verify needs
            # both endpoints' hashes for the exact bit_count filter)
            hub = big.select(
                F.col(id_col).alias("_hub"),
                F.col(hash_col).alias("_hubhash"),
                f"_hc{i}",
            ).join(hub_ids, ["_hub", f"_hc{i}"])
            star = (
                big.join(hub, f"_hc{i}")
                .filter(F.col(id_col) != F.col("_hub"))
                .select(
                    F.col("_hub").alias("id_a"),
                    F.col(id_col).alias("id_b"),
                    F.col("_hubhash").alias("_ha"),
                    F.col(hash_col).alias("_hb"),
                )
            )
            pieces.append(star)
            src = small
        a_ = src.alias("a")
        b_ = src.alias("b")
        pieces.append(
            a_.join(
                b_,
                (F.col(f"a._hc{i}") == F.col(f"b._hc{i}"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            ).select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                F.col(f"a.{hash_col}").alias("_ha"),
                F.col(f"b.{hash_col}").alias("_hb"),
            )
        )
    cand = pieces[0]
    for p in pieces[1:]:
        cand = cand.unionByName(p)
    hamming = F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb")))
    return (
        cand.distinct()
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def cross_dedup(
    new_docs: DataFrame,
    existing_docs: DataFrame,
    k: int = 3,
    n_hashes: int = 4,
    bands: int = 4,
    min_jaccard: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    existing_sigs: DataFrame | None = None,
    max_bucket_size: int | None = None,
    broadcast_new: bool = True,
) -> DataFrame:
    """Incremental corpus dedup: drop every NEW document that is a
    near-duplicate (shingle Jaccard ≥ ``min_jaccard``) of ANY existing
    document — the dedup-the-next-crawl-against-the-training-set step
    every refresh pipeline runs. Returns the surviving new_docs rows.

    ``broadcast_new`` (default True) broadcasts the NEW side's band
    table into the bucket join: a crawl increment is small relative
    to the training corpus by this operator's own contract, and the
    broadcast turns the join's two sorted shuffles into one streamed
    pass over the existing bands (measured 4.8 s → 1.0 s at sf0.1).
    Set False when the increment itself is too large to broadcast
    (AQE then picks the join strategy from runtime sizes).

    Shape: both sides MinHash independently, the LSH bucket join is
    new×existing only (never existing×existing — the expensive side is
    assumed already deduped), and the exact Jaccard verify touches only
    candidate pairs via the array-intersect kernel — the same
    sub-quadratic machinery as the in-corpus headline. Ids may overlap
    across the two frames (they are different corpora); matching is by
    content only.

    ``existing_sigs`` takes PRECOMPUTED signatures for the existing
    side (columns: id + minhash_0..n-1, e.g. a persisted
    minhash_signatures output) so incremental runs don't re-shingle
    the full training set every refresh — only the new crawl pays the
    signature cost. The verify step is CANDIDATE-DRIVEN: both array
    sides semi-join to the candidate ids before any shingle array is
    built, so the shingle work is |candidates|-bounded and the
    existing corpus is scanned once, column-pruned, never re-shingled
    wholesale.

    ``max_bucket_size`` bounds the hot-bucket blowup on the EXISTING
    side: a template family in the training set that collides with
    new docs on a full band would pair every colliding new doc with
    all n family members. Oversized existing buckets keep only their
    ``max_bucket_size`` lowest ids — the members are near-identical
    by construction (full-band agreement), so matching any retained
    member decides the new doc's fate. The new side is never capped:
    every new doc needs its own keep/drop decision.

    Memory: without ``existing_sigs``, this call caches
    the EXISTING corpus's (id, shingle_array) projection under the
    ``cross_arr_old`` scratch tag (MEMORY_AND_DISK; shingle arrays run
    several times the size of the source text). That cache stays
    resident after this call returns, until the next cross_dedup call
    swaps it out or ``release_scratch_caches()`` drops it — call the
    latter after a one-shot dedup against a large training set."""

    def _sigs(df: DataFrame, array_col: str | None = None) -> DataFrame:
        sh = word_shingles(
            df, k, text_col=text_col, id_col=id_col, array_col=array_col
        )
        return minhash_signatures(sh, n_hashes=n_hashes, id_col=id_col).select(
            F.col(id_col), *[f"minhash_{i}" for i in range(n_hashes)]
        )

    # each side's shingles feed TWO consumers — the MinHash signatures
    # and the candidate verify — so a side's (id, shingle_array)
    # projection is computed once into a salted one-live-entry scratch
    # cache; the signatures explode the prebuilt array (same array,
    # same md5 minima) and the verify semi-joins the same cache. The
    # cache is a corpus-sized (id, array) projection — MEMORY_AND_DISK,
    # at most one live per tag — traded against a second scan+shingle
    # pass per side.
    new_arrs = _scratch_cache(
        "cross_arr_new",
        new_docs.select(
            F.col(id_col),
            shingle_array(F.col(text_col), k).alias("_sa"),
            _invocation_salt(),
        ).cache(),
    ).drop("_inv_salt")
    new_sigs = _sigs(new_arrs, array_col="_sa")
    if existing_sigs is None:
        ex_arrs = _scratch_cache(
            "cross_arr_old",
            existing_docs.select(
                F.col(id_col),
                shingle_array(F.col(text_col), k).alias("_sb"),
                _invocation_salt(),
            ).cache(),
        ).drop("_inv_salt")
        ex_sigs = _sigs(ex_arrs, array_col="_sb")
    else:
        # with precomputed signatures the verify is the old side's only
        # consumer, and a cache would pay its fill for no reuse
        ex_arrs = None
        ex_sigs = existing_sigs.select(
            F.col(id_col), *[f"minhash_{i}" for i in range(n_hashes)]
        )
    a = _band_buckets(new_sigs, bands, id_col)
    if broadcast_new:
        a = F.broadcast(a)
    a = a.alias("a")
    ex_buckets = _band_buckets(ex_sigs, bands, id_col)
    if max_bucket_size is not None:
        if max_bucket_size < 1:
            raise ValueError(
                f"max_bucket_size must be >= 1, got {max_bucket_size}"
            )
        wb = W.partitionBy("band", "bh").orderBy(id_col)
        ex_buckets = (
            ex_buckets.withColumn("_brn", F.row_number().over(wb))
            .filter(F.col("_brn") <= max_bucket_size)
            .drop("_brn")
        )
    b_ = ex_buckets.alias("b")
    cands = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    # the candidate frame feeds three joins below — materialize once so
    # the band pipeline (and the existing-side scan it contains) does
    # not replay per consumer. localCheckpoint truncates the lineage,
    # where a cache's InMemoryRelation would re-plan the full band-join
    # lineage per consumer (34-37% slower end to end at sf0.1). The
    # pinned RDD is a KB-sized id-pair table per call.
    cands = cands.localCheckpoint(eager=False)
    # candidate-driven verify: filter BOTH corpora down to candidate
    # ids BEFORE building shingle arrays — the shingle cost is
    # |candidates|-bounded, and an incremental refresh with
    # existing_sigs never re-shingles the training set. The new side's
    # arrays (and the old side's, without existing_sigs) come from the
    # cached projection the signatures exploded.
    new_arr = new_arrs.join(
        F.broadcast(cands.select(F.col("id_a").alias(id_col)).distinct()),
        id_col,
        "left_semi",
    ).select(F.col(id_col).alias("id_a"), F.col("_sa"))
    ex_arr = (
        (ex_arrs if ex_arrs is not None else existing_docs)
        .join(
            F.broadcast(cands.select(F.col("id_b").alias(id_col)).distinct()),
            id_col,
            "left_semi",
        )
        .select(
            F.col(id_col).alias("id_b"),
            F.col("_sb")
            if ex_arrs is not None
            else shingle_array(F.col(text_col), k).alias("_sb"),
        )
    )
    verified = (
        cands.join(new_arr, "id_a")
        .join(ex_arr, "id_b")
        .withColumn("_inter", F.size(F.array_intersect("_sa", "_sb")))
        .withColumn(
            "_union", F.size("_sa") + F.size("_sb") - F.col("_inter")
        )
        .filter(
            F.when(F.col("_union") > 0, F.col("_inter") / F.col("_union"))
            .otherwise(F.lit(1.0))
            >= min_jaccard
        )
        .select(F.col("id_a").alias(id_col))
        .distinct()
    )
    # the matched-id set is bounded by |new| — broadcast the anti join
    # so the surviving-rows pass streams the new corpus once
    return new_docs.join(F.broadcast(verified), id_col, "left_anti")


def keep_best_per_cluster(
    clusters: DataFrame,
    scores: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Pick the representative of each duplicate cluster by QUALITY
    instead of duplicate_clusters' min-id rule: join the cluster
    labels with any per-doc score frame (q_score, trigram LM, a
    trained classifier) and keep the argmax per cluster (score DESC,
    id ASC on ties — deterministic). Returns (id, cluster, score,
    keep). Accepts duplicate_clusters' frame directly (its id column
    is ``node`` — renamed here). Members MISSING from the scores
    frame are kept in the output with a NULL score and can never be
    elected (nulls sort last) — an inner join would silently drop
    them from the labeling entirely, electing the wrong survivor.
    Window work is per-cluster over the (dup-rate-bounded) clustered
    subset only."""
    from pyspark.sql import Window as W

    if id_col not in clusters.columns and "node" in clusters.columns:
        clusters = clusters.withColumnRenamed("node", id_col)
    w = W.partitionBy("cluster").orderBy(
        F.desc_nulls_last(score_col), F.asc(id_col)
    )
    return (
        clusters.select(id_col, "cluster")
        .join(scores.select(id_col, score_col), id_col, "left")
        .withColumn("keep", F.row_number().over(w) == 1)
    )
