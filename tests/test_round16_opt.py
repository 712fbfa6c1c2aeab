"""Round-16 OPTIMIZATION parity lanes: every perf rewrite must be
value-identical to the form it replaced.

Lane 1 — ExactSubstr spans window form: the corpus-wide occurrence
count runs as a window function over ONE evaluation of the exploded
(id, pos, hash) table. The groupBy + join-back form it replaced is
kept below as the oracle (``_repeated_spans_join`` /
``_remove_duplicate_spans_join``, copied from the package). count/min
per hash partition are order-insensitive, so the span sets (and the
cut surgery built on them) must be identical row-for-row — on the
real corpus, on an edge frame, and on a hot-n-gram corpus where one
8-gram hash owns thousands of occurrences.

Lane 2 — fused-cache release path (Forecaster._fused_caches): re-fits
under the same nickname must not grow the set of pinned
InMemoryRelations (r15 verdict "What's wrong" #3).

Lane 3 — jaccard_pairs holds no cache: a call registers no scratch
cache and pins no RDD, and a repeated identical call returns the same
rows.
"""

import pytest
from pyspark.sql import functions as F


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _edge_docs(spark):
    rows = [
        (1, "a b c d e f g h i j a b c d e f g h i j"),  # self-repeat
        (2, "a b c d e f g h i j zz"),  # cross-doc repeat of doc 1
        (3, None),  # NULL text
        (4, ""),  # empty
        (5, "   "),  # whitespace only
        (6, "one two three"),  # shorter than k
        (7, "Mixed CASE a b c d e f g h i j tail"),  # case-folds into 1/2
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def hot_ngram_rows(n_docs=300, run=40, tail=12):
    """A few hundred docs that share ONE 8-gram thousands of times:
    every doc holds a run of ``run`` identical words (run - 7 windows
    with the same hash, ~9,900 occurrences at the defaults) between a
    per-doc unique head and tail, plus every 10th doc repeats a shared
    sentence so the corpus also has ordinary cross-doc spans."""
    rows = []
    for i in range(n_docs):
        words = [f"h{i}a", f"h{i}b"] + ["hot"] * run
        words += [f"t{i}w{j}" for j in range(tail)]
        if i % 10 == 0:
            words += "the quick brown fox jumps over the lazy dog".split()
        rows.append((i + 1, " ".join(words)))
    return rows


def _hot_docs(spark):
    return spark.createDataFrame(hot_ngram_rows(), "doc_id long, text string")


def _corpus(spark, sf_dir, corpus):
    if corpus == "real":
        return _docs(spark, sf_dir)
    if corpus == "edge":
        return _edge_docs(spark)
    return _hot_docs(spark)


def _repeated_spans_join(
    df, k=8, min_count=2, text_col="text", id_col="doc_id"
):
    """Oracle: repeated_spans with the groupBy + join-back occurrence
    count, as the package ran it before the window form."""
    from pyspark.sql import Window

    from scalecast_spark.datapipe.dedup import _spread
    from scalecast_spark.datapipe.text import _norm, ngram_chain, split_words

    ws = df.repartition(_spread(df), id_col).select(
        id_col, split_words(_norm(F.col(text_col))).alias("_ws")
    )
    pos_ng = (
        ws.select(id_col, F.posexplode(ngram_chain(F.col("_ws"), k)).alias("_pos", "_ng"))
        .select(id_col, "_pos", F.xxhash64("_ng").alias("_h"))
    )
    dup = (
        pos_ng.groupBy("_h").agg(F.count("*").alias("_c"))
        .filter(F.col("_c") >= min_count)
        .select("_h")
    )
    hits = pos_ng.join(dup, "_h").select(id_col, "_pos")
    w = Window.partitionBy(id_col).orderBy("_pos")
    brk = F.when(F.lag("_pos").over(w).isNull(), 1).when(
        F.col("_pos") > F.lag("_pos").over(w) + k, 1
    ).otherwise(0)
    isl = F.sum("_brk").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        hits.withColumn("_brk", brk)
        .withColumn("_isl", isl)
        .groupBy(id_col, "_isl")
        .agg(
            F.min("_pos").alias("span_start"),
            (F.max("_pos") + (k - 1)).alias("span_end"),
        )
        .drop("_isl")
    )


def _remove_duplicate_spans_join(
    docs, k=8, min_count=2, keep_first=True, text_col="text", id_col="doc_id"
):
    """Oracle: remove_duplicate_spans with the groupBy + join-back
    occurrence count and canonical-occurrence min, as the package ran
    it before the window form."""
    from pyspark.sql import Window

    from scalecast_spark.datapipe.dedup import _spread
    from scalecast_spark.datapipe.text import (
        _cut_spans,
        _norm,
        ngram_chain,
        split_words,
    )

    ws = docs.repartition(_spread(docs), id_col).select(
        id_col, split_words(_norm(F.col(text_col))).alias("_ws")
    )
    pos_ng = (
        ws.select(
            id_col,
            F.posexplode(ngram_chain(F.col("_ws"), k)).alias("_pos", "_ng"),
        )
        .select(id_col, "_pos", F.xxhash64("_ng").alias("_h"))
    )
    okey = F.col(id_col) * F.lit(10_000_000) + F.col("_pos")
    dup = (
        pos_ng.groupBy("_h")
        .agg(F.count("*").alias("_c"), F.min(okey).alias("_c0"))
        .filter(F.col("_c") >= min_count)
        .select("_h", "_c0")
    )
    hits = pos_ng.join(dup, "_h")
    if keep_first:
        hits = hits.filter(okey != F.col("_c0"))
    w = Window.partitionBy(id_col).orderBy("_pos")
    brk = F.when(F.lag("_pos").over(w).isNull(), 1).when(
        F.col("_pos") > F.lag("_pos").over(w) + k, 1
    ).otherwise(0)
    isl = F.sum("_brk").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    spans = (
        hits.withColumn("_brk", brk)
        .withColumn("_isl", isl)
        .groupBy(id_col, "_isl")
        .agg(
            F.min("_pos").alias("span_start"),
            (F.max("_pos") + (k - 1)).alias("span_end"),
        )
        .drop("_isl")
    )
    return _cut_spans(
        docs, spans, text_col, id_col, "text_dedup", "n_dedup_removed"
    )


def _spans_rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("corpus", ["real", "edge", "hot"])
def test_repeated_spans_window_twin_exact(spark, sf_dir, corpus):
    from scalecast_spark.datapipe import text

    docs = _corpus(spark, sf_dir, corpus)
    legacy = _spans_rows(_repeated_spans_join(docs, k=8))
    windowed = _spans_rows(text.repeated_spans(docs, k=8))
    assert windowed == legacy
    if corpus == "hot":
        # every doc's hot run is one merged span; non-degenerate
        assert len({r[0] for r in windowed}) == 300


def _cut_twin(docs, keep_first):
    from scalecast_spark.datapipe import text

    legacy = _spans_rows(
        _remove_duplicate_spans_join(docs, keep_first=keep_first).select(
            "doc_id", "n_dedup_removed", F.md5("text_dedup")
        )
    )
    windowed = _spans_rows(
        text.remove_duplicate_spans(docs, keep_first=keep_first).select(
            "doc_id", "n_dedup_removed", F.md5("text_dedup")
        )
    )
    assert windowed == legacy
    return windowed


@pytest.mark.parametrize("keep_first", [True, False])
def test_remove_duplicate_spans_window_twin_exact(spark, sf_dir, keep_first):
    _cut_twin(_docs(spark, sf_dir), keep_first)


@pytest.mark.parametrize("keep_first", [True, False])
def test_remove_duplicate_spans_hot_ngram_twin_exact(spark, keep_first):
    out = _cut_twin(_hot_docs(spark), keep_first)
    removed = {r[0]: r[1] for r in out}
    # the 40-word hot run goes whole (33 overlapping windows); the
    # 9-word shared sentence (2 windows) rides on every 10th doc
    want = {i: 40 + (9 if i % 10 == 1 else 0) for i in range(1, 301)}
    if keep_first:
        # doc 1 holds the canonical occurrence of every duplicated
        # window: its first hot window and its sentence stay
        want[1] = 39
    assert removed == want


def test_remove_duplicate_spans_window_edge_frame(spark):
    from scalecast_spark.datapipe import text

    docs = _edge_docs(spark)
    legacy = _spans_rows(
        _remove_duplicate_spans_join(docs).select(
            "doc_id", "n_dedup_removed", "text_dedup"
        )
    )
    windowed = _spans_rows(
        text.remove_duplicate_spans(docs).select(
            "doc_id", "n_dedup_removed", "text_dedup"
        )
    )
    assert windowed == legacy


def _n_persistent(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_fused_cache_refit_does_not_grow_persistent_rdds(spark, sf_dir):
    from __spark_entry__ import _series

    from scalecast_spark.forecaster import Forecaster

    f = Forecaster(_series(spark, sf_dir), future_dates=7)
    f.set_test_length(7)
    f.add_ar_terms(3)
    f.set_estimator("mlr")
    f.manual_forecast(call_me="m")
    base = _n_persistent(spark)
    for _ in range(4):
        f.manual_forecast(call_me="m")  # re-fit same nickname
    assert _n_persistent(spark) == base  # old entries released per re-fit
    f.release_model_caches()
    assert _n_persistent(spark) == base - 1
    assert f._fused_caches == {}


def test_fused_cache_pop_releases(spark, sf_dir):
    from __spark_entry__ import _series

    from scalecast_spark.forecaster import Forecaster

    f = Forecaster(_series(spark, sf_dir), future_dates=7)
    f.set_test_length(7)
    f.add_ar_terms(3)
    f.set_estimator("ridge")
    f.manual_forecast(alpha=0.5, call_me="r1")
    assert "r1" in f._fused_caches
    before = _n_persistent(spark)
    f.pop("r1")
    assert "r1" not in f._fused_caches
    assert _n_persistent(spark) == before - 1



def _fused_forecaster(spark, sf_dir, name):
    from __spark_entry__ import _series

    from scalecast_spark.forecaster import Forecaster

    f = Forecaster(_series(spark, sf_dir), future_dates=7)
    f.set_test_length(7)
    f.add_ar_terms(3)
    f.set_estimator("mlr")
    f.manual_forecast(call_me=name)
    return f


def test_fused_release_drops_own_registry_entry(spark, sf_dir):
    """pop() and release_model_caches() drop the fused::<name> registry
    entry along with the cache, so a released nickname pins nothing."""
    from scalecast_spark.datapipe.dedup import _SCRATCH_CACHES

    f = _fused_forecaster(spark, sf_dir, "reg_pop")
    assert _SCRATCH_CACHES["fused::reg_pop"] is f._fused_caches["reg_pop"]
    f.pop("reg_pop")
    assert "fused::reg_pop" not in _SCRATCH_CACHES

    f = _fused_forecaster(spark, sf_dir, "reg_rel")
    assert "fused::reg_rel" in _SCRATCH_CACHES
    f.release_model_caches()
    assert "fused::reg_rel" not in _SCRATCH_CACHES


def test_fused_release_keeps_other_forecasters_entry(spark, sf_dir):
    """Releasing one Forecaster never evicts another's live entry under
    the same nickname."""
    from scalecast_spark.datapipe.dedup import _SCRATCH_CACHES

    a = _fused_forecaster(spark, sf_dir, "reg_shared")
    b = _fused_forecaster(spark, sf_dir, "reg_shared")
    live = b._fused_caches["reg_shared"]
    assert _SCRATCH_CACHES["fused::reg_shared"] is live
    a.pop("reg_shared")
    a.release_model_caches()
    assert _SCRATCH_CACHES["fused::reg_shared"] is live
    assert live.storageLevel.useMemory
    b.release_model_caches()
    assert "fused::reg_shared" not in _SCRATCH_CACHES


def _cross_dedup_recompute(
    new_docs, existing_docs, k=3, n_hashes=4, bands=4, min_jaccard=0.5,
    text_col="text", id_col="doc_id", existing_sigs=None,
    max_bucket_size=None, broadcast_new=True,
):
    """Oracle: cross_dedup as the recompute form — each side shingles
    from text separately for the MinHash signatures and again for the
    candidate verify, with no shared (id, shingle_array) cache — as the
    package ran it before the shared projection."""
    from pyspark.sql import Window as W

    from scalecast_spark.datapipe.dedup import (
        _band_buckets,
        minhash_signatures,
        shingle_array,
        word_shingles,
    )

    def _sigs(df, array_col=None):
        sh = word_shingles(
            df, k, text_col=text_col, id_col=id_col, array_col=array_col
        )
        return minhash_signatures(sh, n_hashes=n_hashes, id_col=id_col).select(
            F.col(id_col), *[f"minhash_{i}" for i in range(n_hashes)]
        )

    new_sigs = _sigs(new_docs)
    ex_sigs = (
        existing_sigs.select(
            F.col(id_col), *[f"minhash_{i}" for i in range(n_hashes)]
        )
        if existing_sigs is not None
        else _sigs(existing_docs)
    )
    a = _band_buckets(new_sigs, bands, id_col)
    if broadcast_new:
        a = F.broadcast(a)
    a = a.alias("a")
    ex_buckets = _band_buckets(ex_sigs, bands, id_col)
    if max_bucket_size is not None:
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
    cands = cands.localCheckpoint(eager=False)
    new_arr = (
        new_docs.join(
            F.broadcast(cands.select(F.col("id_a").alias(id_col)).distinct()),
            id_col,
            "left_semi",
        )
        .select(
            F.col(id_col).alias("id_a"),
            shingle_array(F.col(text_col), k).alias("_sa"),
        )
    )
    ex_arr = (
        existing_docs.join(
            F.broadcast(cands.select(F.col("id_b").alias(id_col)).distinct()),
            id_col,
            "left_semi",
        )
        .select(
            F.col(id_col).alias("id_b"),
            shingle_array(F.col(text_col), k).alias("_sb"),
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
    return new_docs.join(F.broadcast(verified), id_col, "left_anti")


@pytest.mark.parametrize("with_sigs", [False, True])
def test_cross_dedup_shared_shingles_twin_exact(spark, sf_dir, with_sigs):
    """Lane 4 — cross_dedup shared-shingle projection: the
    (id, shingle_array) cache feeding both the MinHash signatures and
    the candidate verify must yield survivors identical to the
    recompute form, with and without precomputed existing-side
    signatures."""
    from scalecast_spark.datapipe.dedup import (
        cross_dedup,
        minhash_signatures,
        word_shingles,
    )

    docs = _docs(spark, sf_dir)
    new = docs.filter(F.col("doc_id") % 3 == 0)
    old = docs.filter(F.col("doc_id") % 3 != 0)
    kw = dict(k=3, n_hashes=4, bands=4, min_jaccard=0.5)
    sigs = (
        minhash_signatures(word_shingles(old, 3), n_hashes=4).select(
            "doc_id", *[f"minhash_{i}" for i in range(4)]
        )
        if with_sigs
        else None
    )
    out = {}
    for v, fn in (("0", _cross_dedup_recompute), ("1", cross_dedup)):
        out[v] = sorted(
            r["doc_id"]
            for r in fn(new, old, existing_sigs=sigs, **kw)
            .select("doc_id")
            .collect()
        )
    assert out["0"] == out["1"]
    assert out["0"]  # non-degenerate


@pytest.mark.parametrize("bits,max_hamming", [(60, 3), (64, 2), (24, 5)])
def test_hamming_exploded_join_twin_exact(spark, sf_dir, bits, max_hamming):
    """Lane 5 — hamming_near_pairs single exploded (band, key)
    self-join vs the per-band join form: identical pair sets at several
    band geometries. A ``max_bucket_size`` no bucket can reach routes
    the call through the per-band form with no star-collapse."""
    from scalecast_spark.datapipe import dedup

    docs = _docs(spark, sf_dir).limit(200)
    sh = dedup.simhash(docs).select(
        "doc_id", (F.col("simhash") % F.lit(1 << min(bits, 60))).alias("h")
    )
    out = {}
    for v, cap in (("0", 10**9), ("1", None)):
        out[v] = sorted(
            tuple(r)
            for r in dedup.hamming_near_pairs(
                sh, "h", bits=bits, max_hamming=max_hamming,
                max_bucket_size=cap,
            ).collect()
        )
    assert out["0"] == out["1"]


def test_jaccard_pairs_holds_no_cache(spark, sf_dir):
    from scalecast_spark.datapipe import dedup

    docs = _docs(spark, sf_dir).limit(80)
    sh = dedup.word_shingles(docs, 3)
    cands = spark.createDataFrame(
        [(0, 3), (3, 6)], ["id_a", "id_b"]
    )
    tags = set(dedup._SCRATCH_CACHES)
    pinned = spark.sparkContext._jsc.getPersistentRDDs().size()
    r1 = sorted(
        tuple(r) for r in dedup.jaccard_pairs(sh, candidates=cands).collect()
    )
    assert set(dedup._SCRATCH_CACHES) == tags
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == pinned
    r2 = sorted(
        tuple(r) for r in dedup.jaccard_pairs(sh, candidates=cands).collect()
    )
    assert r1 == r2
