"""Round-16 OPTIMIZATION parity lanes: every perf rewrite must be
value-identical to the path it replaces.

Lane 1 — ExactSubstr spans window form (text._spans_window_count):
the corpus-wide occurrence count runs as a window function over ONE
evaluation of the exploded (id, pos, hash) table instead of the
groupBy + join-back pair that evaluated the explode twice. count/min
per hash partition are order-insensitive, so the span sets (and the
cut surgery built on them) must be identical row-for-row.

Lane 2 — fused-cache release path (Forecaster._fused_caches): re-fits
under the same nickname must not grow the set of pinned
InMemoryRelations (r15 verdict "What's wrong" #3).

Lane 3 — jaccard scratch-cache invocation scoping (dedup._invocation_salt):
a second identical call must REPLACE the cache entry (plan salted per
call), never be served the previous invocation's warm entry.
"""

import os

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


def _spans_rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("corpus", ["real", "edge"])
def test_repeated_spans_window_twin_exact(spark, sf_dir, corpus, monkeypatch):
    from scalecast_spark.datapipe import text

    docs = _docs(spark, sf_dir) if corpus == "real" else _edge_docs(spark)
    monkeypatch.setenv("SPARK_GRAFT_SPANS_WINDOW", "0")
    legacy = _spans_rows(text.repeated_spans(docs, k=8))
    monkeypatch.setenv("SPARK_GRAFT_SPANS_WINDOW", "1")
    windowed = _spans_rows(text.repeated_spans(docs, k=8))
    assert windowed == legacy


@pytest.mark.parametrize("keep_first", [True, False])
def test_remove_duplicate_spans_window_twin_exact(
    spark, sf_dir, keep_first, monkeypatch
):
    from scalecast_spark.datapipe import text

    docs = _docs(spark, sf_dir)
    monkeypatch.setenv("SPARK_GRAFT_SPANS_WINDOW", "0")
    legacy = _spans_rows(
        text.remove_duplicate_spans(docs, keep_first=keep_first).select(
            "doc_id", "n_dedup_removed", F.md5("text_dedup")
        )
    )
    monkeypatch.setenv("SPARK_GRAFT_SPANS_WINDOW", "1")
    windowed = _spans_rows(
        text.remove_duplicate_spans(docs, keep_first=keep_first).select(
            "doc_id", "n_dedup_removed", F.md5("text_dedup")
        )
    )
    assert windowed == legacy


def test_remove_duplicate_spans_window_edge_frame(spark, monkeypatch):
    from scalecast_spark.datapipe import text

    docs = _edge_docs(spark)
    monkeypatch.setenv("SPARK_GRAFT_SPANS_WINDOW", "0")
    legacy = _spans_rows(
        text.remove_duplicate_spans(docs).select(
            "doc_id", "n_dedup_removed", "text_dedup"
        )
    )
    monkeypatch.setenv("SPARK_GRAFT_SPANS_WINDOW", "1")
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


@pytest.mark.parametrize("with_sigs", [False, True])
def test_cross_dedup_shared_shingles_twin_exact(
    spark, sf_dir, with_sigs, monkeypatch
):
    """Lane 4 — cross_dedup shared-shingle projection
    (SPARK_GRAFT_CROSS_SHARE): the (id, shingle_array) cache feeding
    both the MinHash signatures and the candidate verify must yield
    survivors identical to the recompute form, with and without
    precomputed existing-side signatures."""
    from pyspark.sql import functions as F

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
    for v in ("0", "1"):
        monkeypatch.setenv("SPARK_GRAFT_CROSS_SHARE", v)
        out[v] = sorted(
            r["doc_id"]
            for r in cross_dedup(new, old, existing_sigs=sigs, **kw)
            .select("doc_id")
            .collect()
        )
    assert out["0"] == out["1"]
    assert out["0"]  # non-degenerate


@pytest.mark.parametrize("bits,max_hamming", [(60, 3), (64, 2), (24, 5)])
def test_hamming_exploded_join_twin_exact(
    spark, sf_dir, bits, max_hamming, monkeypatch
):
    """Lane 5 — hamming_near_pairs single exploded (band, key)
    self-join (SPARK_GRAFT_HAMMING_EXPLODE) vs the per-band join form:
    identical pair sets at several band geometries."""
    from pyspark.sql import functions as F

    from scalecast_spark.datapipe import dedup

    docs = _docs(spark, sf_dir).limit(200)
    sh = dedup.simhash(docs).select(
        "doc_id", (F.col("simhash") % F.lit(1 << min(bits, 60))).alias("h")
    )
    out = {}
    for v in ("0", "1"):
        monkeypatch.setenv("SPARK_GRAFT_HAMMING_EXPLODE", v)
        out[v] = sorted(
            tuple(r)
            for r in dedup.hamming_near_pairs(
                sh, "h", bits=bits, max_hamming=max_hamming
            ).collect()
        )
    assert out["0"] == out["1"]


def test_jaccard_scratch_cache_is_invocation_scoped(spark, sf_dir):
    from scalecast_spark.datapipe import dedup

    docs = _docs(spark, sf_dir).limit(80)
    sh = dedup.word_shingles(docs, 3)
    cands = spark.createDataFrame(
        [(0, 3), (3, 6)], ["id_a", "id_b"]
    )
    r1 = sorted(
        tuple(r) for r in dedup.jaccard_pairs(sh, candidates=cands).collect()
    )
    entry1 = dedup._SCRATCH_CACHES.get("jaccard_shingles")
    assert entry1 is not None
    r2 = sorted(
        tuple(r) for r in dedup.jaccard_pairs(sh, candidates=cands).collect()
    )
    entry2 = dedup._SCRATCH_CACHES.get("jaccard_shingles")
    # the second call must have REGISTERED A FRESH entry (salted plan:
    # sameSemantics fails, old swapped out) — not reused the warm one
    assert entry2 is not entry1
    assert not entry1.sameSemantics(entry2)
    assert entry1.storageLevel.useMemory is False  # old one unpersisted
    assert r1 == r2
