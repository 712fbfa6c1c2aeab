"""Parity lanes for the single-pass minhash chain.

Lane 1 — ``lsh_candidate_pairs`` builds its candidates from one
``groupBy(band, bh)`` over the band table. The self-join form it
replaced (``_pairwise_bucket_join`` plus the window-sized min-id star
for ``max_bucket_size``) is kept below verbatim as the oracle; the
pair sets must be identical on a planted-family corpus, on a hot bucket
of a few hundred near-identical docs and on a corpus with a NULL
``doc_id``, for bands in {4, 16} and every cap in {None, 2, 10}.

Lane 2 — ``word_shingles`` projects the words array as its own column
before the explode. The inline ``explode(shingle_array(...))`` form it
replaced (with the ``shingle_array`` body of that form) is the oracle;
rows must be identical on edge texts.

Lane 3 — static plan guards: in the executed plan of
``lsh_candidate_pairs(minhash_signatures(word_shingles(docs)))`` the
signature aggregate and the word split each appear once; verifying
those candidates with ``jaccard_pairs`` keeps one signature aggregate
and reads no cached relation.
"""

import random

import pytest
from pyspark.sql import Window as W, functions as F

from scalecast_spark.datapipe.dedup import (
    _band_buckets,
    _spread,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    normalize_text,
    shingle_array,
    word_shingles,
)

# ---------------------------------------------------------------- oracles


def _pairwise_bucket_join(buckets, id_col):
    """All (id_a < id_b) pairs within each (band, bh) bucket."""
    a = buckets.alias("a")
    b_ = buckets.alias("b")
    return a.join(
        b_,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bh") == F.col("b.bh"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
    )


def _lsh_candidate_pairs_join(
    signatures, bands=4, id_col="doc_id", max_bucket_size=None
):
    buckets = _band_buckets(signatures, bands, id_col)
    if max_bucket_size is None:
        return _pairwise_bucket_join(buckets, id_col).distinct()
    if max_bucket_size < 2:
        raise ValueError(f"max_bucket_size must be >= 2, got {max_bucket_size}")
    # bucket sizes via a window over the SAME (band, bh) partitioning
    # the joins below need — one shuffle serves the count and the joins
    wb = W.partitionBy("band", "bh")
    sized = buckets.withColumn("_bsz", F.count("*").over(wb))
    small = sized.filter(F.col("_bsz") <= max_bucket_size).drop("_bsz")
    big = sized.filter(F.col("_bsz") > max_bucket_size).drop("_bsz")
    hub = big.groupBy("band", "bh").agg(F.min(id_col).alias("_hub"))
    star = (
        big.join(hub, ["band", "bh"])
        .filter(F.col(id_col) != F.col("_hub"))
        .select(F.col("_hub").alias("id_a"), F.col(id_col).alias("id_b"))
    )
    return (
        _pairwise_bucket_join(small, id_col).unionByName(star).distinct()
    )


def _shingle_array_inline(text_col, n=3):
    from scalecast_spark.datapipe.text import ngram_chain, split_words

    words = split_words(normalize_text(text_col))
    acc = ngram_chain(words, n)
    # short docs (< n words): one shingle of the full word list — same
    # output as the old slice-based transform at index 0
    short = F.array(F.array_join(words, " "))
    return F.filter(
        F.array_distinct(F.when(F.size(words) >= n, acc).otherwise(short)),
        lambda s: F.length(s) > 0,
    )


def _word_shingles_inline(df, n=3, text_col="text", id_col="doc_id"):
    sh = _shingle_array_inline(F.col(text_col), n)
    return df.repartition(_spread(df), F.col(id_col)).select(
        id_col, F.explode(sh).alias("shingle")
    )


# ---------------------------------------------------------------- corpora

BASE = "the quick brown fox jumps over the lazy dog near the river bank"


def _planted_rows(seed=11, families=40, singletons=120):
    """Base texts with exact copies (case and spacing changed) and near
    copies (one word replaced or dropped), plus unrelated singletons."""
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(400)]

    def words():
        return [rng.choice(vocab) for _ in range(rng.randint(12, 30))]

    texts = []
    for _ in range(families):
        base = words()
        texts.append(" ".join(base))
        for _ in range(rng.randint(1, 2)):
            w = list(base)
            w[0] = w[0].upper()
            texts.append("  ".join(w) + " ")
        for _ in range(rng.randint(1, 3)):
            w = list(base)
            pos = rng.randint(1, len(w) - 2)
            if rng.random() < 0.5:
                w[pos] = rng.choice(vocab)
            else:
                del w[pos]
            texts.append(" ".join(w))
    texts += [" ".join(words()) for _ in range(singletons)]
    ids = list(range(len(texts)))
    rng.shuffle(ids)
    return [(i * 3 + 1, t) for i, t in zip(ids, texts)]


def _hot_rows(n=300):
    """One hot bucket: n near-identical docs (three variants of BASE
    share most bands) next to a few unrelated docs."""
    rows = [(i, BASE + f" tag{i % 3}") for i in range(n)]
    rows += [(1000 + i, f"unrelated text number {i} about spark engines")
             for i in range(20)]
    return rows


def _null_id_rows():
    """A family with a NULL doc_id member: the NULL row counts toward
    its bucket's size but never pairs."""
    rows = [(None, BASE)] + [(i, BASE) for i in (3, 5, 7, 9)]
    rows += [(20 + i, BASE + " extra words here") for i in range(3)]
    rows += [(40, "completely different words about spark engines today")]
    return rows


CORPORA = {"planted": _planted_rows, "hot": _hot_rows, "null_id": _null_id_rows}


@pytest.fixture(scope="module")
def signatures(spark):
    sigs = {}
    for name, rows in CORPORA.items():
        docs = spark.createDataFrame(rows(), "doc_id long, text string")
        sigs[name] = minhash_signatures(
            word_shingles(docs, 3), n_hashes=16
        ).cache()
    yield sigs
    for s in sigs.values():
        s.unpersist()


def _pairs(df):
    rows = [tuple(r) for r in df.collect()]
    assert len(rows) == len(set(rows))
    return set(rows)


@pytest.mark.parametrize("cap", [None, 2, 10])
@pytest.mark.parametrize("bands", [4, 16])
@pytest.mark.parametrize("corpus", sorted(CORPORA))
def test_lsh_candidates_match_join_oracle(signatures, corpus, bands, cap):
    sigs = signatures[corpus]
    got = _pairs(lsh_candidate_pairs(sigs, bands=bands, max_bucket_size=cap))
    want = _pairs(_lsh_candidate_pairs_join(sigs, bands=bands, max_bucket_size=cap))
    assert got == want
    assert all(a < b for a, b in got)
    if corpus == "hot" and cap is None:
        assert len(got) >= 3 * (300 // 3) * (300 // 3 - 1) // 2
    if corpus == "null_id" and cap == 2:
        # bucket {NULL, 3, 5, 7, 9}: the NULL row counts toward the
        # size, so the star emits hub pairs only
        assert (3, 5) in got and (5, 7) not in got


@pytest.mark.parametrize("cap", [None, 2, 3, 4])
def test_lsh_candidates_edge_buckets_match_join_oracle(spark, cap):
    # hand-built signatures: an id that appears twice (equal ids never
    # pair, repeated pairs collapse), and buckets of exactly the cap,
    # one over it, and exactly the cap plus a NULL-id row (which counts
    # toward the size, so that bucket is a star)
    rows = [(1, 7, 7), (1, 7, 7), (2, 7, 7), (3, 7, 8), (None, 7, 8), (4, 9, 9)]
    k = cap or 3
    rows += [(10 + i, 100, 100) for i in range(k)]
    rows += [(30 + i, 200, 200) for i in range(k)] + [(None, 200, 200)]
    rows += [(50 + i, 300, 300) for i in range(k + 1)]
    sigs = spark.createDataFrame(rows, "doc_id long, minhash_0 long, minhash_1 long")
    for bands in (1, 2):
        got = _pairs(lsh_candidate_pairs(sigs, bands=bands, max_bucket_size=cap))
        want = _pairs(
            _lsh_candidate_pairs_join(sigs, bands=bands, max_bucket_size=cap)
        )
        assert got == want, (bands, cap)
        at_cap = {(a, b) for a, b in got if a >= 10 and b < 20}
        assert len(at_cap) == k * (k - 1) // 2
        with_null = {(a, b) for a, b in got if a >= 30 and b < 40}
        assert len(with_null) == (k - 1 if cap else k * (k - 1) // 2)


def test_lsh_candidates_reject_bad_arguments(signatures):
    sigs = signatures["null_id"]
    with pytest.raises(ValueError, match="bands"):
        lsh_candidate_pairs(sigs, bands=3)
    with pytest.raises(ValueError, match="bands"):
        lsh_candidate_pairs(sigs, bands=0)
    for cap in (1, 0):
        with pytest.raises(ValueError, match="max_bucket_size"):
            lsh_candidate_pairs(sigs, bands=4, max_bucket_size=cap)


# ---------------------------------------------------------------- shingles

EDGE_TEXTS = [
    "\nnewline led text with several words",
    "tabs\tbetween\twords and\t\tdouble tabs here",
    "runs   of    spaces     between  words",
    "  leading and trailing spaces  ",
    "Ünïcödé Straße ΣΊΣΥΦΟΣ 日本語 テキスト mixed ÅÄÖ words",
    "",
    None,
    "   \t\n  ",
    "one",
    "two words",
    "Mixed CASE words Mixed case WORDS mixed case words",
    "repeat repeat repeat repeat repeat",
]


@pytest.mark.parametrize("n", [1, 3, 5])
def test_word_shingles_match_inline_explode(spark, n):
    docs = spark.createDataFrame(
        list(enumerate(EDGE_TEXTS)), "doc_id long, text string"
    )
    got = sorted(tuple(r) for r in word_shingles(docs, n).collect())
    want = sorted(tuple(r) for r in _word_shingles_inline(docs, n).collect())
    assert got == want
    # every doc with words contributes, the empty/NULL ones do not
    assert {r[0] for r in got} == {
        i for i, t in enumerate(EDGE_TEXTS) if t and t.split()
    }
    arrs = docs.select(
        "doc_id",
        shingle_array(F.col("text"), n).alias("got"),
        _shingle_array_inline(F.col("text"), n).alias("want"),
    ).collect()
    assert all(r["got"] == r["want"] for r in arrs)


# ---------------------------------------------------------------- plan guard


def _plan_guard_docs(spark):
    return spark.createDataFrame(
        [(i, f"{BASE} tag{i % 4} word{i}") for i in range(60)],
        "doc_id long, text string",
    )


def _final_plan(df):
    """Tree string of the executed plan after one ``collect``."""
    assert df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()  # the final plan after the collect
    return plan.treeString()


def _partial_min_count(text):
    return sum("partial_min(" in line for line in text.splitlines())


def test_minhash_chain_plan_evaluates_each_step_once(spark):
    docs = _plan_guard_docs(spark)
    cands = lsh_candidate_pairs(
        minhash_signatures(word_shingles(docs, 3), n_hashes=4), bands=4
    )
    text = _final_plan(cands)
    assert _partial_min_count(text) == 1, text
    assert text.count("regexp_replace(") == 1, text


def test_lsh_verify_plan_reads_candidates_once_uncached(spark):
    sh = word_shingles(_plan_guard_docs(spark), 3)
    pairs = jaccard_pairs(
        sh, lsh_candidate_pairs(minhash_signatures(sh, n_hashes=4), bands=4)
    )
    text = _final_plan(pairs)
    assert _partial_min_count(text) == 1, text
    assert "InMemoryRelation" not in text, text
    assert "InMemoryTableScan" not in text, text
