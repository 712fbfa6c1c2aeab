"""Parity lanes for the single verify path of ``jaccard_pairs``.

``jaccard_pairs`` hashes the shingle frame once, collects each doc's
distinct hashes into an array and verifies the pairs with
``jaccard_pairs_arrays``; without candidates it first derives the
(id_a < id_b) pairs from a self-join on the shingle hash.

Lane 1 — the form it replaced (a cached, hashed shingle frame joined to
the candidates and counted per pair, or a cached self-join on the
shingle string) is kept below verbatim as the oracle. On
``word_shingles`` frames, whose rows are distinct per doc, the
(id_a, id_b, inter, jaccard) rows must be identical: a planted-family
corpus with LSH candidates plus hand-picked pairs (no shared shingle,
an empty-text id, an id absent from the frame, a NULL-id row), for
``min_jaccard`` in {0, 0.5}, with and without candidates.

Lane 2 — repeated (id, shingle) rows count once. The replaced form
counted multiplicities (J = 1.0 where the set Jaccard is 0.5, and
above 1 with two copies of a shared shingle); the expected rows here
are computed by hand.
"""

import random

import pytest
from pyspark.sql import functions as F

from scalecast_spark.datapipe import dedup
from scalecast_spark.datapipe.dedup import (
    _invocation_salt,
    _scratch_cache,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    word_shingles,
)

# ---------------------------------------------------------------- oracle


def _jaccard_pairs_cached(
    shingles, candidates=None, id_col="doc_id", min_jaccard=0.0,
    broadcast_candidates=True,
):
    if candidates is not None:
        hashed = _scratch_cache(
            "jaccard_shingles",
            shingles.select(
                id_col, F.xxhash64("shingle").alias("_sh"),
                _invocation_salt(),
            ).cache(),
        ).drop("_inv_salt")
        sizes = hashed.groupBy(id_col).agg(F.count("*").alias("sz"))
        sh_a = hashed.select(F.col(id_col).alias("id_a"), "_sh")
        sh_b = hashed.select(F.col(id_col).alias("id_b"), "_sh")
        cand = F.broadcast(candidates) if broadcast_candidates else candidates
        inter = (
            cand.join(sh_a, "id_a")
            .join(sh_b, ["id_b", "_sh"])
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("inter"))
        )
    else:
        shingles = _scratch_cache(
            "jaccard_shingles",
            shingles.withColumn("_inv_salt", _invocation_salt()).cache(),
        ).drop("_inv_salt")
        sizes = shingles.groupBy(id_col).agg(F.count("*").alias("sz"))
        a = shingles.alias("a")
        b = shingles.alias("b")
        inter = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .groupBy(
                F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
            )
            .agg(F.count("*").alias("inter"))
        )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    out = (
        inter.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
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


@pytest.fixture(autouse=True)
def _drop_oracle_cache():
    yield
    old = dedup._SCRATCH_CACHES.pop("jaccard_shingles", None)
    if old is not None:
        old.unpersist()


# ---------------------------------------------------------------- corpus

EMPTY_ID, ABSENT_ID = 5000, 9999
DISJOINT = (6001, 6003)


def _planted_rows(seed=23, families=30, singletons=100):
    """Base texts with case/spacing copies and one-word edits, unrelated
    singletons, an empty text and a NULL-id copy of the first base."""
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(300)]

    def words():
        return [rng.choice(vocab) for _ in range(rng.randint(10, 25))]

    texts = []
    for _ in range(families):
        base = words()
        texts.append(" ".join(base))
        w = list(base)
        w[0] = w[0].upper()
        texts.append("  ".join(w))
        for _ in range(rng.randint(1, 3)):
            w = list(base)
            pos = rng.randint(1, len(w) - 2)
            if rng.random() < 0.5:
                w[pos] = rng.choice(vocab)
            else:
                del w[pos]
            texts.append(" ".join(w))
    texts += [" ".join(words()) for _ in range(singletons)]
    rows = [(i * 2 + 1, t) for i, t in enumerate(texts)]
    return rows + [
        (EMPTY_ID, ""),
        (None, texts[0]),
        (DISJOINT[0], "alpha beta gamma delta"),
        (DISJOINT[1], "epsilon zeta eta theta"),
    ]


@pytest.fixture(scope="module")
def corpus(spark):
    docs = spark.createDataFrame(_planted_rows(), "doc_id long, text string")
    sh = word_shingles(docs, 3).cache()
    lsh = lsh_candidate_pairs(minhash_signatures(sh, n_hashes=16), bands=4)
    extra = spark.createDataFrame(
        [
            (1, 3),  # a family pair LSH also finds
            DISJOINT,  # no shared shingle
            (1, EMPTY_ID),  # id with no shingle rows
            (3, ABSENT_ID),  # id absent from the frame
            (ABSENT_ID, 5),
            (9, 9),  # a doc with itself
            (None, 1),
        ],
        "id_a long, id_b long",
    )
    cands = lsh.unionByName(extra).distinct().cache()
    yield sh, cands
    sh.unpersist()
    cands.unpersist()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("min_jaccard", [0.0, 0.5])
@pytest.mark.parametrize("with_candidates", [True, False])
def test_jaccard_pairs_match_cached_oracle(corpus, with_candidates, min_jaccard):
    sh, cands = corpus
    c = cands if with_candidates else None
    got = _rows(jaccard_pairs(sh, c, min_jaccard=min_jaccard))
    want = _rows(_jaccard_pairs_cached(sh, c, min_jaccard=min_jaccard))
    assert got == want
    assert len(got) > 30
    ids = {i for r in got for i in r[:2]}
    assert not ids & {EMPTY_ID, ABSENT_ID, None}
    if with_candidates:
        assert any(r[:2] == (9, 9) and r[3] == 1.0 for r in got)
        assert (1, 3) in {r[:2] for r in got}
        assert DISJOINT not in {r[:2] for r in got}
    else:
        assert all(a < b for a, b, _, _ in got)
    if min_jaccard:
        assert all(r[3] >= min_jaccard for r in got)


# ---------------------------------------------------------------- repeated rows


def test_jaccard_pairs_count_repeated_rows_once(spark):
    sh = spark.createDataFrame(
        [
            (1, "x"), (1, "x"), (1, "y"),  # {x, y}
            (2, "x"),  # {x}
            (3, "y"), (3, "z"),  # {y, z}
            (4, "p"), (4, "p"), (4, "q"),  # {p, q}
            (5, "p"), (5, "p"),  # {p}
        ],
        "doc_id long, shingle string",
    )
    want = [(1, 2, 1, 0.5), (1, 3, 1, 0.333333), (4, 5, 1, 0.5)]
    cands = spark.createDataFrame([(1, 2), (1, 3), (4, 5)], "id_a long, id_b long")
    assert _rows(jaccard_pairs(sh, cands)) == want
    assert _rows(jaccard_pairs(sh)) == want
    assert _rows(jaccard_pairs(sh, cands, min_jaccard=0.4)) == [want[0], want[2]]
