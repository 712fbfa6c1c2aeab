"""Minhash signature values against a pure-Python oracle.

The oracle shingles each text the way ``word_shingles`` documents it
(lower-case after trimming spaces, whitespace runs collapsed to one
space, empty words dropped, distinct word n-grams, one shingle of all
words for docs shorter than n), takes ``hashlib.md5`` of each shingle,
splits the hex digest into four 8-hex slices, mixes slice ``p % 4`` by
the Carter-Wegman group ``p // 4`` and keeps the minimum per doc.
Values must be identical for ``minhash_signatures(word_shingles(...))``
and for ``minhash_signatures_projection`` from text and from a prebuilt
shingle array.
"""

import hashlib
import re

import pytest
from pyspark.sql import functions as F

from scalecast_spark.datapipe.dedup import (
    minhash_signatures,
    minhash_signatures_projection,
    shingle_array,
    word_shingles,
)

# (a, b) of groups 1..7: hash = (a * slice + b) mod 2^32
MIX = [
    (0x3B9ACA07, 0x7F4A7C15),
    (0x2545F491, 0x9E3779B9),
    (0x19660D01, 0x85EBCA6B),
    (0x27D4EB2F, 0x165667B1),
    (0x119DE1F3, 0xC2B2AE35),
    (0x2AB57B63, 0x38495AB5),
    (0x174DD1CB, 0x61C88647),
]

TEXTS = [
    "\nnewline led text with several words",
    "tabs\tbetween\twords and\t\tdouble tabs here",
    "  leading and trailing spaces  ",
    "Ünïcödé Straße größe 日本語 テキスト mixed ÅÄÖ words",
    "",
    None,
    "   \t\n  ",
    "one",
    "two words",
    "Mixed CASE words Mixed case WORDS mixed case words",
    "repeat repeat repeat repeat repeat",
    "the quick brown fox jumps over the lazy dog near the river bank",
    "the quick brown fox jumps over the lazy dog near the river",
] + [f"doc {i} about topic {i % 5} and words w{i} w{i + 1} w{i + 2}" for i in range(30)]


def _py_shingles(text, n):
    if text is None:
        return set()
    norm = re.sub(r"[ \t\n\x0b\f\r]+", " ", text.strip(" ").lower())
    words = [w for w in norm.split(" ") if w]
    if len(words) < n:
        grams = [" ".join(words)]
    else:
        grams = [" ".join(words[i : i + n]) for i in range(len(words) - n + 1)]
    return {g for g in grams if g}


def _py_hashes(shingle, n_hashes):
    d = hashlib.md5(shingle.encode("utf-8")).hexdigest()
    slices = [int(d[8 * s : 8 * s + 8], 16) for s in range(4)]
    out = []
    for p in range(n_hashes):
        g, s = divmod(p, 4)
        if g == 0:
            out.append(slices[s])
        else:
            a, b = MIX[g - 1]
            out.append((a * slices[s] + b) % (1 << 32))
    return out


def _py_signatures(rows, n, n_hashes):
    sigs = {}
    for doc_id, text in rows:
        sh = _py_shingles(text, n)
        if sh:
            hs = [_py_hashes(s, n_hashes) for s in sh]
            sigs[doc_id] = tuple(min(h[p] for h in hs) for p in range(n_hashes))
    return sigs


def _spark_signatures(df, n_hashes):
    cols = [f"minhash_{p}" for p in range(n_hashes)]
    rows = df.select("doc_id", *cols).collect()
    assert len(rows) == len({r["doc_id"] for r in rows})
    return {r["doc_id"]: tuple(r[c] for c in cols) for r in rows}


ROWS = list(enumerate(TEXTS)) + [(None, TEXTS[-1])]


@pytest.mark.parametrize("n_hashes", [4, 16, 32])
def test_minhash_signatures_match_python_oracle(spark, n_hashes):
    docs = spark.createDataFrame(ROWS, "doc_id long, text string")
    want = _py_signatures(ROWS, 3, n_hashes)
    assert None in want and 0 in want and 3 in want
    assert 4 not in want and 5 not in want and 6 not in want

    shingles = {
        (r["doc_id"], r["shingle"]) for r in word_shingles(docs, 3).collect()
    }
    assert shingles == {
        (i, s) for i, t in ROWS for s in _py_shingles(t, 3)
    }

    exploded = _spark_signatures(
        minhash_signatures(word_shingles(docs, 3), n_hashes), n_hashes
    )
    assert exploded == want
    projected = _spark_signatures(
        minhash_signatures_projection(docs, 3, n_hashes), n_hashes
    )
    assert projected == want
    arr = docs.select("doc_id", shingle_array(F.col("text"), 3).alias("_arr"))
    from_array = _spark_signatures(
        minhash_signatures_projection(arr, n_hashes=n_hashes, array_col="_arr"),
        n_hashes,
    )
    assert from_array == want


def test_minhash_signatures_reject_too_many_hashes(spark):
    docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    with pytest.raises(ValueError, match="at most 32"):
        minhash_signatures(word_shingles(docs, 3), 36)
