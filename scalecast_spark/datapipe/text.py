"""Text-analysis operators for document pipelines.

Default posture: pure JVM expressions (regexp/length/split) running
inside whole-stage codegen at full scan speed; each operator is a
DataFrame→DataFrame function over a ``text`` column. Two documented
exceptions ship Arrow-batched mapInPandas kernels where interpreted
HOF folds are provably interpreter-bound: the Gopher char-fraction
family (add_gopher_signals_fast — bit-exact twin of the declarative
version) — there are NO row-at-a-time Python UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: small multilingual stopword marker sets for the n-gram/marker-word
#: language heuristic. Public knowledge (most-common function words).
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in"],
    "es": ["el", "la", "de", "que", "los"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "les", "et", "des"],
    "zh": ["de", "shi", "le", "zai", "he"],
}

EN_STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]


def _ws_norm(col: Column) -> Column:
    """Whitespace-normalized text: trimmed, every internal whitespace
    run collapsed to one space. The shared normalization every counter
    below starts from (deterministic → codegen subexpression
    elimination evaluates it once per row even when several output
    columns reference it)."""
    return F.regexp_replace(F.trim(col), r"\s+", " ")


def _word_count_norm(norm: Column) -> Column:
    # split of "" yields [""] (size 1), so gate on emptiness instead of
    # an interpreted HOF filter — HOF lambdas run interpreted with no
    # subexpression elimination (measured 2-3x on the quality scan)
    return F.when(F.length(norm) == 0, F.lit(0)).otherwise(
        F.size(F.split(norm, " ", -1))
    )


def _spaced2(norm: Column) -> Column:
    """Pad + double every space so each word owns BOTH its surrounding
    spaces: ``"a b"`` → ``"  a  b  "``. A single alternation regex
    ``" (w1|w2|...) "`` then counts marker-word occurrences without
    adjacent matches fighting over a shared boundary space — one regex
    pass instead of one split per marker word."""
    return F.replace(
        F.concat(F.lit(" "), norm, F.lit(" ")), F.lit(" "), F.lit("  ")
    )


def _marker_hits(spaced2: Column, words: list[str]) -> Column:
    pat = " (" + "|".join(words) + ") "
    return F.size(F.regexp_extract_all(spaced2, F.lit(pat), F.lit(0)))


def add_token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count plus a BPE-ish subword estimate
    (split on non-alphanumeric boundaries and count runs of ≤4 chars —
    a cheap, deterministic proxy for tokenizer length)."""
    c = F.col(text_col)
    norm = _ws_norm(c)
    words = _word_count_norm(norm)
    # subword proxy: ceil(len(word)/4) summed ≈ chars/4 + word boundaries
    subwords = (
        (F.length(norm) - F.greatest(words - 1, F.lit(0))) / F.lit(4.0)
    )
    return df.withColumn("n_tokens", words.cast("long")).withColumn(
        "n_subword_est", F.ceil(subwords + words).cast("long")
    )


def add_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic document quality: length, punctuation density, stopword
    ratio, mean word length. Mirrors standard LLM-corpus filters
    (C4/Gopher-style rules) as pure column math."""
    c = F.col(text_col)
    norm = _ws_norm(c)
    n_chars = F.length(c)
    words = _word_count_norm(norm)
    punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    stop_hits = _marker_hits(_spaced2(norm), EN_STOPWORDS)
    # letters = |norm| minus the words-1 single separators — no second
    # whitespace-stripping regex pass needed
    letter_chars = F.length(norm) - F.greatest(words - 1, F.lit(0))
    # try_divide: empty/whitespace docs yield NULL ratios (and q_score 0)
    # instead of an ANSI DIVIDE_BY_ZERO
    punct_ratio = F.try_divide(punct, n_chars)
    mean_word_len = F.try_divide(letter_chars, words)
    return (
        df.withColumn("q_n_chars", n_chars.cast("long"))
        .withColumn("q_n_words", words.cast("long"))
        .withColumn("q_punct_ratio", F.round(punct_ratio, 6))
        .withColumn("q_stopword_ratio", F.round(F.try_divide(stop_hits, words), 6))
        .withColumn("q_mean_word_len", F.round(mean_word_len, 6))
        .withColumn(
            "q_score",
            F.coalesce(
                F.round(
                    F.when(words >= 5, 1.0).otherwise(0.0)
                    * F.when(mean_word_len.between(2.0, 12.0), 1.0).otherwise(0.5)
                    * (1.0 - F.least(punct_ratio * 5.0, F.lit(1.0))),
                    6,
                ),
                F.lit(0.0),
            ),
        )
    )


def add_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word language heuristic: score each candidate language by
    counting its top function words; argmax wins, ties break
    alphabetically. Deterministic and SQL-expressible (the oracle can
    replicate it verbatim)."""
    sp2 = _spaced2(_ws_norm(F.lower(F.col(text_col))))
    scores = []
    out = df
    for lang, markers in sorted(LANG_MARKERS.items()):
        out = out.withColumn(f"_score_{lang}", _marker_hits(sp2, markers))
        scores.append(lang)
    best = F.greatest(*[F.col(f"_score_{s}") for s in scores])
    pred = F.lit(None).cast("string")
    for lang in reversed(scores):  # reversed so earlier langs win ties
        pred = F.when(F.col(f"_score_{lang}") == best, F.lit(lang)).otherwise(pred)
    out = out.withColumn("lang_pred", pred)
    return out.drop(*[f"_score_{s}" for s in scores])


def add_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Content fingerprint: md5 of the casefolded,
    whitespace-normalized text. md5 is bit-identical across engines,
    which makes fingerprints portable between Spark jobs, DuckDB
    oracles, and external systems."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return df.withColumn("fingerprint", F.md5(norm))


#: RE2-safe PII patterns (no backreferences/lookahead) so the SAME
#: pattern runs on Spark (Java regex) and DuckDB/RE2 oracles.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9][0-9()\- ]{6,}[0-9]"


def _norm(col: Column) -> Column:
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def add_repetition_signals(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021, table A1):
    duplicate-line fraction and top-2-gram fraction per document.

    BOTH signals are pure per-row column math — zero shuffles, zero
    joins, full scan speed at any corpus size. The top-2-gram mode is
    the max run length of the SORTED bigram array (one O(n log n)
    array_sort + one O(n) aggregate scan per doc), not an
    explode→groupBy→join-back, which would shuffle (id, bigram) pairs
    corpus-wide and re-shuffle the doc bodies on the join back.
    """
    c = F.col(text_col)
    # regexp trim, not F.trim: Spark trim strips ONLY spaces, so CRLF
    # docs would keep the \r and never match their LF twins (and
    # \r-only "blank" lines would count as content)
    lines_expr = F.filter(
        F.transform(
            F.split(c, "\n"),
            lambda x: F.regexp_replace(x, r"^\s+|\s+$", ""),
        ),
        lambda x: F.length(x) > 0,
    )
    # materialize each array ONCE in its own projection: interpreted
    # HOF chains get no subexpression elimination, and every column
    # below references them 2-3 times (CollapseProject keeps non-cheap
    # multiply-referenced aliases in a separate projection, so these
    # really do evaluate once per row). Temp names dodge any existing
    # column so caller columns are never clobbered.
    def fresh(name: str) -> str:
        while name in df.columns:
            name = "_" + name
        return name

    c_lines, c_ws, c_bg = fresh("_rep_lines"), fresh("_rep_ws"), fresh("_rep_bg")
    df = (
        df.withColumn(c_lines, lines_expr)
        .withColumn(c_ws, split_words(_norm(c)))
        .withColumn(c_bg, F.array_sort(ngram_chain(F.col(c_ws), 2)))
    )
    lines = F.col(c_lines)
    n_lines = F.size(lines)
    n_distinct = F.size(F.array_distinct(lines))
    dup_frac = F.when(
        n_lines > 0, F.round(1.0 - n_distinct / n_lines.cast("double"), 6)
    ).otherwise(F.lit(0.0))

    bg = F.col(c_bg)
    n_bg = F.size(bg)
    # max run length over the sorted array == the mode's count; the
    # lambda touches only accumulator fields and the element (cheap)
    acc0 = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    top_cnt = F.aggregate(bg, acc0, step, lambda acc: acc["best"])
    top_frac = F.when(
        n_bg > 0, F.round(top_cnt / n_bg.cast("double"), 6)
    ).otherwise(F.lit(0.0))
    return (
        df.withColumn("dup_line_frac", dup_frac)
        .withColumn("top2gram_frac", top_frac)
        .drop(c_lines, c_ws, c_bg)
    )


def _runlen_dup_chars(arr: Column) -> Column:
    """Characters covered by elements occurring ≥2 times in the SORTED
    string array (every occurrence counted): one O(n) run-length fold —
    when a run closes with length r > 1 it contributes r·len(elem)."""
    acc0 = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).cast("long").alias("dup"),
    )

    def step(acc, x):
        closing = F.when(
            (x != acc["prev"]) & (acc["run"] > 1),
            acc["run"].cast("long") * F.length(acc["prev"]),
        ).otherwise(F.lit(0).cast("long"))
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"), (acc["dup"] + closing).alias("dup")
        )

    def fin(acc):
        return acc["dup"] + F.when(
            acc["run"] > 1, acc["run"].cast("long") * F.length(acc["prev"])
        ).otherwise(F.lit(0).cast("long"))

    return F.aggregate(arr, acc0, step, fin)


def _runlen_top_chars(arr: Column) -> Column:
    """Characters covered by the most frequent element of the SORTED
    string array (count·len; count ties break toward more characters).
    Within a run the running count peaks at the run's last element, so
    updating the (best_run, best_chars) lexicographic max per element
    is exact."""
    acc0 = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("brun"),
        F.lit(0).cast("long").alias("bch"),
    )

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        ch = run.cast("long") * F.length(x)
        better = (run > acc["brun"]) | ((run == acc["brun"]) & (ch > acc["bch"]))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.when(better, run).otherwise(acc["brun"]).alias("brun"),
            F.when(better, ch).otherwise(acc["bch"]).alias("bch"),
        )

    return F.aggregate(arr, acc0, step, lambda acc: acc["bch"])


def _arr_total_chars(arr: Column) -> Column:
    return F.aggregate(
        arr,
        F.lit(0).cast("long"),
        lambda acc, x: acc + F.length(x).cast("long"),
    )


def _char_frac(num: Column, denom: Column) -> Column:
    """num/denom as a 6dp fraction, 0.0 on empty denominators, capped
    at 1.0 (overlapping n-grams can cover more characters than the doc
    holds — Gopher's 'take care not to double count' caveat, resolved
    here by a documented cap both engines apply identically)."""
    return F.when(
        denom > 0,
        F.round(F.least(num / denom.cast("double"), F.lit(1.0)), 6),
    ).otherwise(F.lit(0.0))


def add_gopher_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10),
) -> DataFrame:
    """The COMPLETE Gopher repetition-filter family (Rae et al. 2021,
    table A1) beyond the two signals in :func:`add_repetition_signals`:

    - ``dup_para_frac`` — fraction of paragraphs that are duplicates
      (paragraph = ``\\n{2,}``-separated block, trimmed, non-empty)
    - ``dup_line_char_frac`` / ``dup_para_char_frac`` — fraction of
      line/paragraph characters inside elements occurring ≥2 times
    - ``top{n}gram_char_frac`` (n ∈ ``top_ns``) — fraction of
      normalized-text characters covered by the single most frequent
      word n-gram (count·len(gram), count ties → more characters)
    - ``dup{n}gram_char_frac`` (n ∈ ``dup_ns``) — fraction of
      normalized-text characters covered by word n-grams occurring ≥2
      times (sum of count·len over duplicated grams, capped at 1.0 —
      overlapping grams make the exact de-overlapped measure
      order-dependent; the cap is the deterministic, engine-portable
      resolution and is what the curation thresholds are tuned against)

    EVERYTHING is per-row column math: each needed array (lines,
    paragraphs, one sorted n-gram array per distinct n) materializes
    once in its own projection, then O(n) run-length folds extract the
    duplicate/mode statistics — zero shuffles, zero joins, full scan
    speed on a 100 TB corpus. The explode→groupBy alternative would
    shuffle (id, gram) pairs corpus-wide per n.

    Reference: the Gopher paper's quality-filter appendix (public);
    scalecast has no analogue — this is LLM-curation depth the engine
    adds as first-class."""
    c = F.col(text_col)

    def fresh(name: str) -> str:
        while name in df.columns:
            name = "_" + name
        return name

    line_arr = F.filter(
        F.transform(
            F.split(c, "\n"), lambda x: F.regexp_replace(x, r"^\s+|\s+$", "")
        ),
        lambda x: F.length(x) > 0,
    )
    para_arr = F.filter(
        F.transform(
            F.split(c, r"\n{2,}"),
            lambda x: F.regexp_replace(x, r"^\s+|\s+$", ""),
        ),
        lambda x: F.length(x) > 0,
    )
    ns = sorted(set(top_ns) | set(dup_ns))
    c_norm = fresh("_gph_norm")
    c_ws = fresh("_gph_ws")
    c_lines = fresh("_gph_lines")
    c_paras = fresh("_gph_paras")
    c_ng = {n: fresh(f"_gph_ng{n}") for n in ns}
    out = (
        df.withColumn(c_norm, _norm(c))
        .withColumn(c_ws, split_words(F.col(c_norm)))
        .withColumn(c_lines, F.array_sort(line_arr))
        .withColumn(c_paras, F.array_sort(para_arr))
    )
    for n in ns:
        out = out.withColumn(c_ng[n], F.array_sort(ngram_chain(F.col(c_ws), n)))

    lines, paras = F.col(c_lines), F.col(c_paras)
    n_paras = F.size(paras)
    dup_para_frac = F.when(
        n_paras > 0,
        F.round(1.0 - F.size(F.array_distinct(paras)) / n_paras.cast("double"), 6),
    ).otherwise(F.lit(0.0))
    doc_chars = F.length(F.col(c_norm)).cast("long")
    out = (
        out.withColumn("dup_para_frac", dup_para_frac)
        .withColumn(
            "dup_line_char_frac",
            _char_frac(_runlen_dup_chars(lines), _arr_total_chars(lines)),
        )
        .withColumn(
            "dup_para_char_frac",
            _char_frac(_runlen_dup_chars(paras), _arr_total_chars(paras)),
        )
    )
    for n in sorted(set(top_ns)):
        out = out.withColumn(
            f"top{n}gram_char_frac",
            _char_frac(_runlen_top_chars(F.col(c_ng[n])), doc_chars),
        )
    for n in sorted(set(dup_ns)):
        out = out.withColumn(
            f"dup{n}gram_char_frac",
            _char_frac(_runlen_dup_chars(F.col(c_ng[n])), doc_chars),
        )
    return out.drop(c_norm, c_ws, c_lines, c_paras, *c_ng.values())


#: the Gopher "must contain ≥2 of these" stop-word set (Rae et al.
#: 2021 table A1 — public knowledge).
GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def add_c4_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """C4/Gopher document-structure quality signals (Raffel et al. 2020
    §2.2 and Rae et al. 2021 table A1) as pure JVM column math — one
    regex pass per signal, whole-stage codegen, zero shuffles:

    - ``term_punct_line_frac`` — lines ending in terminal punctuation
      (C4 keeps only such lines)
    - ``short_line_frac`` — lines with <5 words (C4's per-line floor)
    - ``bullet_line_frac`` / ``ellipsis_line_frac`` — Gopher's ≤90% /
      ≤30% boilerplate-structure caps
    - ``alpha_word_frac`` — words containing ≥1 alphabetic char
      (Gopher requires ≥80%)
    - ``symbol_word_ratio`` — (# or ellipsis) occurrences per word
      (Gopher caps at 0.1)
    - ``n_sentences`` — terminal-punctuation runs (C4 wants ≥3)
    - ``stop_hits_gopher`` — how many of Gopher's 8 stop words appear
      (requires ≥2)
    - ``has_lorem_ipsum`` / ``has_curly_brace`` / ``has_js_marker`` —
      C4's page-level drop markers

    Line fractions are folds over the (small) per-doc lines array;
    word-level signals ride the one-regex-pass ``_spaced2`` trick the
    lang-ID/stopword counters already use. Reference scalecast has no
    analogue — LLM-curation depth."""
    c = F.col(text_col)

    def fresh(name: str) -> str:
        while name in df.columns:
            name = "_" + name
        return name

    c_lines, c_norm = fresh("_c4_lines"), fresh("_c4_norm")
    line_arr = F.filter(
        F.transform(
            F.split(c, "\n"), lambda x: F.regexp_replace(x, r"^\s+|\s+$", "")
        ),
        lambda x: F.length(x) > 0,
    )
    out = df.withColumn(c_lines, line_arr).withColumn(c_norm, _norm(c))
    lines, norm = F.col(c_lines), F.col(c_norm)
    n_lines = F.size(lines)

    def line_frac(cond) -> Column:
        return F.when(
            n_lines > 0,
            F.round(F.size(F.filter(lines, cond)) / n_lines.cast("double"), 6),
        ).otherwise(F.lit(0.0))

    sp2 = _spaced2(norm)
    words = _word_count_norm(norm)
    alpha_words = F.size(F.regexp_extract_all(sp2, F.lit(" [^ ]*[a-z][^ ]* "), F.lit(0)))
    symbols = F.size(F.regexp_extract_all(c, F.lit(r"#|\.\.\.|…"), F.lit(0)))
    stop_hits = None
    for w in GOPHER_STOPS:
        hit = F.when(sp2.contains(f" {w} "), 1).otherwise(0)
        stop_hits = hit if stop_hits is None else stop_hits + hit
    low = F.lower(c)
    return (
        out.withColumn("term_punct_line_frac", line_frac(lambda x: x.rlike('[.!?"]$')))
        .withColumn(
            "short_line_frac",
            line_frac(lambda x: F.size(F.split(x, r"\s+")) < 5),
        )
        .withColumn("bullet_line_frac", line_frac(lambda x: x.rlike(r"^[-*•]")))
        .withColumn(
            "ellipsis_line_frac", line_frac(lambda x: x.rlike(r"(\.\.\.|…)$"))
        )
        .withColumn(
            "alpha_word_frac",
            F.when(
                words > 0, F.round(alpha_words / words.cast("double"), 6)
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "symbol_word_ratio",
            F.when(
                words > 0, F.round(symbols / words.cast("double"), 6)
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "n_sentences",
            F.size(F.regexp_extract_all(c, F.lit("[.!?]+"), F.lit(0))).cast("long"),
        )
        .withColumn("stop_hits_gopher", stop_hits.cast("long"))
        .withColumn("has_lorem_ipsum", low.contains("lorem ipsum"))
        .withColumn("has_curly_brace", c.contains("{"))
        .withColumn("has_js_marker", low.contains("javascript"))
        .drop(c_lines, c_norm)
    )


def add_gopher_signals_fast(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10),
    include_base: bool = False,
) -> DataFrame:
    """Arrow-batched twin of :func:`add_gopher_signals` producing
    BIT-IDENTICAL values (parity-tested in tests/test_gopher_signals.py
    and certified transitively by the text_curation oracle hash-match).

    ``include_base=True`` prepends bit-exact twins of
    add_repetition_signals' two signals (dup_line_frac,
    top2gram_frac) so one kernel pass carries the full family.

    Why a kernel exists at all: the declarative version needs one
    array_sort + one run-length ``F.aggregate`` fold per n (9 of them)
    and interpreted HOF lambdas get neither codegen nor subexpression
    elimination — measured ~1.6 ms/doc at sf0.1 (8 s over 5k docs),
    which at corpus scale is interpreter-bound, not IO-bound. A
    Counter-based Python kernel over Arrow batches is ~20x faster per
    doc and keeps the identical one-scan, zero-shuffle plan shape; this
    is the documented "built-ins can't express it efficiently" carve-out
    (same policy as the multimodal decode kernels). All input columns
    pass through the batch, so the operator composes mid-pipeline
    without a join-back shuffle.

    Java-regex semantics are replicated exactly: ``\\s`` matches ASCII
    whitespace only, ``trim`` strips ONLY spaces (Spark SQL trim, not
    Java String.trim), and rounding
    replays Spark's HALF_UP ``round(x, 6)`` via Decimal on the shortest
    float repr (Python's banker's rounding would drift on .5 ties)."""
    import re as _re
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal
    from typing import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    new_cols = (
        (["dup_line_frac", "top2gram_frac"] if include_base else [])
        + ["dup_para_frac", "dup_line_char_frac", "dup_para_char_frac"]
        + [f"top{n}gram_char_frac" for n in sorted(set(top_ns))]
        + [f"dup{n}gram_char_frac" for n in sorted(set(dup_ns))]
    )
    clash = [c for c in new_cols if c in df.columns]
    if clash:
        raise ValueError(f"gopher signal columns already present: {clash}")
    schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(c, T.DoubleType()) for c in new_cols]
    )
    java_ws = " \t\n\x0b\f\r"
    edge_ws = _re.compile(rf"^[{java_ws}]+|[{java_ws}]+$")
    runs_ws = _re.compile(rf"[{java_ws}]+")
    para_re = _re.compile(r"\n{2,}")
    q6 = Decimal("0.000001")

    def rnd(x: float) -> float:
        return float(Decimal(repr(x)).quantize(q6, rounding=ROUND_HALF_UP))

    def frac(num: int, denom: int) -> float:
        if denom <= 0:
            return 0.0
        return rnd(min(num / denom, 1.0))

    def dup_chars(elems: list) -> tuple[int, int]:
        cnt = Counter(elems)
        tot = dup = 0
        for e, c in cnt.items():
            ch = len(e) * c
            tot += ch
            if c > 1:
                dup += ch
        return dup, tot

    def one(text: str) -> list:
        lines = [
            s for s in (edge_ws.sub("", x) for x in text.split("\n")) if s
        ]
        paras = [
            s for s in (edge_ws.sub("", x) for x in para_re.split(text)) if s
        ]
        # Spark's F.trim strips ONLY spaces (not newlines/tabs) — a
        # hypothesis counterexample ("a a" + newline) caught the kernel
        # using Java-String.trim semantics: doc_chars 3 vs the
        # declarative/oracle 4. Strip spaces, then collapse ASCII
        # whitespace runs (edge non-space whitespace becomes a space
        # and counts toward normalized doc length, same as the engine).
        norm = runs_ws.sub(" ", text.strip(" ").lower())
        words = [w for w in norm.split(" ") if w]
        doc_chars = len(norm)
        n_para = len(paras)
        dup_para = (
            rnd(1.0 - len(set(paras)) / n_para) if n_para else 0.0
        )
        ld, lt = dup_chars(lines)
        pdp, pt = dup_chars(paras)
        row = [dup_para, frac(ld, lt), frac(pdp, pt)]
        grams_cache: dict[int, list[str]] = {}

        def grams(n: int) -> list[str]:
            if n not in grams_cache:
                grams_cache[n] = [
                    " ".join(words[i : i + n])
                    for i in range(len(words) - n + 1)
                ]
            return grams_cache[n]

        if include_base:
            # bit-exact twins of add_repetition_signals' two signals
            # (parity-tested), so ONE kernel pass can carry the whole
            # 13-signal repetition family
            dup_line = (
                rnd(1.0 - len(set(lines)) / len(lines)) if lines else 0.0
            )
            bg = grams(2)
            top2 = rnd(max(Counter(bg).values()) / len(bg)) if bg else 0.0
            row = [dup_line, top2] + row

        for n in sorted(set(top_ns)):
            g = grams(n)
            if g:
                cnt = Counter(g)
                mc = max(cnt.values())
                ch = max(c * len(e) for e, c in cnt.items() if c == mc)
                row.append(frac(ch, doc_chars))
            else:
                row.append(0.0)
        for n in sorted(set(dup_ns)):
            d, _ = dup_chars(grams(n))
            row.append(frac(d, doc_chars))
        return row

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            vals = [one(t if t is not None else "") for t in pdf[text_col]]
            out = pdf.copy()
            for j, c in enumerate(new_cols):
                out[c] = [v[j] for v in vals]
            yield out

    # single-file corpora arrive as ONE scan partition, which would run
    # the per-doc kernel serially on one core (guide §2.5 input skew);
    # spread the compute-heavy stage like the sibling kernels do. The
    # signals are pure per-row functions, so partitioning cannot change
    # any value.
    from scalecast_spark.datapipe.dedup import _spread

    return df.repartition(_spread(df), F.col(id_col)).mapInPandas(
        batches, schema
    )


def ngram_chain(words: Column, n: int) -> Column:
    """Word n-grams from a words-array column as a ZIP-CHAIN of n
    shifted slices — the ONE shared construction for shingles, bigrams,
    and contamination n-grams. NEVER reference an expensive expression
    inside an HOF lambda: interpreted lambdas get no subexpression
    elimination, so e.g. ``transform(idx, i -> slice(words, i, n))``
    re-evaluates the whole split chain per element (measured 20x at
    sf0.1). Every ``words`` reference here is a top-level child
    (evaluated once per row; pass a materialized column to make the n+1
    references free). Arrays with < n words yield []."""
    cnt = F.greatest(F.size(words) - (n - 1), F.lit(0))
    acc = F.slice(words, 1, cnt)
    for j in range(1, n):
        acc = F.zip_with(
            acc, F.slice(words, 1 + j, cnt),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return acc


def split_words(norm_col: Column) -> Column:
    """Non-empty word array of normalized text."""
    return F.filter(F.split(norm_col, " "), lambda x: F.length(x) > 0)


def _ngram_zip(norm_col: Column, n: int) -> Column:
    return ngram_chain(split_words(norm_col), n)


def contamination_hits(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark-contamination check: count exact word n-gram overlaps
    between each document and a benchmark set (the GPT-3 appendix-C /
    PaLM decontamination strategy, typically n=8..13).

    The benchmark n-gram set is tiny relative to the corpus (eval sets
    are MBs, the corpus is TBs) → distinct + broadcast; the corpus side
    explodes its n-grams per doc and hash-joins with NO shuffle of the
    corpus (broadcast hash join on xxhash64 long keys — cheaper than
    md5 strings; collision odds ~ |bench|·|doc| / 2^64). The words
    array materializes in its own projection so the n zip-chain slice
    references read a column, not n re-evaluations of the split chain.
    Returns (id_col, n_contam) for docs with ≥1 hit.
    """
    def _ng_hashes(df_: DataFrame, cols: list[str]) -> DataFrame:
        ws = df_.select(
            *cols, split_words(_norm(F.col(text_col))).alias("_ws")
        )
        ngrams = ngram_chain(F.col("_ws"), n)
        return ws.select(
            *cols, F.explode(F.array_distinct(ngrams)).alias("_ng")
        ).select(*cols, F.xxhash64("_ng").alias("_h"))

    from scalecast_spark.datapipe.dedup import _spread

    # corpus side: spread the zip-chain explode (single-file sources
    # scan as one partition — the n-gram build is the expensive step
    # and would serialize; see word_shingles). The benchmark side is
    # eval-set-sized and flows into its own distinct shuffle — not
    # worth an extra exchange.
    doc_sh = _ng_hashes(
        docs.repartition(_spread(docs), F.col(id_col)), [id_col]
    )
    bench_sh = _ng_hashes(benchmark, []).distinct()
    return (
        doc_sh.join(F.broadcast(bench_sh), "_h")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_contam"))
    )


def scrub_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails then phone numbers with typed placeholders and
    count each. Patterns are RE2-compatible so the exact scrub replays
    on any engine; pure regexp column math (whole-stage codegen)."""
    c = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(c, F.lit(EMAIL_RE), F.lit(0)))
    scrubbed1 = F.regexp_replace(c, EMAIL_RE, "<EMAIL>")
    n_phones = F.size(F.regexp_extract_all(scrubbed1, F.lit(PHONE_RE), F.lit(0)))
    return (
        df.withColumn("n_emails", n_emails.cast("long"))
        .withColumn("n_phones", n_phones.cast("long"))
        .withColumn("text_scrubbed", F.regexp_replace(scrubbed1, PHONE_RE, "<PHONE>"))
    )


def tfidf_top_terms(
    df: DataFrame, top_k: int = 5, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document top-k TF-IDF terms — the classic corpus statistic
    for keyword extraction / topic labeling at curation time.

    tf = term count within the doc; idf = ln((N+1)/(df_t+1)) + 1 (the
    sklearn smooth-idf convention). Everything is JVM-side: one explode
    + two aggregates + a windowed top-k; the doc-frequency frame is
    tiny (vocab-sized) and broadcast back onto the term frame.
    Deterministic ties: score DESC, term ASC.
    """
    from pyspark.sql import Window as W

    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    words = (
        df.select(id_col, F.explode(F.split(norm, " ")).alias("term"))
        .filter(F.length("term") > 0)
    )
    tf = words.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    # N stays INSIDE the plan: a one-row aggregate over the id column
    # only (parquet column pruning → a scan of KBs per TB of corpus),
    # broadcast-cross-joined onto the vocab-sized idf frame. A driver
    # `.count()` here would be a whole extra job blocking plan
    # submission — measured ~1.7 s of the old 3.8 s at sf0.1.
    n_docs_df = df.groupBy().agg(F.countDistinct(id_col).alias("_n_docs"))
    dfreq = tf.groupBy("term").agg(F.countDistinct(id_col).alias("df_t"))
    idf = dfreq.crossJoin(F.broadcast(n_docs_df)).withColumn(
        "idf", F.log((F.col("_n_docs") + 1).cast("double") / (F.col("df_t") + 1)) + 1.0
    )
    w = W.partitionBy(id_col).orderBy(F.desc("score"), F.asc("term"))
    return (
        tf.join(F.broadcast(idf.select("term", "idf")), "term")
        .withColumn("score", F.round(F.col("tf") * F.col("idf"), 6))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= top_k)
        .select(id_col, "term", F.col("tf").cast("long").alias("tf"), "score", F.col("_rn").alias("rank"))
    )


def curate_corpus(
    df: DataFrame,
    benchmark: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 5,
    max_dup_line_frac: float = 0.3,
    max_top2gram_frac: float = 0.2,
    min_quality: float = 0.25,
    max_contam: int = 0,
    contam_ngram: int = 8,
    scrub: bool = True,
    max_dup_span_frac: float | None = None,
    min_tri_logprob: float | None = None,
    gopher_char_gates: bool = False,
    c4_gates: bool = False,
    decontam_mode: str = "drop",
) -> DataFrame:
    """The standard pre-training curation sweep as ONE composed pass:
    C4/Gopher quality gates + repetition gates + (optional) benchmark
    decontamination + PII scrubbing, each rule recorded by name.

    Adds ``keep`` (boolean) and ``drop_reasons`` (array<string>, empty
    when kept) plus every underlying signal column; when ``scrub`` the
    surviving text is the redacted ``text_scrubbed``. Everything except
    the contamination join is per-row column math — one corpus scan;
    the contamination side is a broadcast join against the (tiny)
    benchmark n-gram set, so the plan stays shuffle-free on the corpus.
    Filter ``keep`` to materialize the cleaned corpus.

    ``decontam_mode='cut'`` (with a benchmark) switches from
    drop-the-page to the span-surgery posture: overlapping n-gram
    spans are removed FIRST (remove_contaminated_spans) and every
    gate judges the cleaned text — no benchmark_contaminated rule.
    Only documents that were actually cut are rebuilt (original case,
    but single-line — see remove_contaminated_spans' text contract),
    so line/paragraph gates judge flattened text for THOSE docs;
    untouched docs keep their bytes and gate normally.

    STREAMING: with ``benchmark=None`` every rule is stateless per-row
    column math, so this operator applies unchanged to a readStream
    frame in append mode (a crawl firehose can be curated on ingest —
    batch-parity is asserted in tests/test_streaming.py).
    Decontamination aggregates per doc, so run it as the batch step
    (or a stream-static join — contamination_hits accepts a streaming
    corpus against the static benchmark directly; complete-mode parity
    is asserted in tests/test_streaming.py) downstream.
    """
    if decontam_mode not in ("drop", "cut"):
        raise ValueError(f"decontam_mode must be drop|cut, got {decontam_mode!r}")
    if benchmark is not None and decontam_mode == "cut":
        # surgical decontamination FIRST (Lee et al./PaLM posture):
        # overlapping spans are cut and every downstream signal/rule
        # judges the CLEANED text; no benchmark_contaminated rule —
        # the doc survives on its remaining merits. The original text
        # column is replaced (the cleaned corpus is what ships).
        df = remove_contaminated_spans(
            df, benchmark, contam_ngram, text_col, id_col
        ).withColumn(text_col, F.col("text_decontam")).drop("text_decontam")
    out = add_quality_score(add_token_count(df, text_col), text_col)
    if gopher_char_gates:
        # Arrow kernel twin: bit-identical to the declarative signals
        # (parity-tested), ~20x faster, stateless → still streams;
        # include_base carries dup_line_frac/top2gram_frac in the SAME
        # kernel pass instead of a second JVM fold chain
        out = add_gopher_signals_fast(out, text_col, id_col, include_base=True)
    else:
        out = add_repetition_signals(out, text_col, id_col)
    if c4_gates:
        out = add_c4_signals(out, text_col)
    if scrub:
        out = scrub_pii(out, text_col)
    rules = [
        ("too_few_tokens", F.col("n_tokens") < min_tokens),
        ("dup_lines", F.col("dup_line_frac") > max_dup_line_frac),
        ("repetitive_2grams", F.col("top2gram_frac") > max_top2gram_frac),
        ("low_quality", F.coalesce(F.col("q_score"), F.lit(0.0)) < min_quality),
    ]
    if gopher_char_gates:
        # the canonical Gopher thresholds (Rae et al. 2021, table A1);
        # still pure per-row column math — the sweep stays one scan and
        # streams in append mode like the default rules
        for name, col, thr in [
            ("dup_paragraphs", "dup_para_frac", 0.30),
            ("dup_line_chars", "dup_line_char_frac", 0.20),
            ("dup_para_chars", "dup_para_char_frac", 0.20),
            ("top2gram_chars", "top2gram_char_frac", 0.20),
            ("top3gram_chars", "top3gram_char_frac", 0.18),
            ("top4gram_chars", "top4gram_char_frac", 0.16),
            ("dup5gram_chars", "dup5gram_char_frac", 0.15),
            ("dup6gram_chars", "dup6gram_char_frac", 0.14),
            ("dup7gram_chars", "dup7gram_char_frac", 0.13),
            ("dup8gram_chars", "dup8gram_char_frac", 0.12),
            ("dup9gram_chars", "dup9gram_char_frac", 0.11),
            ("dup10gram_chars", "dup10gram_char_frac", 0.10),
        ]:
            rules.append((name, F.col(col) > thr))
    if c4_gates:
        # C4 (Raffel et al. 2020 §2.2) + Gopher doc-level gates; all
        # per-row column math — the sweep stays one scan and streams
        rules += [
            ("gopher_word_count", ~F.col("n_tokens").between(50, 100_000)),
            (
                "gopher_mean_word_len",
                ~F.coalesce(F.col("q_mean_word_len"), F.lit(0.0)).between(3.0, 10.0),
            ),
            ("low_alpha_words", F.col("alpha_word_frac") < 0.8),
            ("symbol_heavy", F.col("symbol_word_ratio") > 0.1),
            ("bullet_heavy", F.col("bullet_line_frac") > 0.9),
            ("ellipsis_heavy", F.col("ellipsis_line_frac") > 0.3),
            ("few_stop_words", F.col("stop_hits_gopher") < 2),
            ("too_few_sentences", F.col("n_sentences") < 3),
            ("lorem_ipsum", F.col("has_lorem_ipsum")),
            ("curly_brace", F.col("has_curly_brace")),
        ]
    if benchmark is not None and decontam_mode == "drop":
        hits = contamination_hits(df, benchmark, contam_ngram, text_col, id_col)
        out = out.join(hits, id_col, "left").na.fill({"n_contam": 0})
        rules.append(("benchmark_contaminated", F.col("n_contam") > max_contam))
    # corpus-level signals are OPT-IN: each adds an aggregate + join
    # (batch-only — stateless streaming curation stays the default)
    if max_dup_span_frac is not None:
        dup = add_duplication_signals(df, text_col=text_col, id_col=id_col)
        out = out.join(
            dup.select(id_col, "n_dup_spans", "dup_span_words"), id_col, "left"
        ).na.fill({"n_dup_spans": 0, "dup_span_words": 0})
        rules.append(
            (
                "repeated_substrings",
                F.try_divide(
                    F.col("dup_span_words"), F.greatest("n_tokens", F.lit(1))
                )
                > max_dup_span_frac,
            )
        )
    if min_tri_logprob is not None:
        lm = add_trigram_logprob(df, text_col=text_col, id_col=id_col)
        out = out.join(lm.select(id_col, "tri_logprob"), id_col, "left")
        rules.append(
            (
                "low_lm_score",
                F.coalesce(F.col("tri_logprob"), F.lit(float("-inf")))
                < min_tri_logprob,
            )
        )
    reasons = F.filter(
        F.array(
            *[F.when(cond, F.lit(name)).otherwise(F.lit(None)) for name, cond in rules]
        ),
        lambda x: x.isNotNull(),
    )
    return out.withColumn("drop_reasons", reasons).withColumn(
        "keep", F.size("drop_reasons") == 0
    )


def repeated_spans(
    df: DataFrame,
    k: int = 8,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring duplication at k-token granularity (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better" —
    the ExactSubstr criterion, discretized to word k-gram windows
    instead of a distributed suffix array): find every k-token window
    whose text occurs ≥ ``min_count`` times in the WHOLE corpus
    (within- or cross-document), then merge each document's duplicated
    windows into maximal spans. Returns (id, span_start, span_end) —
    0-based inclusive WORD indices into the normalized token stream.

    Fully declarative: posexplode the window hashes, one corpus-wide
    occurrence count as a window function partitioned by the 8-byte
    hash (shuffle carries hashes, never text), and a per-doc
    gaps-and-islands window merge (windows [p, p+k-1] fuse while
    next_pos ≤ prev_pos + k). The tokenize/explode/hash subtree is
    evaluated once and exchanged once; a groupBy + join-back count
    would evaluate it twice.

    Skew posture: the count sends every occurrence of one hash to one
    task, so a hot n-gram (boilerplate repeated across the corpus)
    lands whole on one task, which buffers the hash's rows in Spark's
    spillable window buffer. Measured on 4 cores with 2,000 docs
    sharing one 8-gram ~4M times, the slowest task took 2.9-3.4 s
    against 3.9-4.4 s for the groupBy + join-back form, whose hot-hash
    join rows also meet in one task."""
    from pyspark.sql import Window

    from scalecast_spark.datapipe.dedup import _spread

    # pre-explode repartition: see add_trigram_logprob (single-file
    # corpora would otherwise explode on one task)
    ws = df.repartition(_spread(df), id_col).select(
        id_col, split_words(_norm(F.col(text_col))).alias("_ws")
    )
    pos_ng = (
        ws.select(id_col, F.posexplode(ngram_chain(F.col("_ws"), k)).alias("_pos", "_ng"))
        .select(id_col, "_pos", F.xxhash64("_ng").alias("_h"))
    )
    # count() over an unordered hash partition is order-insensitive
    hits = (
        pos_ng.withColumn("_c", F.count("*").over(Window.partitionBy("_h")))
        .filter(F.col("_c") >= min_count)
        .select(id_col, "_pos")
    )
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


def add_duplication_signals(
    df: DataFrame,
    k: int = 8,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document exact-substring duplication load: number of merged
    duplicated spans and total words they cover (0 when clean). The
    curation gate for boilerplate/templated content that MinHash misses
    (documents can be globally distinct yet 60% made of corpus-repeated
    spans)."""
    spans = repeated_spans(df, k, min_count, text_col, id_col)
    agg = spans.groupBy(id_col).agg(
        F.count("*").alias("n_dup_spans"),
        F.sum(F.col("span_end") - F.col("span_start") + 1).alias("dup_span_words"),
    )
    return df.join(agg, id_col, "left").na.fill(
        {"n_dup_spans": 0, "dup_span_words": 0}
    )


def _pack_trigrams(s: str):
    """Code-point trigrams of an (already JVM-normalized) string as a
    packed int64 array: 3×21-bit code points (≤ 0x10FFFF) in one
    non-negative signed long, position order preserved. utf-32-le
    round-trips Python str → exact code points, matching Spark's
    code-point substr/length semantics."""
    import numpy as np

    codes = np.frombuffer(s.encode("utf-32-le"), dtype="<u4").astype(np.int64)
    return (codes[:-2] << 42) | (codes[1:-1] << 21) | codes[2:]


def add_trigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_to: int = 4,
) -> DataFrame:
    """Language-model quality scoring without a language model: each
    document's mean UNCONDITIONAL log-probability under the corpus's
    own character-trigram distribution — ln(C3(tri)/N) averaged over
    the doc's trigrams, counts from the whole corpus. The
    CCNet/Wenzek et al. perplexity-filter idea with the corpus itself
    as the reference model: natural prose is built from common
    trigrams and scores high; gibberish/encoded blobs are built from
    rare ones and score very low. Emits ``tri_logprob`` (NULL for docs
    with <3 normalized chars).

    Scale shape: two mapInArrow passes over the SAME JVM-normalized
    text (normalization byte semantics stay Spark's). Pass 1 counts
    packed code-point trigrams per task (np.unique — exact integer
    counts); the per-task partials meet in ONE tiny sum-aggregate and
    the vocab-bounded count table (~charset³ distinct keys,
    independent of corpus size; sf1 measured 1,891 entries for 14.8M
    instances) is collected driver-side. Pass 2 scores each doc by a
    vectorized sorted-vocab lookup. Construction runs the count job
    eagerly — the count table lives only in the returned plan's kernel
    closure, so every invocation recomputes from the source.

    Per-doc float op order equals the declarative explode + broadcast
    join + avg form: np.cumsum is the same sequential left-fold in
    trigram-position order as Spark's avg accumulator over the
    position-ordered joined rows, the mean is the same sum/count
    double division, and the round + join-back stay in the JVM.
    Rounded to ``round_to`` dp because a per-doc float mean is
    summation-order-sensitive across engines (COVERAGE.md 'Oracle
    rounding precision per member'); np.log's ≤1-ulp libm difference
    sits inside the same tolerance."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    from scalecast_spark.datapipe.dedup import _spread

    base = df.repartition(_spread(df), F.col(id_col)).select(
        id_col, _norm(F.col(text_col)).alias("_n")
    )

    def count_partials(batches):
        chunks = []
        for b in batches:
            for s in b.column(1).to_pylist():
                if s is not None and len(s) >= 3:
                    chunks.append(_pack_trigrams(s))
        if chunks:
            keys, cnts = np.unique(np.concatenate(chunks), return_counts=True)
            yield pa.RecordBatch.from_arrays(
                [pa.array(keys), pa.array(cnts.astype(np.int64))],
                names=["_k", "_c"],
            )

    partial_schema = T.StructType(
        [T.StructField("_k", T.LongType()), T.StructField("_c", T.LongType())]
    )
    rows = (
        base.mapInArrow(count_partials, partial_schema)
        .groupBy("_k")
        .agg(F.sum("_c").alias("_c"))
        .collect()
    )
    if rows:
        vocab = np.array(sorted(r["_k"] for r in rows), dtype=np.int64)
        cmap = {r["_k"]: r["_c"] for r in rows}
        counts = np.array([cmap[k] for k in vocab.tolist()], dtype=np.int64)
        nt = int(counts.sum())
        # the same double division a SQL replay evaluates per row
        # (long→double casts are exact below 2^53). np.log can differ
        # from the JVM's log by 1 ulp (measured: ≤1.8e-15 on real
        # vocab ratios) — inside the operator's documented round_to
        # cross-engine tolerance, which already absorbs JVM-vs-DuckDB ln
        logtab = np.log(counts.astype(np.float64) / float(nt))
    else:  # empty/short-only corpus: no doc reaches the score pass
        vocab = np.empty(0, dtype=np.int64)
        logtab = np.empty(0, dtype=np.float64)

    out_schema = T.StructType(
        [df.schema[id_col], T.StructField("_lp", T.DoubleType())]
    )

    def score(batches):
        for b in batches:
            ids = b.column(0)
            keep, means = [], []
            for r, s in enumerate(b.column(1).to_pylist()):
                if s is None or len(s) < 3:
                    continue
                pk = _pack_trigrams(s)
                vals = logtab[np.searchsorted(vocab, pk)]
                # cumsum = the sequential left-fold in position order
                # Spark's avg accumulator performs over the joined rows
                means.append(np.cumsum(vals)[-1] / len(vals))
                keep.append(r)
            if keep:
                yield pa.RecordBatch.from_arrays(
                    [
                        ids.take(pa.array(keep, type=pa.int32())),
                        pa.array(means, type=pa.float64()),
                    ],
                    names=[id_col, "_lp"],
                )

    scored = base.mapInArrow(score, out_schema).select(
        id_col, F.round(F.col("_lp"), round_to).alias("tri_logprob")
    )
    return df.join(scored, id_col, "left")


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Okapi BM25 ranked retrieval (Robertson & Zaragoza 2009) over the
    corpus, Lucene idf convention: idf = ln((N - df + 0.5)/(df + 0.5)
    + 1); score = Σ_t idf·tf·(k1+1)/(tf + k1·(1 - b + b·dl/avgdl)).
    Returns the top-k (id, bm25) by score DESC, id ASC.

    Scale shape: per-doc length projects BEFORE the explode and the
    exploded stream filters to the query vocabulary IMMEDIATELY, so
    the only shuffle carries (id, term, dl) rows for docs that match
    ≥1 query term; corpus stats (N, avgdl) are a one-row aggregate of
    the column-pruned lengths frame, broadcast-cross-joined; df_t is a
    query-vocab-sized broadcast. Top-k is TakeOrderedAndProject."""
    # document tokens come from split_words(_norm(text)) — lowercase,
    # whitespace-free — so query terms must be normalized the same way
    # or an uppercase term silently scores 0 against every document
    terms = sorted({t.strip().lower() for t in query_terms} - {""})
    if not terms:
        raise ValueError("query_terms must be non-empty")
    base = df.select(
        F.col(id_col), split_words(_norm(F.col(text_col))).alias("_ws")
    )
    stats = base.groupBy().agg(
        F.count("*").alias("_n"),
        F.avg(F.size("_ws")).alias("_avgdl"),
    )
    hits = (
        base.select(
            id_col, F.size("_ws").alias("_dl"), F.explode("_ws").alias("term")
        )
        .filter(F.col("term").isin(terms))
    )
    tf = hits.groupBy(id_col, "term").agg(
        F.count("*").alias("_tf"), F.first("_dl").alias("_dl")
    )
    dfreq = tf.groupBy("term").agg(F.countDistinct(id_col).alias("_dft"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "_idf",
            F.log(
                (F.col("_n") - F.col("_dft") + 0.5) / (F.col("_dft") + 0.5)
                + 1.0
            ),
        )
        .withColumn(
            "_s",
            F.col("_idf")
            * F.col("_tf")
            * (k1 + 1.0)
            / (
                F.col("_tf")
                + k1 * (1.0 - b + b * F.col("_dl") / F.col("_avgdl"))
            ),
        )
        .groupBy(id_col)
        .agg(F.round(F.sum("_s"), 6).alias("bm25"))
    )
    return scored.orderBy(F.desc("bm25"), id_col).limit(k)


def chunk_documents(
    df: DataFrame,
    max_tokens: int = 512,
    overlap: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into fixed-size token windows for training-
    sequence construction: chunk i covers words
    [i·stride, i·stride + max_tokens) of the whitespace-normalized
    token stream, stride = max_tokens − overlap. Emits one row per
    chunk: (all input columns minus the text, ``chunk_idx`` 0-based,
    ``chunk_text``, ``chunk_tokens``). Empty docs yield no rows; the
    final chunk may be short but is never empty; a chunk fully
    contained in the previous one (tail < stride) is not emitted.

    Pure JVM column math — words materialize once, chunk starts come
    from ``sequence()``, each chunk is an array_join of a slice; the
    explode multiplies rows by ~n_tokens/stride with no shuffle."""
    if max_tokens <= 0 or not 0 <= overlap < max_tokens:
        raise ValueError(
            f"need max_tokens>0 and 0<=overlap<max_tokens, got {max_tokens}, {overlap}"
        )
    stride = max_tokens - overlap

    def fresh(name: str) -> str:
        while name in df.columns:
            name = "_" + name
        return name

    c_ws = fresh("_chunk_ws")
    out = df.withColumn(c_ws, split_words(_norm(F.col(text_col))))
    n = F.size(F.col(c_ws))
    # a start s is redundant iff s>0 and the previous chunk already
    # covers through the end of the doc (n <= s-stride+max_tokens,
    # i.e. s+overlap >= n) — emit s iff s==0 or s+overlap < n
    starts = F.filter(
        F.when(
            n > 0,
            F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride)),
        ).otherwise(F.array().cast("array<int>")),
        lambda s: (s == 0) | (s + overlap < n),
    )
    out = out.select(
        *[col for col in df.columns if col != text_col],
        F.col(c_ws),
        F.explode(starts).alias("_start"),
    )
    chunk = F.slice(F.col(c_ws), F.col("_start") + 1, max_tokens)
    return (
        out.withColumn("chunk_idx", (F.col("_start") / stride).cast("int"))
        .withColumn("chunk_text", F.array_join(chunk, " "))
        .withColumn("chunk_tokens", F.least(n - F.col("_start"), F.lit(max_tokens)).cast("long"))
        .drop(c_ws, "_start")
    )


def curation_report(curated: DataFrame, group_col: str | None = None) -> DataFrame:
    """Audit summary of a :func:`curate_corpus` result: one row per
    drop reason (plus a ``__kept__`` row) with document counts and the
    share of the corpus, optionally per ``group_col`` (e.g. source).
    The what-did-we-throw-away dashboard every curation run needs
    before anyone trusts the kept set.

    Shape: one explode of the (short) drop_reasons array + one
    aggregate for the per-reason counts, plus one column-pruned
    count aggregate over the curated frame for the share denominators
    (broadcast back — the aggregated frames are reason/group-sized)."""
    keys = [group_col] if group_col else []
    tagged = curated.select(
        *keys,
        F.explode(
            F.when(F.col("keep"), F.array(F.lit("__kept__"))).otherwise(
                F.col("drop_reasons")
            )
        ).alias("reason"),
    )
    counts = tagged.groupBy(*keys, "reason").agg(F.count("*").alias("n_docs"))
    # NOTE: a doc dropped for several reasons counts once per reason,
    # so shares can sum past 1.0 — documented, it's a reason-level view
    n_corpus = curated.groupBy(*keys).agg(F.count("*").alias("_n"))
    joined = counts.join(F.broadcast(n_corpus), keys) if keys else counts.crossJoin(
        F.broadcast(n_corpus)
    )
    return joined.select(
        *keys,
        "reason",
        "n_docs",
        F.round(F.col("n_docs") / F.col("_n"), 6).alias("share"),
    )


def contaminated_spans(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Positions of benchmark-overlapping word n-grams per document,
    merged into maximal spans (gaps-and-islands, same machinery as
    repeated_spans): (id, span_start, span_end) — 0-based inclusive
    WORD indices into the normalized token stream. The span-level view
    of :func:`contamination_hits` for surgical removal instead of
    whole-document drops."""
    from pyspark.sql import Window

    from scalecast_spark.datapipe.dedup import _spread

    bench_sh = (
        benchmark.select(
            F.explode(
                F.array_distinct(
                    ngram_chain(split_words(_norm(F.col(text_col))), n)
                )
            ).alias("_ng")
        )
        .select(F.xxhash64("_ng").alias("_h"))
        .distinct()
    )
    ws = docs.repartition(_spread(docs), id_col).select(
        id_col, split_words(_norm(F.col(text_col))).alias("_ws")
    )
    pos_ng = ws.select(
        id_col, F.posexplode(ngram_chain(F.col("_ws"), n)).alias("_pos", "_ng")
    ).select(id_col, "_pos", F.xxhash64("_ng").alias("_h"))
    hits = pos_ng.join(F.broadcast(bench_sh), "_h").select(id_col, "_pos")
    w = Window.partitionBy(id_col).orderBy("_pos")
    brk = (
        F.when(F.lag("_pos").over(w).isNull(), 1)
        .when(F.col("_pos") > F.lag("_pos").over(w) + n, 1)
        .otherwise(0)
    )
    isl = F.sum("_brk").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        hits.withColumn("_brk", brk)
        .withColumn("_isl", isl)
        .groupBy(id_col, "_isl")
        .agg(
            F.min("_pos").alias("span_start"),
            (F.max("_pos") + (n - 1)).alias("span_end"),
        )
        .drop("_isl")
    )


def remove_contaminated_spans(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Span-level benchmark decontamination (the Lee et al. 2022 /
    PaLM-style alternative to dropping whole pages): CUT every
    benchmark-overlapping n-gram span out of the token stream and
    rejoin the remainder. Adds ``text_decontam`` and
    ``n_removed_tokens``.

    Text contract: documents with NO hits keep their ORIGINAL text
    verbatim (bytes untouched — case, newlines, everything); only
    documents that were actually cut are rebuilt from the surviving
    ORIGINAL-CASE tokens joined by single spaces (span matching
    casefolds, the surgery does not — but line structure within a cut
    document is not reconstructable and collapses to one line; a
    review of an earlier version found it lowercasing and flattening
    the WHOLE corpus, hence this explicit contract).

    Shape: the span frame is contamination-rate-bounded; cutting is a
    per-row filter of the words array against the doc's (few, merged)
    spans collected into an array via one groupBy — the corpus body
    never joins against exploded n-grams."""
    spans = contaminated_spans(docs, benchmark, n, text_col, id_col)
    return _cut_spans(
        docs, spans, text_col, id_col, "text_decontam", "n_removed_tokens"
    )


def _cut_spans(
    docs: DataFrame,
    spans: DataFrame,
    text_col: str,
    id_col: str,
    out_text: str,
    out_n: str,
) -> DataFrame:
    """Shared span-surgery core of remove_contaminated_spans and
    remove_duplicate_spans: cut every (span_start, span_end) word span
    (0-based inclusive indices into the normalized token stream) out of
    each document and rejoin the remainder. Same text contract as the
    decontamination op documents: untouched documents keep their
    ORIGINAL bytes verbatim; cut documents are rebuilt from the
    surviving ORIGINAL-CASE tokens joined by single spaces."""

    def fresh(name: str) -> str:
        while name in docs.columns:
            name = "_" + name
        return name

    c_sp, c_ws = fresh("_dc_spans"), fresh("_dc_ws")
    if out_text in docs.columns or out_n in docs.columns:
        raise ValueError(
            f"docs already carry {out_text}/{out_n} — remove or rename "
            f"them before re-running the span cut"
        )
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias(c_sp)
    )
    from scalecast_spark.datapipe.dedup import _spread

    # per_doc is span-bounded (small → broadcast), so the docs side
    # keeps its scan partitioning through the surgery — on a
    # single-file corpus that serializes the split/filter/rebuild
    # array work on one core (guide §2.5); spread it like the
    # detectors do
    out = docs.repartition(_spread(docs), F.col(id_col)).join(
        per_doc, id_col, "left"
    )
    # ORIGINAL-case tokens, index-aligned with the normalized stream
    # the spans were computed on: lower() never changes whitespace, so
    # the same trim + collapse + split yields the same token sequence
    out = out.withColumn(
        c_ws,
        F.filter(
            F.split(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "), " "),
            lambda x: F.length(x) > 0,
        ),
    )
    # keep word i iff NO span covers it; spans per doc are few (merged
    # islands), so the exists() per element is over a tiny array
    kept = F.filter(
        F.transform(
            F.col(c_ws),
            lambda x, i: F.struct(x.alias("w"), i.alias("i")),
        ),
        lambda p: ~F.exists(
            F.col(c_sp),
            lambda s: (p["i"] >= s["span_start"]) & (p["i"] <= s["span_end"]),
        ),
    )
    cleaned = F.array_join(F.transform(kept, lambda p: p["w"]), " ")
    return (
        out.withColumn(
            out_text,
            F.when(F.col(c_sp).isNull(), F.col(text_col)).otherwise(cleaned),
        )
        .withColumn(
            out_n,
            F.when(
                F.col(c_sp).isNull(), F.lit(0)
            ).otherwise(F.size(F.col(c_ws)) - F.size(kept)).cast("long"),
        )
        .drop(c_ws, c_sp)
    )


def remove_duplicate_spans(
    docs: DataFrame,
    k: int = 8,
    min_count: int = 2,
    keep_first: bool = True,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The ExactSubstr dedup ACTION (Lee et al. 2022 §4 — their
    dedup removes duplicated substrings rather than whole documents;
    :func:`repeated_spans` is the detector, this is the cut): every
    corpus-duplicated k-token window is removed from the token stream
    and the remainder rejoined. Adds ``text_dedup`` and
    ``n_dedup_removed``; same text contract as the decontamination cut
    (untouched docs byte-verbatim; cut docs rebuilt space-joined).

    ``keep_first=True`` (the Lee semantics) leaves the
    lexicographically-FIRST occurrence of each duplicated window —
    lowest (doc_id, position) — in place, so exactly one copy of the
    content survives the corpus; note a surviving window's words can
    still fall to a DIFFERENT window's removal if the two overlap
    (span surgery is word-level). ``keep_first=False`` cuts every
    occurrence (the decontamination semantics).

    Shape and skew posture: identical to repeated_spans — the shuffle
    carries 8-byte window hashes and positions, never text, and all
    occurrences of one hash meet in one task; the canonical-occurrence
    choice is one min() over the same hash window that counts it; the
    corpus body never joins against exploded n-grams."""
    from pyspark.sql import Window

    from scalecast_spark.datapipe.dedup import _spread

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
    # occurrence key: doc_id * 1e7 + position — total order matching
    # (doc_id, pos) lexicographic order for positions < 1e7
    okey = F.col(id_col) * F.lit(10_000_000) + F.col("_pos")
    # count/min over the unordered hash partition are order-insensitive
    wh = Window.partitionBy("_h")
    hits = (
        pos_ng.withColumn("_c", F.count("*").over(wh))
        .withColumn("_c0", F.min(okey).over(wh))
        .filter(F.col("_c") >= min_count)
    )
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
