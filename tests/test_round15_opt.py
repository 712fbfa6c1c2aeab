"""Round-15 OPTIMIZATION parity lanes: every perf rewrite must be
value-identical to the form it replaced.

Where live package code still serves the old form, it is the oracle:
the generic two-pass manual_forecast (routing disabled by patching
``_kernel_cell_from_kwargs``), ``_metric_summary`` for the one-job
metric collect, and ``_pq_encode_cols`` for the PQ encode. Otherwise
the replaced form is copied below verbatim from the package as the
oracle: the explode + 60-column simhash, the declarative trigram LM,
the per-group sequence packer and the SQL-expression PQ Lloyd loop.

Lane 1 — fused test+full kernel (kernel.run_kernel_testfull): one
applyInPandas job replaces manual_forecast's two kernel passes; the
banked forecast/fitted/test_preds frames must match the generic
two-pass output row-for-row (exact), summaries to float
aggregation-order tolerance (the fused frame's different partition
layout legally reorders the metric sums).
"""

import math

import pytest
from pyspark.sql import functions as F

from scalecast_spark.forecaster import Forecaster


def _build(spark, sf_dir, test_length=7):
    from __spark_entry__ import _series

    f = Forecaster(_series(spark, sf_dir), future_dates=7)
    f.set_test_length(test_length)
    f.add_ar_terms(3).add_time_trend().add_seasonal_regressors(
        "dayofweek", raw=True
    )
    return f


def _snap(f, m):
    h = f.history[m]
    fc = sorted(tuple(r) for r in h["forecast"].collect())
    ft = sorted(tuple(r) for r in h["fitted"].collect())
    tp = (
        sorted(tuple(r) for r in h["test_preds"].collect())
        if h["test_preds"] is not None else None
    )
    return fc, ft, tp, dict(h["summary"])


def _close(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


@pytest.mark.parametrize(
    "est,kw,tl",
    [
        ("mlr", {}, 7),
        ("ridge", {"alpha": 0.5, "normalizer": "minmax"}, 7),
        ("knn", {"n_neighbors": 4, "dynamic_testing": 2}, 7),
        ("ridge", {"alpha": 1.0}, 0),
    ],
)
def test_fused_testfull_matches_two_pass(spark, sf_dir, est, kw, tl, monkeypatch):
    with monkeypatch.context() as mp:
        mp.setattr(Forecaster, "_kernel_cell_from_kwargs", lambda self, kw: None)
        f1 = _build(spark, sf_dir, tl)
        f1.set_estimator(est)
        f1.manual_forecast(call_me="m", **kw)
        a = _snap(f1, "m")
    f2 = _build(spark, sf_dir, tl)
    f2.set_estimator(est)
    f2.manual_forecast(call_me="m", **kw)
    assert "m" in f2._fused_caches  # the fused path served the fit
    b = _snap(f2, "m")
    assert a[0] == b[0]  # forecast rows exact
    assert a[1] == b[1]  # fitted rows exact
    assert a[2] == b[2]  # test predictions exact
    assert set(a[3]) == set(b[3])
    for k in a[3]:
        assert _close(a[3][k], b[3][k]), (k, a[3][k], b[3][k])


@pytest.mark.parametrize("tl", [7, 0])
def test_fused_metrics_match_separate_summaries(spark, sf_dir, tl):
    """The fused path collects the test-set and in-sample metric means
    in ONE union-armed job; each arm keeps its own aggregation plan, so
    every value is bit-identical to a separate ``_metric_summary``
    collect over the banked test_preds / fitted frames."""
    f = _build(spark, sf_dir, tl)
    f.set_estimator("ridge")
    f.manual_forecast(call_me="m", alpha=0.5)
    assert "m" in f._fused_caches
    h = f.history["m"]
    want = {}
    if tl:
        _, test_m = f._metric_summary(h["test_preds"], f.metrics)
        want.update({f"TestSet{m.upper()}": v for m, v in test_m.items()})
    else:
        assert h["test_preds"] is None
    _, in_m = f._metric_summary(h["fitted"], f.metrics)
    want.update({f"InSample{m.upper()}": v for m, v in in_m.items()})
    got = {k: v for k, v in h["summary"].items() if k in want}
    assert set(got) == set(want) and want
    for k, v in want.items():
        assert got[k] == v or (math.isnan(got[k]) and math.isnan(v)), (
            k, got[k], v,
        )


def test_infer_meta_matches_infer_freq_and_stats(spark, sf_dir):
    """Lane 2 — the fused ingest-metadata job: infer_meta's frequency
    must be bit-identical to infer_freq (same count-desc/delta-asc
    ordering rule), its stats identical to the per-series aggregate
    cross_validate used to collect, and the cached stats must survive
    feature ops but NOT row-changing ops."""
    from pyspark.sql import functions as F

    from __spark_entry__ import _series
    from scalecast_spark import TimeSeriesFrame

    tsf = TimeSeriesFrame.from_long(_series(spark, sf_dir))
    freq, n_series, min_obs = tsf.infer_meta()
    assert freq == tsf.infer_freq()
    row = (
        tsf.observed.groupBy("series_id").count()
        .agg(F.min("count").alias("_min"), F.count("*").alias("_n"))
        .collect()[0]
    )
    assert (n_series, min_obs) == (int(row["_n"]), int(row["_min"]))
    # from_long cached them; feature ops carry, chops drop
    assert getattr(tsf, "_stats", None) == (n_series, min_obs)
    feat = tsf.with_features(
        tsf.df.withColumn("xx", F.lit(1.0)), ["xx"]
    )
    assert getattr(feat, "_stats", None) == (n_series, min_obs)
    chopped = tsf.chop_from_front(3)
    assert getattr(chopped, "_stats", None) is None
    # Forecaster._series_stats re-collects on a stats-less frame and
    # reflects the chop
    from scalecast_spark import Forecaster

    f = Forecaster(_series(spark, sf_dir), future_dates=3)
    assert f._series_stats() == (n_series, min_obs)
    f.chop_from_front(3)
    assert f._series_stats() == (n_series, min_obs - 3)


def _pq_codebooks_trained_sql(
    df, m=8, ksub=16, n_iter=2, vec_col="embedding", id_col="vec_id",
    cents=None,
):
    """Oracle: pq_codebooks_trained's SQL-expression Lloyd loop (staged
    higher-order-function assignment + posexplode/groupBy-avg mean), as
    the package ran it before the Arrow kernel."""
    from scalecast_spark.datapipe.dedup import _spread
    from scalecast_spark.datapipe.similarity import (
        _cell_of,
        _lit_mat,
        _mat_sql,
        pq_codebooks,
        pq_codebooks_residual,
    )

    books = (
        pq_codebooks_residual(df, cents, m, ksub, vec_col, id_col)
        if cents is not None
        else pq_codebooks(df, m, ksub, vec_col, id_col)
    )
    sub = len(books[0][0][1])
    base = df.select(F.col(vec_col).cast("array<double>").alias("_v"))
    base = base.repartition(_spread(df))
    if cents is not None:
        base = base.withColumn(
            "_cell", _cell_of(F.col("_v"), cents).cast("int")
        ).select(
            F.zip_with(
                F.col("_v"),
                F.element_at(
                    _lit_mat([cv for _, cv in cents]), F.col("_cell")
                ),
                lambda a, b: a - b,
            ).alias("_v")
        )
    base = base.select(
        *[
            F.slice("_v", s * sub + 1, sub).alias(f"_sub{s}")
            for s in range(m)
        ]
    )
    for _ in range(n_iter):
        enc = base.selectExpr(
            "*",
            *[
                f"transform({_mat_sql([cv for _, cv in books[s]])}, "
                f"c -> aggregate(zip_with(_sub{s}, c, (a, b) -> (a - b) * (a - b)), "
                f"cast(0.0 as double), (acc, x) -> acc + x)) AS _d{s}"
                for s in range(m)
            ],
        ).selectExpr(
            "*",
            *[
                f"cast(array_position(_d{s}, array_min(_d{s})) as int) AS _code{s}"
                for s in range(m)
            ],
        )
        entries = F.array(
            *[
                F.struct(
                    F.lit(s).alias("_s"),
                    F.col(f"_code{s}").alias("_code"),
                    F.col(f"_sub{s}").alias("_sl"),
                )
                for s in range(m)
            ]
        )
        rows = (
            enc.select(F.explode(entries).alias("_e"))
            .select(
                F.col("_e._s").alias("_s"),
                F.col("_e._code").alias("_code"),
                F.posexplode(F.col("_e._sl")).alias("_dim", "_x"),
            )
            .groupBy("_s", "_code", "_dim")
            .agg(F.avg("_x").alias("_m"))
            .collect()
        )
        upd = {}
        for r in rows:
            upd.setdefault((r["_s"], r["_code"]), [0.0] * sub)[
                r["_dim"]
            ] = r["_m"]
        books = [
            [
                (code, upd.get((s, code), cw))
                for code, cw in books[s]
            ]
            for s in range(m)
        ]
    return books


def _ivfpq_encode_sql(df, cents, books, vec_col="embedding", residual=False,
                      cell_col="cell", code_col="pq_codes"):
    """Oracle: ivfpq_encode as the staged-HOF projection built from the
    package's ``_cell_of`` + ``_pq_encode_cols``."""
    from scalecast_spark.datapipe.similarity import _cell_of, _pq_encode_cols

    vec = F.col(vec_col).cast("array<double>")
    out = df.withColumn("_cell", _cell_of(vec, cents))
    out = _pq_encode_cols(out, cents, books, vec_col, residual)
    m = len(books)
    codes = "array(" + ", ".join(f"_code{s}" for s in range(m)) + ")"
    return out.selectExpr(
        *df.columns,
        f"cast(_cell as int) AS {cell_col}",
        f"CASE WHEN _cell IS NOT NULL THEN {codes} END AS {code_col}",
    )


def test_pq_arrow_twins_bitexact(spark, sf_dir):
    """Lane 3 — the Arrow PQ kernels (training assignment + encode)
    must be BIT-exact twins of the staged-HOF SQL forms: the kernels
    replicate every SQL fold as a per-dimension vectorized
    accumulation (same left-to-right float order), so trained
    codebooks compare equal as floats and encodes row-for-row,
    including NULL-vector pass-through."""
    from __spark_entry__ import _emb
    from scalecast_spark.datapipe.similarity import (
        ivf_centroids,
        ivfpq_encode,
        pq_codebooks_trained,
    )

    emb = _emb(spark, sf_dir)
    cents = ivf_centroids(emb, 8, "embedding", "vec_id")

    def rows(df):
        return sorted(
            (
                r["vec_id"], r["cell"],
                tuple(r["pq_codes"]) if r["pq_codes"] is not None else None,
            )
            for r in df.select("vec_id", "cell", "pq_codes").collect()
        )

    b_sql = _pq_codebooks_trained_sql(
        emb, 8, 16, 2, "embedding", "vec_id", cents=cents
    )
    b_arw = pq_codebooks_trained(
        emb, 8, 16, 2, "embedding", "vec_id", cents=cents
    )
    assert b_sql == b_arw  # exact float equality, all subspaces
    embn = emb.withColumn(
        "embedding",
        F.when(F.col("vec_id") % 7 == 0, None).otherwise(
            F.col("embedding")
        ),
    )
    e_sql = rows(_ivfpq_encode_sql(embn, cents, b_sql, residual=True))
    e_arw = rows(ivfpq_encode(embn, cents, b_arw, residual=True))
    assert e_sql == e_arw


def _simhash_explode(df, text_col="text", id_col="doc_id", bits=60):
    """Oracle: simhash as the explode + per-bit conditional-sum
    aggregate, as the package ran it before the Arrow kernel."""
    from scalecast_spark.datapipe.dedup import _spread, normalize_text

    nbits = bits
    words = F.explode(
        F.array_distinct(F.split(normalize_text(F.col(text_col)), " "))
    ).alias("w")
    tokens = (
        df.repartition(_spread(df), F.col(id_col))
        .select(id_col, words)
        .filter(F.length("w") > 0)
    )
    h64 = F.conv(F.substring(F.md5(F.col("w")), 1, 15), 16, 10).cast("long")
    tokens = tokens.withColumn("_h", h64)
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("_h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"_b{i}")
        for i in range(nbits)
    ]
    per_doc = tokens.groupBy(id_col).agg(*aggs)
    fp = F.lit(0).cast("long")
    for i in range(nbits):
        fp = fp + F.when(F.col(f"_b{i}") > 0, F.lit(1).cast("long") * (2**i)).otherwise(0)
    return per_doc.select(id_col, fp.alias("simhash"))


def test_simhash_arrow_twin_bitexact(spark, sf_dir):
    """Lane 4 — the Arrow simhash kernel vs the explode + 60-column
    conditional-sum expression form: fingerprints are integer-exact
    (md5 over the same UTF-8 bytes, same +1/-1 bit sums), and docs
    with no non-empty words drop from the output exactly like the
    explode form drops them."""
    from __spark_entry__ import _docs
    from scalecast_spark.datapipe.dedup import simhash

    docs = _docs(spark, sf_dir)
    edge = docs.limit(3).withColumn(
        "text",
        F.when(F.col("doc_id") % 3 == 0, F.lit(""))
        .when(F.col("doc_id") % 3 == 1, F.lit("   "))
        .otherwise(F.lit(None)),
    )
    a = sorted(map(tuple, _simhash_explode(docs).collect()))
    a2 = sorted(map(tuple, _simhash_explode(edge).collect()))
    b = sorted(map(tuple, simhash(docs).collect()))
    b2 = sorted(map(tuple, simhash(edge).collect()))
    assert a == b and len(a) > 0
    assert a2 == b2 == []  # all-empty docs vanish on both paths


def _trigram_logprob_declarative(df, text_col="text", id_col="doc_id",
                                 round_to=4):
    """Oracle: add_trigram_logprob as the explode + count aggregate +
    broadcast join + avg, as the package ran it before the Arrow
    kernel."""
    from scalecast_spark.datapipe.dedup import _spread
    from scalecast_spark.datapipe.text import _norm

    base = df.repartition(_spread(df), id_col).select(
        id_col, _norm(F.col(text_col)).alias("_n")
    )
    nn = F.col("_n")
    tri_arr = F.transform(
        F.when(
            F.length(nn) >= 3, F.sequence(F.lit(1), F.length(nn) - 2)
        ).otherwise(F.array().cast("array<int>")),
        lambda i: nn.substr(i, F.lit(3)),
    )
    tris = base.select(id_col, F.explode(tri_arr).alias("_tri"))
    c3 = tris.groupBy("_tri").agg(F.count("*").alias("_c3"))
    total = c3.groupBy().agg(F.sum("_c3").alias("_nt"))
    scored = (
        tris.join(F.broadcast(c3), "_tri")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.round(
                F.avg(F.log(F.col("_c3") / F.col("_nt"))), round_to
            ).alias("tri_logprob")
        )
    )
    return df.join(scored, id_col, "left")


def test_trigram_arrow_twin_exact(spark, sf_dir):
    """Lane 5 — the Arrow trigram-LM kernel vs the declarative
    explode + broadcast-join form: identical (doc_id, tri_logprob)
    sets on the real corpus AND on an edge frame (NULL text, empty,
    whitespace-only, <3 normalized chars, non-BMP code points,
    whitespace runs the JVM _norm collapses). The kernel replicates
    the per-doc sequential position-order fold; the 4dp round is the
    operator's documented cross-engine tolerance."""
    from __spark_entry__ import _docs
    from scalecast_spark.datapipe.text import add_trigram_logprob

    docs = _docs(spark, sf_dir)
    edge_rows = [
        (1, None),
        (2, ""),
        (3, "   "),
        (4, "ab"),                     # 2 normalized chars -> NULL
        (5, "a  b"),                   # collapses to 'a b' (3 chars)
        (6, "The  THE the"),           # lowercase + run collapse
        (7, "naïve café"),   # accented BMP
        (8, "\U0001f600\U0001f601\U0001f600ab"),  # non-BMP emoji
        (9, "abcabcabc"),
    ]
    edge = spark.createDataFrame(edge_rows, "doc_id long, text string")

    def scores(fn, df):
        return sorted(
            map(tuple, fn(df).select("doc_id", "tri_logprob").collect())
        )

    a = scores(_trigram_logprob_declarative, docs)
    a2 = scores(_trigram_logprob_declarative, edge)
    b = scores(add_trigram_logprob, docs)
    b2 = scores(add_trigram_logprob, edge)
    assert a == b and len(a) > 0
    assert a2 == b2 and len(a2) == len(edge_rows)
    nulls = {r[0] for r in a2 if r[1] is None}
    assert nulls == {1, 2, 3, 4}  # short/empty/NULL docs stay NULL


def test_fused_path_routes_kernel_estimators_only(spark, sf_dir):
    """Non-kernel estimators and unmappable kwargs must fall back to
    the generic path (cell resolution returns None), mirroring
    _grid_cells' TypeError convention."""
    f = _build(spark, sf_dir)
    f.set_estimator("ridge")
    assert f._kernel_cell_from_kwargs({"alpha": 1.0}) is not None
    assert f._kernel_cell_from_kwargs({"alpha": 1.0, "nope": 3}) is None
    f.set_estimator("hwes")
    assert f._kernel_cell_from_kwargs({}) is None


def test_compute_heavy_text_stages_are_spread(spark, sf_dir):
    """Lane 6 — the single-file-corpus spread (guide §2.5): the gopher
    kernel, the contamination n-gram explode, and the quality-model
    hash projection must run on a repartitioned input, not the scan's
    single partition (a refactor dropping the Exchange would pass every
    value test and still serialize the per-doc work on one core)."""
    from pyspark.sql import functions as F

    from __spark_entry__ import _docs
    from scalecast_spark.datapipe.quality_model import score_quality
    from scalecast_spark.datapipe.text import (
        add_gopher_signals_fast,
        contamination_hits,
    )

    def plan(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "simple"
        )

    docs = _docs(spark, sf_dir)
    p = plan(add_gopher_signals_fast(docs, include_base=True))
    # the Exchange must sit BELOW the kernel (its input), i.e. appear
    # after MapInPandas in the printed tree
    assert "Exchange" in p.split("MapInPandas", 1)[1]
    p = plan(contamination_hits(docs, docs.filter(F.col("doc_id") % 20 == 0)))
    assert "Exchange hashpartitioning(doc_id" in p
    p = plan(score_quality(docs, weights=[0.1] * 65))
    assert "Exchange" in p


def _pack_sequences_per_group(df, capacity, weight_col, key_col,
                              salt="pack", n_buckets=256):
    """Oracle: pack_sequences as one groupBy(bucket).applyInPandas task
    per md5 bucket, as the package ran it before the per-partition
    mapInPandas form."""
    import pandas as pd
    from pyspark.sql import types as T

    h = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(":" + salt)))
    bucket = F.conv(F.substring(h, 1, 2), 16, 10).cast("int") % n_buckets
    src = df.select(
        F.col(key_col),
        F.col(weight_col).cast("double").alias("_w"),
        h.alias("_h"),
        bucket.alias("_b"),
    )
    out_schema = T.StructType(
        [
            src.schema[key_col],
            T.StructField("bucket", T.IntegerType()),
            T.StructField("bin", T.IntegerType()),
        ]
    )

    def pack_one(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["_h", key_col]).reset_index(drop=True)
        bins, fill, cur = [], 0.0, 0
        first = True
        for w in pdf["_w"]:
            if first:
                fill, first = w, False
            elif fill + w <= capacity:
                fill += w
            else:
                cur += 1
                fill = w
            bins.append(cur)
        return pd.DataFrame(
            {
                key_col: pdf[key_col],
                "bucket": pdf["_b"].astype("int32"),
                "bin": pd.Series(bins, dtype="int32"),
            }
        )

    return src.groupBy("_b").applyInPandas(
        lambda _key, pdf: pack_one(pdf), out_schema
    )


def test_pack_mappart_twin_exact(spark, sf_dir):
    """Lane 7 — pack_sequences' one-task-per-partition form vs the
    per-group applyInPandas form: identical (key, bucket, bin) rows on
    the real corpus and on an edge frame (over-capacity docs, empty
    buckets, single-doc buckets)."""
    from __spark_entry__ import _docs
    from scalecast_spark.datapipe.sample import pack_sequences

    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    edge = spark.createDataFrame(
        [(1, 5000.0), (2, 10.0), (3, 10.0), (4, 2048.0), (5, 1.0)],
        "doc_id long, n_chars double",
    )
    outs = {}
    for name, fn in (("0", _pack_sequences_per_group), ("1", pack_sequences)):
        outs[name] = (
            sorted(map(tuple, fn(docs, 2048.0, "n_chars", "doc_id").collect())),
            sorted(map(tuple, fn(edge, 2048.0, "n_chars", "doc_id").collect())),
        )
    assert outs["0"][0] == outs["1"][0] and len(outs["1"][0]) > 0
    assert outs["0"][1] == outs["1"][1] and len(outs["1"][1]) == 5
