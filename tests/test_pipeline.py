"""Pipeline/backtest tests, mirroring reference test_Pipeline.py flow."""

from functools import partial

import pytest
from pyspark.sql import functions as F

from scalecast_spark.frame import DS, IS_FUTURE, SERIES, Y
from scalecast_spark.operators import transforms as tr
from scalecast_spark.pipeline import Transformer, Reverter, backtest, backtest_metrics, msis
from scalecast_spark.sources import load_table, events_to_series
from scalecast_spark.models import MODELS


@pytest.fixture(scope="module")
def series(spark, sf_dir):
    return events_to_series(load_table(spark, sf_dir, "events")).withColumn(
        "is_future", F.lit(0)
    ).cache()


def test_transformer_reverter_roundtrip(series):
    t = Transformer([tr.LogTransform(), tr.DiffTransform(1)])
    r = Reverter(t)
    tdf = t.fit_transform(series)
    back = r.fit_transform(tdf, Y)
    err = (
        series.select(SERIES, DS, F.col(Y).alias("y0"))
        .join(back.select(SERIES, DS, F.col(Y).alias("y1")), [SERIES, DS])
        .agg(F.max(F.abs(F.col("y0") - F.col("y1")))).collect()[0][0]
    )
    assert err < 1e-9


def test_backtest_shapes(series):
    res = backtest(
        series,
        {"snaive": partial(MODELS["naive"], m=7), "theta": MODELS["theta"]},
        fcst_length=5,
        n_iter=3,
        jump_back=2,
    )
    pdf = res.toPandas()
    # 2 models x 3 iterations x 5 series x 5 steps
    assert len(pdf) == 2 * 3 * 5 * 5
    # iterations cover different date windows
    spans = pdf.groupby("iteration")["ds"].max().tolist()
    assert len(set(spans)) == 3
    # actuals present on every held-out row (y from the source frame)
    assert pdf[Y].notna().all()


def test_backtest_metrics_with_mase(series):
    res = backtest(
        series,
        {"snaive": partial(MODELS["naive"], m=7)},
        fcst_length=5,
        n_iter=2,
    )
    mt = backtest_metrics(res, train_df=series, m=7,
                          metrics=["rmse", "mae", "mase"]).toPandas()
    # 2 iterations + 1 average row
    assert len(mt) == 3
    avg = mt[mt["iteration"] == -1].iloc[0]
    per = mt[mt["iteration"] >= 0]
    assert avg["rmse"] == pytest.approx(per["rmse"].mean())
    assert (mt["mase"] > 0).all()


def test_msis_penalizes_narrow_intervals(series):
    res = backtest(
        series, {"snaive": partial(MODELS["naive"], m=7)}, fcst_length=5, n_iter=1
    )
    wide = res.withColumn("lower", F.col("forecast") - 1000).withColumn(
        "upper", F.col("forecast") + 1000
    )
    narrow = res.withColumn("lower", F.col("forecast") - 1e-6).withColumn(
        "upper", F.col("forecast") + 1e-6
    )
    mw = msis(wide, series, m=7).collect()[0]["msis"]
    mn = msis(narrow, series, m=7).collect()[0]["msis"]
    # narrow intervals miss everything -> huge penalty; wide pay width
    assert mn > mw


def test_full_pipeline_with_revert(series):
    t = Transformer([tr.LogTransform()])
    r = Reverter(t)
    tdf = t.fit_transform(series)

    def run_models(df):
        return MODELS["naive"](df, m=7)

    res = backtest(tdf, {"snaive": run_models}, fcst_length=5, n_iter=2)
    lvl = r.fit_transform(res, Y, "forecast")
    pdf = lvl.toPandas()
    # after revert, actuals return to level scale (hundreds, not logs)
    assert pdf["y"].max() > 50
    assert pdf["forecast"].max() > 50


def test_backtest_kernel_one_pass_matches_generic(series):
    """backtest_kernel_models (one scan, per-task iteration loop, every
    model a cell of the same pass) must reproduce the generic
    per-iteration backtest for kernel models — including a series too
    short for its deepest iteration, whose holdout rows the generic
    backtest emits with a NaN forecast."""
    import numpy as np

    from scalecast_spark.operators.features import add_ar_terms, add_time_trend
    from scalecast_spark.pipeline import backtest_kernel_models

    def feats(df):
        df, ar = add_ar_terms(df, [1, 2])
        df, tt = add_time_trend(df)
        return df, ar + tt

    def model_fn(name, **params):
        def fn(marked):
            marked, names = feats(marked)
            return MODELS[name](marked, names, **params)
        return fn

    # 12 days: iteration 0 fits on 6 complete rows, iteration 1 has too
    # few (3, one per feature) and iteration 2 only 2 history rows
    first = series.select(SERIES).orderBy(SERIES).first()[0]
    short = (
        series.filter(F.col(SERIES) == first).orderBy(F.desc(DS)).limit(12)
        .withColumn(SERIES, F.lit("zz_short"))
    )
    both = series.unionByName(short)
    kw = dict(fcst_length=4, n_iter=3, jump_back=3)
    generic = backtest(
        both, {"mlr": model_fn("mlr"), "ridge": model_fn("ridge", alpha=0.5)},
        **kw,
    ).toPandas()
    one_pass = backtest_kernel_models(
        both, {"mlr": ("mlr", {}), "ridge": ("ridge", {"alpha": 0.5})}, feats,
        **kw,
    ).toPandas()
    key = ["model", "iteration", "series_id", "ds"]
    g = generic.sort_values(key).reset_index(drop=True)
    o = one_pass.sort_values(key).reset_index(drop=True)
    assert len(g) == len(o) == 2 * (5 + 1) * 3 * 4
    assert (g[key].values == o[key].values).all()
    gf, of = g["forecast"].to_numpy(float), o["forecast"].to_numpy(float)
    assert (np.isnan(gf) == np.isnan(of)).all()
    assert abs(gf - of)[~np.isnan(gf)].max() < 1e-9
    nan_rows = o[np.isnan(of)]
    assert set(nan_rows[SERIES]) == {"zz_short"}
    assert sorted(set(nan_rows["iteration"])) == [1, 2]
