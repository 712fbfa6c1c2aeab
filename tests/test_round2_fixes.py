"""Round-2 fix verification (VERDICT r1 'Next round' #1,3,7,8; ADVICE):
ANSI-safe metrics, test-set-aside CV, driver-scale metric reduction,
dynamic_tuning threading, exact inverse-normal, custom optimizers."""

import datetime as dt
import math

import pytest
from pyspark.sql import DataFrame, functions as F

from scalecast_spark import Forecaster
from scalecast_spark.functions import metrics as METRICS
from scalecast_spark.functions.normal import norm_ppf, two_sided_z


def _mk_series(spark, n_series=3, n=30, zero_tail=False, constant=False):
    rows = []
    d0 = dt.date(2024, 1, 1)
    for s in range(n_series):
        for i in range(n):
            if constant:
                y = 5.0
            elif zero_tail and i >= n - 5:
                y = 0.0
            else:
                y = float(10 + s + (i % 7) + 0.1 * i)
            rows.append((f"s{s}", d0 + dt.timedelta(days=i), y, 0))
    return spark.createDataFrame(
        rows, schema="series_id string, ds date, y double, is_future int"
    )


# ---------------------------------------------------------- ANSI metrics
def test_smape_zero_actual_and_forecast_no_ansi_abort(spark):
    df = spark.createDataFrame(
        [(0.0, 0.0), (10.0, 12.0)], schema="y double, forecast double"
    )
    row = df.agg(METRICS.smape("y", "forecast").alias("smape")).collect()[0]
    # the 0/0 row becomes NULL and is skipped: smape = 2*2/22
    assert row["smape"] == pytest.approx(2 * 2.0 / 22.0)


def test_mase_constant_series_null_not_crash(spark):
    from scalecast_spark.pipeline import backtest_metrics

    train = _mk_series(spark, n_series=1, constant=True)
    results = spark.createDataFrame(
        [("naive", 0, "s0", dt.date(2024, 2, 1), 5.0, 5.0)],
        schema="model string, iteration int, series_id string, ds date, y double, forecast double",
    )
    out = backtest_metrics(results, train_df=train, metrics=["rmse", "mase"])
    rows = out.collect()  # must not raise DIVIDE_BY_ZERO
    assert all(r["mase"] is None for r in rows)


def test_find_statistical_transformation_constant_series(spark):
    from scalecast_spark.transform_search import find_statistical_transformation

    df = _mk_series(spark, n_series=1, constant=True)
    steps = find_statistical_transformation(df)  # must not raise
    assert isinstance(steps, list)


# ------------------------------------------------------- inverse normal
def test_norm_ppf_exact_values():
    assert two_sided_z(0.80) == pytest.approx(1.2815515655, abs=1e-6)
    assert two_sided_z(0.90) == pytest.approx(1.6448536270, abs=1e-6)
    assert two_sided_z(0.95) == pytest.approx(1.9599639845, abs=1e-6)
    assert two_sided_z(0.99) == pytest.approx(2.5758293035, abs=1e-6)
    assert two_sided_z(0.995) == pytest.approx(2.8070337683, abs=1e-6)
    assert norm_ppf(0.5) == pytest.approx(0.0, abs=1e-12)
    assert norm_ppf(0.975) == pytest.approx(-norm_ppf(0.025), abs=1e-9)


def test_norm_ppf_monotone_width():
    zs = [two_sided_z(c) for c in (0.5, 0.8, 0.9, 0.95, 0.99, 0.999)]
    assert zs == sorted(zs)
    assert all(b > a for a, b in zip(zs, zs[1:]))


def test_synthesize_models_uses_exact_z(spark):
    f = Forecaster(_mk_series(spark), future_dates=5)
    f.set_test_length(5)
    f.set_estimator("naive").manual_forecast(m=1, call_me="n1")
    f.manual_forecast(m=7, call_me="n7")
    f.synthesize_models(["n1", "n7"], call_me="syn80", cilevel=0.80)
    f.synthesize_models(["n1", "n7"], call_me="syn99", cilevel=0.99)
    w = (
        f.history["syn80"]["forecast"]
        .select((F.col("upper") - F.col("lower")).alias("w80"), "series_id", "ds")
        .join(
            f.history["syn99"]["forecast"].select(
                (F.col("upper") - F.col("lower")).alias("w99"), "series_id", "ds"
            ),
            ["series_id", "ds"],
        )
        .filter(F.col("w80") > 1e-12)
        .limit(5)
        .collect()
    )
    assert w, "expected non-degenerate intervals"
    for r in w:
        # width ratio = z99/z80 exactly
        assert r["w99"] / r["w80"] == pytest.approx(2.5758293 / 1.2815516, rel=1e-6)


# ------------------------------------------- driver-scale metric collect
def test_manual_forecast_collects_no_per_series_rows(spark, monkeypatch):
    """200 series: every .collect() during manual_forecast must return
    O(1) rows (the cross-series summary), never one row per series."""
    df = _mk_series(spark, n_series=200, n=25)
    f = Forecaster(df, future_dates=3)
    f.set_test_length(4)
    f.set_estimator("naive")
    cls = type(f.tsf.df)  # the concrete (classic) DataFrame class
    sizes = []
    orig = cls.collect

    def spy(self):
        rows = orig(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(cls, "collect", spy)
    f.manual_forecast(m=1)
    assert sizes, "expected collects to happen"
    assert max(sizes) <= 10, f"a collect scaled with n_series: {sizes}"
    h = f.history["naive"]
    # per-series metric frames are retained LAZY for MV exports
    assert isinstance(h["per_series_test_metrics"], DataFrame)
    assert h["per_series_test_metrics"].count() == 200
    assert math.isfinite(h["summary"]["TestSetRMSE"])


# ------------------------------------------------- CV test-set isolation
def test_cross_validate_sets_aside_test_set(spark):
    """Validation folds must not touch the final test_length rows."""
    df = _mk_series(spark, n_series=2, n=40)
    f = Forecaster(df, future_dates=3)
    f.set_test_length(6)
    f.set_estimator("naive")
    f.ingest_grid({"m": [1]})
    seen = []
    orig = Forecaster._eval_fold

    def spy(self, fold_df, params, dynamic_testing=None):
        mx = (
            fold_df.filter(F.col("is_future") == 1)
            .agg(F.max("ds"))
            .collect()[0][0]
        )
        seen.append(mx)
        return orig(self, fold_df, params, dynamic_testing)

    Forecaster._eval_fold = spy
    try:
        f.cross_validate(k=2, test_length=5)
    finally:
        Forecaster._eval_fold = orig
    overall_max = df.agg(F.max("ds")).collect()[0][0]
    test_start = overall_max - dt.timedelta(days=f.test_length - 1)
    seen = [mx.date() if isinstance(mx, dt.datetime) else mx for mx in seen]
    assert seen and all(mx < test_start for mx in seen), (
        f"validation fold touched the test set: {seen} vs test from {test_start}"
    )


def test_tune_dynamic_tuning_changes_scores(spark):
    df = _mk_series(spark, n_series=2, n=40)

    def run(dyn):
        f = Forecaster(df, future_dates=3)
        f.set_test_length(5).set_validation_length(8)
        f.add_ar_terms(2)
        f.set_estimator("mlr")
        f.ingest_grid({"normalizer": [None]})
        f.tune(dynamic_tuning=dyn)
        return f.validation_metric_value

    one_step = run(False)
    recursive = run(True)
    assert one_step is not None and recursive is not None
    assert one_step != pytest.approx(recursive), (
        "dynamic_tuning must change validation scores on an AR model"
    )


# ------------------------------------------------------ custom optimizer
def test_add_optimizer_func(spark):
    df = _mk_series(spark, n_series=3, n=30)
    f = Forecaster(df, future_dates=3)
    f.set_test_length(4)
    f.set_estimator("naive")
    f.add_optimizer_func(lambda vals: sorted(vals)[len(vals) // 2], "median")
    f.set_optimize_on("median")
    f.ingest_grid({"m": [1, 7]})
    f.cross_validate(k=2, test_length=4)
    assert f.best_params in ({"m": 1}, {"m": 7})
    assert f.validation_metric_value > 0


def test_gated_stub_warns_and_continues(spark):
    """tune_test_forecast(..., error='warn') must warn and keep going
    when an estimator's backend fails (reference _utils.py:89-142
    policy). prophet/tbats now have numpy fallbacks, so the policy is
    exercised with a deliberately-failing registered estimator."""
    from scalecast_spark.models import MODELS, add_estimator
    from scalecast_spark.selection import tune_test_forecast

    def boom(df, features=None, **_):
        raise NotImplementedError("backend deliberately absent")

    add_estimator("boom", boom)
    try:
        df = _mk_series(spark, n_series=2, n=30)
        f = Forecaster(df, future_dates=3)
        f.set_test_length(4).set_validation_length(4)
        with pytest.warns(RuntimeWarning) as rec:
            tune_test_forecast(f, ["boom", "naive"], error="warn")
        out = " ".join(str(w.message) for w in rec)
        assert "boom" in out and "failed" in out
        assert "naive" in f.history and "boom" not in f.history
    finally:
        MODELS.pop("boom", None)


# ------------------------------------------- grid-batched CV kernel
def test_cv_grid_kernel_matches_per_cell_path(spark):
    """cross_validate's one-job-per-fold grid kernel (run_kernel_grid)
    must score every cell identically (up to float aggregation order)
    to the generic one-job-per-cell path."""

    def build():
        f = Forecaster(_mk_series(spark, n_series=3, n=40), future_dates=4)
        f.set_test_length(5)
        f.add_ar_terms(2).add_time_trend()
        f.set_estimator("ridge")
        f.ingest_grid({"alpha": [0.1, 1.0], "normalizer": ["minmax", None]})
        return f

    fb = build()
    assert fb._grid_cells(False) is not None  # ridge IS kernel-backed
    fb.cross_validate(k=2, test_length=5)
    fs = build()
    fs._grid_cells = lambda dyn: None  # force the per-cell path
    fs.cross_validate(k=2, test_length=5)
    assert fb.best_params == fs.best_params
    for a, b in zip(fb.grid_evaluated, fs.grid_evaluated):
        assert a["params"] == b["params"]
        for x, y in zip(a["scores"], b["scores"]):
            assert (math.isnan(x) and math.isnan(y)) or x == pytest.approx(
                y, rel=1e-9
            )


def test_cv_grid_kernel_falls_back_for_series_models(spark):
    """naive (not kernel-backed) and custom optimizers must decline the
    batched path."""
    f = Forecaster(_mk_series(spark, n_series=2, n=30), future_dates=3)
    f.set_test_length(4)
    f.set_estimator("naive")
    f.ingest_grid({"m": [1, 7]})
    assert f._grid_cells(False) is None
    f2 = Forecaster(_mk_series(spark, n_series=2, n=30), future_dates=3)
    f2.set_test_length(4)
    f2.add_ar_terms(2)
    f2.set_estimator("ridge")
    f2.ingest_grid({"alpha": [0.1]})
    f2.add_optimizer_func(lambda vals: sorted(vals)[0], "first")
    f2.set_optimize_on("first")
    assert f2._grid_cells(False) is None


def test_grid_cells_declines_unknown_grid_key(spark):
    """ADVICE r2: a grid key the kernel factory doesn't accept (typo,
    or an axis only the full model fn knows) must NOT be silently
    swallowed by the batched-grid path — the factories take no **kw, so
    _grid_cells sees TypeError and declines to the generic path."""
    f = Forecaster(_mk_series(spark, n_series=2, n=30), future_dates=3)
    f.set_test_length(4)
    f.add_ar_terms(2)
    f.set_estimator("ridge")
    f.ingest_grid({"alpha": [0.1, 1.0], "rff_dim": [8, 16]})  # svr-only key
    assert f._grid_cells(False) is None


def test_simhash_bits_over_60_clamps_with_warning(spark, sf_dir):
    import warnings

    import pytest as _pytest

    from scalecast_spark.datapipe.dedup import simhash
    from scalecast_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").limit(5)
    with _pytest.warns(UserWarning, match="clamped to 60"):
        out64 = simhash(docs, bits=64)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        out60 = simhash(docs, bits=60)
    a = {r["doc_id"]: r["simhash"] for r in out64.collect()}
    b = {r["doc_id"]: r["simhash"] for r in out60.collect()}
    assert a == b  # old bits=64 callers get the identical 60-bit clamp
    with _pytest.raises(ValueError):
        simhash(docs, bits=65)


def test_cv_kernel_chop_beyond_history_matches_generic(spark):
    """Round-3 review: a fold whose rewind exceeds a series' history
    must yield NaN (empty fold), not a phantom fit on wrapped-around
    rows — batched and generic paths must agree."""

    def build():
        f = Forecaster(_mk_series(spark, n_series=2, n=20), future_dates=3)
        f.set_test_length(3)
        f.add_ar_terms(2).add_time_trend()
        f.set_estimator("ridge")
        f.ingest_grid({"alpha": [0.5, 5.0]})
        return f

    fb = build()
    fb.cross_validate(k=3, test_length=3, space_between_sets=12)
    fs = build()
    fs._grid_cells = lambda dyn: None
    fs.cross_validate(k=3, test_length=3, space_between_sets=12)
    for a, b in zip(fb.grid_evaluated, fs.grid_evaluated):
        for x, y in zip(a["scores"], b["scores"]):
            assert (math.isnan(x) and math.isnan(y)) or x == pytest.approx(
                y, rel=1e-9
            ), (a, b)


def test_cv_kernel_failing_cell_scores_nan(spark):
    """A cell whose fit raises must yield NaN forecasts for that
    fold x cell while the other cells stay evaluated — the one-job CV
    must not abort on a single degenerate fit."""
    from pyspark.sql import functions as F

    from scalecast_spark.models.kernel import run_kernel_cv
    from scalecast_spark.models.sklearn_like import fit_ols
    from scalecast_spark.operators.features import add_ar_terms

    def bad_fit(X, y):
        raise RuntimeError("degenerate fit")

    src = _mk_series(spark, n_series=2, n=30).withColumn(
        "is_future", F.lit(0)
    )
    df, ar = add_ar_terms(src, [1, 2])
    out = run_kernel_cv(
        df, ar, [(fit_ols, None, None), (bad_fit, None, None)],
        k=2, test_length=5, space=5,
    ).toPandas()
    ok = out[out["_cell"] == 0]["forecast"]
    bad = out[out["_cell"] == 1]["forecast"]
    assert len(ok) == len(bad) == 2 * 2 * 5  # series x folds x holdout
    assert ok.notna().all()
    assert bad.isna().all()
