"""Fit failures inside the windowed kernel (models/kernel.run_kernel_cv
and the test arm of run_kernel_testfull): cross-validation scores a
raising (fold, cell) NaN and reports it in one RuntimeWarning, while a
backtest or a manual_forecast test fit that raises fails the action
with the exception's message."""

import warnings
from datetime import date, timedelta

import numpy as np
import pytest
from pyspark.sql import functions as F

from scalecast_spark import Forecaster
from scalecast_spark.frame import DS, SERIES, Y
from scalecast_spark.models import KERNEL_FACTORIES, MODELS, add_sklearn_estimator
from scalecast_spark.operators.features import add_ar_terms
from scalecast_spark.pipeline import backtest_kernel_models


def _series(spark, n_series=2, n=30):
    rng = np.random.default_rng(3)
    rows = [
        (f"s{s}", date(2024, 1, 1) + timedelta(days=i),
         float(10 + s + np.sin(i / 3) + rng.normal(0, 0.1)))
        for s in range(n_series) for i in range(n)
    ]
    return spark.createDataFrame(rows, [SERIES, DS, Y])


@pytest.fixture
def flaky(monkeypatch):
    """Registers the kernel estimator ``flaky`` (hyperparameters
    ``fail`` and ``min_rows``: its fit raises when ``fail`` is set or it
    gets fewer than ``min_rows`` training rows) for one test."""
    for name in ("flaky", "mv_flaky"):
        monkeypatch.setitem(MODELS, name, None)
    monkeypatch.setitem(KERNEL_FACTORIES, "flaky", None)

    class Flaky:
        def __init__(self, fail=False, min_rows=0):
            self.fail, self.min_rows = fail, min_rows

        def fit(self, X, y):
            if self.fail or len(y) < self.min_rows:
                raise ValueError(f"flaky fit refused {len(y)} rows")
            self.mean = float(np.mean(y))

        def predict(self, A):
            return np.full(len(A), self.mean)

    add_sklearn_estimator(Flaky, "flaky")
    return "flaky"


def test_cross_validate_warns_once_on_raising_cell(spark, flaky):
    f = Forecaster(_series(spark), future_dates=3)
    f.set_test_length(4)
    f.add_ar_terms(2)
    f.set_estimator(flaky)
    f.ingest_grid({"fail": [False, True]})
    with pytest.warns(RuntimeWarning) as rec:
        f.cross_validate(k=2, test_length=4)
    msgs = [str(w.message) for w in rec if issubclass(w.category, RuntimeWarning)]
    assert len(msgs) == 1
    assert "flaky" in msgs[0] and "{'fail': True}" in msgs[0]
    assert "2 of 4" in msgs[0]
    assert "ValueError: flaky fit refused" in msgs[0]
    assert f.best_params == {"fail": False}
    scores = {str(e["params"]): e["scores"] for e in f.grid_evaluated}
    assert all(np.isnan(scores["{'fail': True}"]))
    assert not any(np.isnan(scores["{'fail': False}"]))


def test_cross_validate_silent_when_every_fit_succeeds(spark, flaky):
    f = Forecaster(_series(spark), future_dates=3)
    f.set_test_length(4)
    f.add_ar_terms(2)
    f.set_estimator(flaky)
    f.ingest_grid({"min_rows": [0, 1]})
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        f.cross_validate(k=2, test_length=4)


def test_backtest_kernel_models_raising_fit_fails_action(spark, flaky):
    src = _series(spark).withColumn("is_future", F.lit(0))

    def feats(df):
        return add_ar_terms(df, [1, 2])

    ok = backtest_kernel_models(
        src, {"mlr": ("mlr", {}), "f": (flaky, {})}, feats, fcst_length=4,
        n_iter=2, jump_back=2,
    )
    assert ok.count() == 2 * 2 * 2 * 4
    bad = backtest_kernel_models(
        src, {"mlr": ("mlr", {}), "f": (flaky, {"fail": True})}, feats,
        fcst_length=4, n_iter=2, jump_back=2,
    )
    with pytest.raises(Exception, match="flaky fit refused"):
        bad.toPandas()
    with pytest.raises(Exception, match="flaky fit refused"):
        bad.count()


def test_manual_forecast_raising_test_fit_fails_action(spark, flaky):
    """The full fit trains on 28 rows, the test fit on 24: only the
    test arm of the fused pass raises."""
    f = Forecaster(_series(spark), future_dates=3)
    f.set_test_length(4)
    f.add_ar_terms(2)
    f.set_estimator(flaky)
    with pytest.raises(Exception, match="flaky fit refused 24 rows"):
        f.manual_forecast(min_rows=26)
