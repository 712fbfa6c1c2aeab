"""tune_test_forecast(error='warn'): a failed model is reported through
``warnings.warn`` — with the model name and the exception — so the
caller can capture or filter it, and the other models still bank."""

import datetime as dt

import pytest

from scalecast_spark import Forecaster


def _series(spark, n_series=2, n=30):
    d0 = dt.date(2024, 1, 1)
    rows = [
        (f"s{s}", d0 + dt.timedelta(days=i), float(10 + s + (i % 7) + 0.1 * i), 0)
        for s in range(n_series)
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, schema="series_id string, ds date, y double, is_future int"
    )


@pytest.fixture
def failing_model():
    from scalecast_spark.models import MODELS, add_estimator

    def flaky(df, features=None, **_):
        raise ValueError("flaky fit exploded")

    add_estimator("flaky", flaky)
    yield "flaky"
    MODELS.pop("flaky", None)


def _forecaster(spark):
    f = Forecaster(_series(spark), future_dates=3)
    f.set_test_length(4).set_validation_length(4)
    f.add_ar_terms(2)
    return f


def test_warn_reports_failed_model_and_banks_the_rest(spark, failing_model, capsys):
    from scalecast_spark.selection import tune_test_forecast

    f = _forecaster(spark)
    with pytest.warns(RuntimeWarning, match="flaky failed") as rec:
        tune_test_forecast(f, ["mlr", failing_model, "naive"], error="warn")
    msgs = [str(w.message) for w in rec if "tune_test_forecast" in str(w.message)]
    assert len(msgs) == 1
    assert "flaky fit exploded" in msgs[0]  # the exception travels along
    assert "flaky" not in capsys.readouterr().out  # nothing on stdout
    assert {"mlr", "naive"} <= set(f.history)
    assert failing_model not in f.history


def test_ignore_stays_silent(spark, failing_model):
    import warnings

    from scalecast_spark.selection import tune_test_forecast

    f = _forecaster(spark)
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        tune_test_forecast(f, [failing_model, "naive"], error="ignore")
    assert not [w for w in rec if "tune_test_forecast" in str(w.message)]
    assert "naive" in f.history and failing_model not in f.history
