"""Forecaster — the scalecast-compatible orchestration API on Spark.

Maps the reference's central object (src/scalecast/Forecaster.py:44-94 +
_Forecaster_parent.py:45-67) onto the immutable long-format frame:

  * feature methods mirror the reference's ``add_*`` surface (§2.2) and
    record a replayable recipe;
  * ``manual_forecast`` replicates EP1 (SURVEY.md §3): test() via
    cutoff filter (the deepcopy disappears), fit/predict, in-sample
    fitted values, conformal CIs from test residuals
    (Forecaster.py:188-208);
  * ``tune``/``cross_validate`` replicate EP2's rolling-origin CV
    (_Forecaster_parent.py:1693-1867): grid × fold evaluation, NaN-
    tolerant mean, best_params selection;
  * results live in ONE long results frame
    (model, series_id, ds, kind, value) — kind ∈ {forecast, fitted,
    test_pred} — the reference's per-model ``history`` dict arrays
    (Forecaster.py:147-208) become rows.

Multi-series: everything here is per-series-parallel by construction;
a Forecaster over 1M series costs the same number of Spark jobs as one
series (the reference's MVForecaster becomes "more rows").
"""

from __future__ import annotations

import itertools
import math
import random
import warnings
from dataclasses import replace

from pyspark.sql import DataFrame, functions as F, Window as W

from scalecast_spark.frame import DS, IS_FUTURE, SERIES, TimeSeriesFrame, Y
from scalecast_spark.functions import metrics as METRICS

#: per-invocation plan salt for internal caches (see
#: _manual_forecast_fused): cloudpickle is deterministic, so even a
#: plan that embeds a "fresh" Python function is plan-EQUAL across
#: same-args invocations — a unique literal column is what actually
#: keeps Spark's CacheManager from serving one call's cache to another
_INVOCATION_COUNTER = itertools.count(1)

# estimators whose reference twins treat exog as opt-in (Xvars=None ->
# no regressors, models.py:432,454); everything else follows the
# sklearn-family 'all' default (models.py:620)
_EXOG_OPTIONAL = {
    "arima", "auto_arima", "prophet", "tbats", "hwes", "theta", "vecm",
}


def _exog_optional(name: str) -> bool:
    """Estimators whose Xvars default is NONE rather than 'all': the
    statsmodels family (docstring at _run_model) and every MV
    estimator — the MV design derives from the series lags, and exog
    there means FAMILY-SHARED regressors (calendar/trend), so
    per-series features like ar_1 must never flow in silently; a user
    opts in with an explicit Xvars list of shared columns."""
    return name in _EXOG_OPTIONAL or name.startswith("mv_") or name == "mv_sklearn"
from scalecast_spark.functions.conformal import apply_intervals, conformal_widths
from scalecast_spark.operators import features as FEAT


def _mark_test_rows(df: DataFrame, test_length: int) -> DataFrame:
    """Mark the last ``test_length`` observed rows of each series as
    future (is_future=1, y kept for peeking/eval) — the engine's
    replacement for the reference's deepcopy+chop_from_front test
    isolation (_Forecaster_parent.py:1615-1619)."""
    w = W.partitionBy(SERIES).orderBy(F.desc(DS))
    return (
        df.filter(F.col(IS_FUTURE) == 0)
        .withColumn("_rev", F.row_number().over(w))
        .withColumn(
            IS_FUTURE, F.when(F.col("_rev") <= test_length, 1).otherwise(0)
        )
        .drop("_rev")
    )


class ForecastError(ValueError):
    """Misuse of the forecasting API (reference
    _Forecaster_parent.py:42 — ported ``except ForecastError`` blocks
    work; subclasses ValueError so the engine's existing ValueError
    contracts still hold)."""


def _frame_from_arrays(y, current_dates, series_id: str = "y") -> DataFrame:
    """Reference-ctor convenience: driver-side y/current_dates arrays
    (lists, numpy, pandas Series) -> a single-series long frame on the
    ACTIVE SparkSession. Bounded by construction — the caller already
    holds the arrays in driver memory."""
    import pandas as pd
    from pyspark.sql import SparkSession

    if y is None:
        raise TypeError(
            "Forecaster needs either a long DataFrame/TimeSeriesFrame "
            "or reference-style y=/current_dates= arrays"
        )
    yv = list(getattr(y, "values", y))
    if current_dates is None:
        # the reference allows a numbered index when dates are unknown
        dates = pd.date_range("1970-01-01", periods=len(yv), freq="D")
    else:
        dates = pd.to_datetime(list(getattr(current_dates, "values", current_dates)))
    if len(dates) != len(yv):
        raise ValueError(
            f"y has {len(yv)} values but current_dates has {len(dates)}"
        )
    spark = SparkSession.getActiveSession()
    if spark is None:
        from scalecast_spark.session import get_session

        spark = get_session("forecaster")
    return spark.createDataFrame(
        pd.DataFrame({
            SERIES: series_id, DS: dates,
            Y: [float(v) if v is not None and v == v else None for v in yv],
        })
    )


class Forecaster:
    """One engine object over any number of series."""

    def __init__(self, df: DataFrame | TimeSeriesFrame = None,
                 future_dates: int = 0,
                 test_length: int | float = 0,
                 validation_length: int = 0, cis: bool | None = None,
                 **_ref_kwargs):
        if df is None:
            # reference constructor shape (Forecaster.py:40-94 /
            # ForecasterGlobals.ipynb): Forecaster(y=[...],
            # current_dates=[...]) — driver-side arrays become a
            # single-series long frame on the active session
            df = _frame_from_arrays(
                _ref_kwargs.pop("y", None), _ref_kwargs.pop("current_dates", None)
            )
        self.tsf = (
            df if isinstance(df, TimeSeriesFrame) else TimeSeriesFrame.from_long(df)
        )
        self.horizon = 0
        if future_dates:
            self.generate_future_dates(future_dates)
        self.test_length = 0
        self.validation_length = 1
        self.validation_metric = "rmse"
        self.cilevel = 0.95
        self.metrics = list(METRICS.DEFAULT_METRICS)
        self.estimator: str | None = None
        self.grid: list[dict] | None = None
        self.best_params: dict | None = None
        self.validation_metric_value: float | None = None
        #: model nickname -> dict(results=DataFrame, summary=dict)
        self.history: dict[str, dict] = {}
        #: model nickname -> the fused-testfull cached frame its
        #: history entry reads (optimization round 16, r15 verdict
        #: "What's wrong" #3: these were never unpersisted — a re-fit
        #: under the same name pinned a fresh InMemoryRelation each
        #: call). Object-scoped release path: a re-fit under the SAME
        #: name unpersists the old entry, pop() releases with the
        #: history entry, release_model_caches() drops them all.
        self._fused_caches: dict[str, DataFrame] = {}
        self._recipe: list[tuple] = []
        self._custom_optimizers: dict[str, callable] = {}
        self._expr_optimizers: dict[str, callable] = {}
        # reference constructor conveniences (Forecaster.py:40-70:
        # test_length/validation_length/cis accepted at build time)
        if test_length:
            self.set_test_length(test_length)
        if validation_length:
            self.set_validation_length(validation_length)
        if cis is not None:
            self.eval_cis(bool(cis))
        if _ref_kwargs.get("metrics"):
            # reference ctor metrics= (registered names only; callable
            # custom metrics register via functions.metrics first)
            self.set_metrics([
                m for m in _ref_kwargs["metrics"] if isinstance(m, str)
            ])

    # ------------------------------------------------------- setup
    def generate_future_dates(self, h: int) -> "Forecaster":
        self.tsf = self.tsf.generate_future_dates(h)
        self.horizon = h
        return self

    def set_test_length(self, n: int | float) -> "Forecaster":
        """reference _Forecaster_parent.py:1245-1270 (incl. the
        conformal minimum-length rule at 104-116). A float in (0, 1)
        is the reference's fractional form — that share of the
        SHORTEST series' observed length."""
        if isinstance(n, float) and not n.is_integer():
            if not 0 < n < 1:
                raise ValueError(f"fractional test_length must be in (0,1), got {n}")
            self.test_length = int(self._min_series_length() * n)
        else:
            self.test_length = int(n)
        return self

    def _series_stats(self) -> tuple[int, int | None]:
        """(n_series, min_obs) for the observed frame — served from the
        cache the ingest-time infer_meta job left on the
        TimeSeriesFrame when the row set is provably unchanged (feature
        ops carry it; chops/transforms drop it), else one aggregate
        job whose result is re-cached on the current frame."""
        st = getattr(self.tsf, "_stats", None)
        if st is None:
            row = (
                self.tsf.observed.groupBy(SERIES).count()
                .agg(F.min("count").alias("_min"), F.count("*").alias("_n"))
                .collect()[0]
            )
            st = (
                int(row["_n"]),
                int(row["_min"]) if row["_min"] is not None else None,
            )
            object.__setattr__(self.tsf, "_stats", st)
        return st

    def _min_series_length(self) -> int:
        return int(self._series_stats()[1])

    def set_validation_length(self, n: int | float) -> "Forecaster":
        if isinstance(n, float) and not n.is_integer():
            if not 0 < n < 1:
                raise ValueError(f"fractional validation_length must be in (0,1), got {n}")
            self.validation_length = int(self._min_series_length() * n)
        else:
            self.validation_length = int(n)
        return self

    def set_validation_metric(self, m: str) -> "Forecaster":
        self.validation_metric = m
        return self

    def set_cilevel(self, c: float) -> "Forecaster":
        if not 0 < c < 1:
            raise ValueError("cilevel must be in (0,1)")
        self.cilevel = c
        return self

    def set_estimator(self, name: str) -> "Forecaster":
        from scalecast_spark.models import MODELS

        if name not in MODELS and name != "combo":
            # 'combo' is estimator-shaped in the reference (models.py
            # _forecast_combo); the engine routes it to Forecaster.combo
            # from manual_forecast
            raise ValueError(f"unknown estimator {name!r}; have {sorted(MODELS)}")
        if name != self.estimator:
            # tuning state belongs to ONE estimator — clear on switch so
            # a later model never inherits a stale ValidationMetricValue
            # or best_params (mirrors the reference's _clear_the_deck,
            # _Forecaster_parent.py:121-143)
            self.grid = None
            self.best_params = None
            self.validation_metric_value = None
        self.estimator = name
        return self

    # ---------------------------------------------------- features
    def _apply(self, fn, *args, **kwargs) -> "Forecaster":
        df, names = fn(self.tsf.df, *args, **kwargs)
        self.tsf = self.tsf.with_features(df, names)
        self._recipe.append((fn.__name__, args, kwargs))
        return self

    def add_ar_terms(self, n) -> "Forecaster":
        return self._apply(FEAT.add_ar_terms, n)

    def add_AR_terms(self, N_m: tuple) -> "Forecaster":
        return self._apply(FEAT.add_seasonal_ar_terms, *N_m)

    def add_time_trend(self) -> "Forecaster":
        return self._apply(FEAT.add_time_trend)

    def add_seasonal_regressors(self, *parts, **kwargs) -> "Forecaster":
        return self._apply(FEAT.add_seasonal_regressors, list(parts), **kwargs)

    def add_cycle(self, cycle_length, **kwargs) -> "Forecaster":
        return self._apply(FEAT.add_cycle, cycle_length, **kwargs)

    def add_other_regressor(self, called, start, end) -> "Forecaster":
        return self._apply(FEAT.add_other_regressor, called, start, end)

    def add_covid19_regressor(self) -> "Forecaster":
        """reference _Forecaster_parent.py:509-533 fixed window."""
        return self._apply(
            FEAT.add_other_regressor, "COVID19", "2020-03-15", "2021-05-13"
        )

    def add_combo_regressors(self, *cols) -> "Forecaster":
        return self._apply(FEAT.add_combo_regressors, *cols)

    def add_poly_terms(self, *cols, pwr: int = 2) -> "Forecaster":
        return self._apply(FEAT.add_poly_terms, *cols, pwr=pwr)

    def add_exp_terms(self, *cols, pwr: float) -> "Forecaster":
        return self._apply(FEAT.add_exp_terms, *cols, pwr=pwr)

    def add_logged_terms(self, *cols, base: float = math.e) -> "Forecaster":
        return self._apply(FEAT.add_logged_terms, *cols, base=base)

    def add_lagged_terms(self, *cols, lags: int = 1, upto: bool = True) -> "Forecaster":
        return self._apply(FEAT.add_lagged_terms, *cols, lags=lags, upto=upto)

    def add_rolling_mean(self, window: int, **kwargs) -> "Forecaster":
        return self._apply(FEAT.add_rolling_mean, window, **kwargs)

    def add_pt_terms(self, *cols, method: str = "boxcox") -> "Forecaster":
        return self._apply(FEAT.add_pt_terms, *cols, method=method)

    def add_signals(
        self, models: list[str], fill_strategy: str | None = "actuals",
        train_only: bool = False,
    ) -> "Forecaster":
        """Fitted values + forecasts of already-run models become
        regressors ``signal_<m>`` (reference add_signals,
        Forecaster.py:367-407). NaN head (rows before the model's
        first fitted value) filled with actuals (default), backfilled
        ('bfill'), or left NULL (None). ``train_only`` swaps the
        test-window values for the model's OUT-OF-SAMPLE test-set
        predictions (reference :404-406), so downstream models never
        see in-sample fits on the holdout."""
        for m in models:
            h = self.history.get(m)
            if h is None:
                raise KeyError(f"model {m!r} has no results to use as a signal")
            parts = [h["fitted"].select(SERIES, DS, F.col("forecast").alias("_sig"))]
            if train_only and h.get("test_preds") is not None:
                tp = h["test_preds"].select(
                    SERIES, DS, F.col("forecast").alias("_sig")
                )
                # test-window rows take the out-of-sample predictions;
                # anti-join the fitted part on the test keys first
                parts[0] = parts[0].join(
                    tp.select(SERIES, DS), [SERIES, DS], "left_anti"
                )
                parts.append(tp)
            if h["forecast"] is not None:
                parts.append(
                    h["forecast"].select(SERIES, DS, F.col("forecast").alias("_sig"))
                )
            sig = parts[0]
            for p in parts[1:]:
                sig = sig.unionByName(p)
            name = f"signal_{m}"
            # re-adding the same model's signal REPLACES it (the
            # reference overwrites current_xreg[name]); without the
            # drop the join would stack duplicate columns
            base_df = self.tsf.df
            if name in base_df.columns:
                base_df = base_df.drop(name)
            joined = base_df.join(
                sig.withColumnRenamed("_sig", name), [SERIES, DS], "left"
            )
            if fill_strategy == "actuals":
                joined = joined.withColumn(name, F.coalesce(F.col(name), F.col(Y)))
            elif fill_strategy == "bfill":
                wb = W.partitionBy(SERIES).orderBy(DS).rowsBetween(
                    0, W.unboundedFollowing
                )
                joined = joined.withColumn(
                    name, F.coalesce(F.col(name), F.first(name, ignorenulls=True).over(wb))
                )
            self.tsf = self.tsf.with_features(joined, [name])
        return self

    def drop_Xvars(self, *names) -> "Forecaster":
        self.tsf = self.tsf.drop_features(*names)
        return self

    def drop_regressors(self, *names, raise_error: bool = True) -> "Forecaster":
        """Alias of drop_Xvars with the reference's error policy
        (_Forecaster_parent.py:720-758): unknown names raise unless
        ``raise_error=False`` (then they are skipped silently)."""
        feats = set(self.tsf.features)
        missing = [n for n in names if n not in feats]
        if missing and raise_error:
            raise ValueError(
                f"regressor(s) not found: {missing}; stored: "
                f"{sorted(feats)}"
            )
        keep = [n for n in names if n in feats]
        return self.drop_Xvars(*keep) if keep else self

    def drop_all_Xvars(self) -> "Forecaster":
        """reference _Forecaster_parent.py:759-765."""
        feats = list(self.tsf.features)
        return self.drop_Xvars(*feats) if feats else self

    def get_regressor_names(self) -> list[str]:
        return list(self.tsf.features)

    def list_stored_ar_terms(self) -> list[str]:
        """AR feature names currently stored
        (reference _Forecaster_parent.py:428-435)."""
        return [
            c for c in self.tsf.features
            if c.startswith("ar_") and c.split("_", 1)[1].isdigit()
        ]

    def get_max_lag_order(self) -> int:
        """Highest stored AR lag order, 0 if none
        (reference _Forecaster_parent.py:436-447)."""
        ars = self.list_stored_ar_terms()
        return max((int(c.split("_", 1)[1]) for c in ars), default=0)

    def n_actuals(self) -> int:
        """Number of actual observations (reference
        _Forecaster_parent.py:145-152). Long-format translation: the
        MINIMUM per-series observed count — the quantity every
        window/length decision (test split, series-length search,
        max AR order) must respect across ALL series."""
        mn = self._series_stats()[1]
        return int(mn) if mn is not None else 0

    def get_freq(self) -> float | None:
        """The inferred observation frequency (reference
        Forecaster.py:1762-1769 returns the pandas alias; the engine's
        distributed inference works in SECONDS — frame.py
        freq_seconds — so that is what comes back: 86400.0 for daily,
        None if unknown)."""
        return self.tsf.freq_seconds

    def set_metrics(
        self, metrics: list[str], keep_existing: bool = False
    ) -> "Forecaster":
        """Choose which metrics every subsequent evaluation computes
        (reference _Forecaster_parent.py:1133-1166). Names must exist
        in the metric registry (functions/metrics.METRIC_EXPRS —
        custom metrics register there first, same extension point the
        gate's medae member uses). A classes.MetricStore with an
        ``expr`` registers itself on the way in (reference shape:
        ``f.set_metrics(['rmse', my_store])``)."""
        resolved = []
        for m in metrics:
            if hasattr(m, "register") and hasattr(m, "name"):
                m.register()
                m = m.name
            resolved.append(m)
        metrics = resolved
        unknown = [m for m in metrics if m not in METRICS.METRIC_EXPRS]
        if unknown:
            raise ValueError(
                f"unknown metric(s) {unknown}; registered: "
                f"{sorted(METRICS.METRIC_EXPRS)}"
            )
        if keep_existing:
            self.metrics = self.metrics + [
                m for m in metrics if m not in self.metrics
            ]
        else:
            self.metrics = list(metrics)
        return self

    def set_last_future_date(self, date) -> "Forecaster":
        """Extend the forecast horizon to a target DATE instead of a
        period count (reference _Forecaster_parent.py:1338-1360).
        Long-format translation: h is computed from the EARLIEST
        per-series last-observed date, so every series' horizon
        reaches at least ``date``; the frame's future rows are rebuilt
        (call BEFORE feature generation, exactly like the
        generate_future_dates step in __init__ ordering — regenerated
        future rows carry NULL feature cells)."""
        import math

        import pandas as pd

        if self.tsf.freq_seconds is None:
            raise ValueError("frequency unknown; cannot generate horizon")
        row = (
            self.tsf.observed.groupBy(SERIES)
            .agg(F.max(DS).alias("_m"))
            .agg(F.min("_m"))
            .collect()[0]
        )
        last = pd.Timestamp(row[0])
        target = pd.Timestamp(date)
        h = math.ceil(
            (target - last).total_seconds() / self.tsf.freq_seconds
        )
        if h < 1:
            raise ValueError(
                f"set_last_future_date: {target} is not after the "
                f"earliest last observation ({last})"
            )
        self.tsf = self.tsf.generate_future_dates(h)
        return self

    def eval_cis(self, mode: bool = True, cilevel: float = 0.95) -> "Forecaster":
        """Toggle conformal confidence intervals for every subsequent
        evaluation (reference _Forecaster_parent.py:1033-1051).
        Turning them ON enforces the reference's soundness bound: the
        naive conformal percentile needs at least 1/(1-cilevel) test
        residuals per series."""
        import math

        if mode:
            need = math.ceil(1.0 / (1.0 - cilevel))
            if not self.test_length or self.test_length < need:
                raise ValueError(
                    f"conformal intervals at cilevel={cilevel} need a "
                    f"test set of at least {need} observations; "
                    f"test_length is {self.test_length or 0} — call "
                    f"set_test_length first"
                )
        self.cis = mode
        return self.set_cilevel(cilevel)

    def add_sklearn_estimator(self, imported_module, called: str) -> "Forecaster":
        """reference _Forecaster_parent.py:786-814 — see
        models.add_sklearn_estimator (registration is engine-global,
        like the reference's module-level registry)."""
        from scalecast_spark.models import add_sklearn_estimator as _add

        _add(imported_module, called)
        return self

    def add_Normalizer(self, called: str, imported_normalizer) -> "Forecaster":
        """Reference MVForecaster spelling (capital N,
        MVForecaster.py add_Normalizer) — same registry."""
        return self.add_normalizer(called, imported_normalizer)

    def add_normalizer(self, called: str, imported_normalizer) -> "Forecaster":
        """reference _Forecaster_parent.py:1944-1960 — see
        models.add_normalizer."""
        from scalecast_spark.models import add_normalizer as _add

        _add(called, imported_normalizer)
        return self

    def corr(self, train_only: bool = False) -> DataFrame:
        """Pairwise Pearson correlation across the object's series
        (reference MVForecaster.corr, MVForecaster.py:1012-1049 — on
        this engine MV analysis runs on the same long-format object).
        ``train_only`` excludes each series' held-out test rows, like
        the reference flag."""
        from scalecast_spark.operators.multivariate import corr_matrix

        src = self.tsf.observed
        if train_only and self.test_length:
            w = W.partitionBy(SERIES).orderBy(F.desc(DS))
            src = (
                src.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") > self.test_length)
                .drop("_rn")
            )
        return corr_matrix(src)

    def corr_lags(
        self, series_x: str, series_y: str, lags: int = 5, **_plot_kwargs
    ) -> DataFrame:
        """corr(y_series, x_series lagged k) for k=1..lags (reference
        MVForecaster.corr_lags, MVForecaster.py:1051-1074). The
        reference's ``disp='heatmap'`` + seaborn kwargs are rendering
        sugar — accepted for call-shape parity; the frame IS the
        result (feed it to plotting.render_lines if a figure is
        wanted)."""
        from scalecast_spark.operators.multivariate import corr_lags

        return corr_lags(self.tsf.observed, series_x, series_y, lags)

    def determine_if_MVForecaster(self) -> bool:
        """Always False (reference _Forecaster_parent.py: class
        dispatch helper): this engine has no separate MV class — the
        long-format object runs the multivariate estimators (mv_*)
        directly."""
        return False

    def validate_regressor_names(self, names) -> "Forecaster":
        """Raise if any name is not a stored Xvar (reference
        Forecaster.py helper used before model calls)."""
        feats = set(self.tsf.features)
        missing = [n for n in names if n not in feats]
        if missing:
            raise ValueError(
                f"regressor(s) not stored: {missing}; stored: "
                f"{sorted(feats)}"
            )
        return self

    def STL(self, m: int = 7, diffy: bool = False, **kwargs) -> DataFrame:
        """STL decomposition of the observed series (reference
        Forecaster.py:1394-1456 returns a statsmodels DecomposeResult;
        the engine returns the distributed PER-SERIES decomposition
        frame from functions/stattests.stl_decompose —
        trend/seasonal/remainder columns, hash-certified via the
        ts_decompose_stl gate family). ``diffy`` first-differences y
        before decomposing, like the reference flag; extra kwargs pass
        to stl_decompose (trend_frac/seasonal_frac/n_inner/robust)."""
        from scalecast_spark.functions.stattests import stl_decompose

        df = self.tsf.observed
        if diffy:
            w = W.partitionBy(SERIES).orderBy(DS)
            df = df.withColumn(
                Y, F.col(Y) - F.lag(Y, 1).over(w)
            ).na.drop(subset=[Y])
        return stl_decompose(df, m=m, **kwargs)

    def save_feature_importance(self, model: str | None = None) -> "Forecaster":
        """Bank feature importance with an evaluated model (reference
        Forecaster.py:1531-1560 runs PFI/shap post-hoc): the exact
        linear-SHAP ranking of the CURRENT feature set
        (functions/shap.linear_shap_importance — the engine
        reduce_Xvars' certified ranking) lands LAZY in
        history[model]['feature_importance']."""
        from scalecast_spark.functions.shap import linear_shap_importance

        name = model or self.estimator
        if name not in self.history:
            raise ValueError(f"{name!r} not evaluated")
        self.history[name]["feature_importance"] = linear_shap_importance(
            self.tsf.df, list(self.tsf.features)
        )
        return self

    def export_feature_importance(self, model: str) -> DataFrame:
        """The banked importance frame (reference
        Forecaster.py:2221-2260); call save_feature_importance
        first."""
        if model not in self.history:
            raise ValueError(f"{model!r} not evaluated")
        imp = self.history[model].get("feature_importance")
        if imp is None:
            raise ValueError(
                f"no feature importance banked for {model!r}; call "
                f"save_feature_importance() after evaluating it"
            )
        return imp

    def export_Xvars_df(self, dropna: bool = False) -> DataFrame:
        """The feature matrix as its own frame (reference
        Forecaster.py:2290-2319): (series_id, ds, every stored Xvar)
        over observed AND future rows; ``dropna`` drops rows with any
        NULL feature cell (future AR cells, pre-window warm-up
        rows)."""
        feats = list(self.tsf.features)
        out = self.tsf.df.select(SERIES, DS, IS_FUTURE, *feats)
        if dropna and feats:
            out = out.na.drop(subset=feats)
        return out

    def export_fitted_vals(self, model: str | None = None) -> DataFrame:
        """A model's in-sample fitted values (reference
        Forecaster.py:2321-2340): (series_id, ds, y, forecast). With
        ``model=None`` (the reference MVForecaster call shape), every
        banked model's fitted values union with a ``model`` column."""
        if model is None:
            out = None
            for n, h in self.history.items():
                if h.get("fitted") is None:
                    continue
                fv = h["fitted"].select(
                    F.lit(n).alias("model"), SERIES, DS, Y, "forecast"
                )
                out = fv if out is None else out.unionByName(fv)
            if out is None:
                raise ValueError("no model has fitted values banked")
            return out
        if model not in self.history:
            raise ValueError(f"{model!r} not evaluated")
        return self.history[model]["fitted"]

    def export_validation_grid(self, model: str) -> DataFrame:
        """A model's banked hyperparameter-validation grid (reference
        _Forecaster_parent.py:1545-1568): one row per (grid cell,
        fold) with the validation metric. Available for models banked
        through auto_forecast / tune_test_forecast."""
        if model not in self.history:
            raise ValueError(f"{model!r} not evaluated")
        grid = self.history[model].get("grid_evaluated")
        if not grid:
            raise ValueError(
                f"{model!r} was not tuned (no validation grid banked); "
                f"tune + auto_forecast it, or use manual_forecast "
                f"models' summaries instead"
            )
        rows = [
            (str(entry["params"]), fold, float(v))
            for entry in grid
            for fold, v in enumerate(entry["scores"])
        ]
        return self.tsf.df.sparkSession.createDataFrame(
            rows, schema="params string, fold int, metric double"
        )

    def test(
        self, dynamic_testing: bool | int = True,
        call_me: str | None = None, **kwargs,
    ) -> "Forecaster":
        """Evaluate the estimator out-of-sample ONLY — no future
        forecast (reference _Forecaster_parent.py:1569-1643): the last
        test_length observations per series are held out, the model
        fits on the rest and predicts the holdout, and TestSet metrics
        + test predictions bank into history under ``call_me`` (an
        existing entry, e.g. from manual_forecast, is UPDATED — same
        merge the reference performs)."""
        if not self.test_length:
            raise ValueError(
                "Cannot test models when test_length is 0. Call "
                "set_test_length() to configure a test set first."
            )
        if self.estimator is None:
            raise ValueError("call set_estimator first")
        name = call_me or self.estimator
        if self._model_accepts("dynamic_testing"):
            kwargs.setdefault("dynamic_testing", dynamic_testing)
        marked = _mark_test_rows(self.tsf.df, self.test_length)
        scored = self._run_model(marked, **dict(kwargs))
        test_df = scored.filter(F.col(IS_FUTURE) == 1).select(
            SERIES, DS, Y, "forecast"
        ).cache()
        per_series_test, test_metrics = self._metric_summary(
            test_df, self.metrics
        )
        entry = dict(self.history.get(name, {}))
        summary = dict(entry.get("summary", {}))
        summary.setdefault("estimator", self.estimator)
        summary.setdefault("hyperparams", dict(kwargs))
        for m, v in test_metrics.items():
            summary[f"TestSet{m.upper()}"] = v
        entry.update(
            {
                "summary": summary,
                "test_preds": test_df,
                "per_series_test_metrics": per_series_test,
            }
        )
        entry.setdefault("forecast", None)
        entry.setdefault("fitted", None)
        self.history[name] = entry
        return self

    def export_recipe(self) -> list[tuple]:
        """The recorded feature recipe — transferable to another object
        (reference infer_apply_Xvar_selection, util.py:343-388)."""
        return list(self._recipe)

    def apply_recipe(self, recipe: list[tuple]) -> "Forecaster":
        """Replay another Forecaster's feature recipe onto this frame."""
        for fn_name, args, kwargs in recipe:
            self._apply(getattr(FEAT, fn_name), *args, **kwargs)
        return self

    # ------------------------------------------------- persistence
    def save_results(self, path: str) -> None:
        """Persist the results store as parquet (the engine's pickling
        story, reference _Forecaster_parent.py:96-102: state is data)."""
        self.export("lvl_fcsts").write.mode("overwrite").parquet(f"{path}/forecasts")
        tp = self.export("lvl_test_set_predictions")
        if tp is not None:
            tp.write.mode("overwrite").parquet(f"{path}/test_preds")
        self.export("model_summaries").write.mode("overwrite").parquet(
            f"{path}/summaries"
        )

    @staticmethod
    def load_results(spark, path: str) -> dict[str, DataFrame]:
        return {
            "forecasts": spark.read.parquet(f"{path}/forecasts"),
            "summaries": spark.read.parquet(f"{path}/summaries"),
        }

    # ---------------------------------------------------- slicing
    def chop_from_front(self, n: int) -> "Forecaster":
        self.tsf = self.tsf.chop_from_front(n)
        return self

    def chop_from_back(self, n: int) -> "Forecaster":
        self.tsf = self.tsf.chop_from_back(n)
        return self

    def keep_smaller_history(self, n: int) -> "Forecaster":
        # first chop banks the pre-chop frame so restore_series_length
        # can undo it (reference orig_attr, Forecaster.py:1165-1176);
        # frames are immutable, so this costs a reference, not a copy
        if not hasattr(self, "_orig_tsf"):
            self._orig_tsf = self.tsf
        self.tsf = self.tsf.keep_smaller_history(n)
        return self

    def restore_series_length(self) -> "Forecaster":
        """Undo keep_smaller_history / determine_best_series_length
        (reference Forecaster.py:1165-1176): the pre-chop frame comes
        back and, like the reference, ALL stored regressors drop (their
        values were computed against the chopped history). No-op if
        the history was never chopped."""
        if not hasattr(self, "_orig_tsf"):
            return self
        self.tsf = self._orig_tsf
        delattr(self, "_orig_tsf")
        return self.drop_all_Xvars()

    def round(self, decimals: int = 0) -> "Forecaster":
        """reference Forecaster.round (Forecaster.py:2341-2352)."""
        from dataclasses import replace as _replace

        self.tsf = _replace(
            self.tsf, df=self.tsf.df.withColumn(Y, F.round(F.col(Y), decimals))
        )
        return self

    # --------------------------------- driver-side series views
    #: ceiling on rows the y/current_dates convenience properties may
    #: collect — they exist for reference-ported DRIVER-SIDE code
    #: (f.y.values, plotting, asserts); distributed work reads tsf.df
    max_series_collect: int = 1_000_000

    def _series_pandas(self):
        import pandas as pd  # noqa: F401

        cap = int(self.max_series_collect)
        pdf = (
            self.tsf.observed.select(SERIES, DS, Y)
            .orderBy(DS)
            .limit(cap + 1)
            .toPandas()
        )
        if len(pdf) > cap:
            raise RuntimeError(
                f"series view would collect more than {cap} rows to the "
                "driver; operate on f.tsf.df instead, or raise "
                "max_series_collect"
            )
        if pdf[SERIES].nunique() > 1:
            raise ValueError(
                "f.y / f.current_dates are single-series conveniences; "
                "this Forecaster holds multiple series — filter or use "
                "f.tsf.df"
            )
        return pdf

    @property
    def y(self):
        """The observed series as a pandas Series (reference
        Forecaster.y). DRIVER-SIDE convenience for ported code —
        bounded by ``max_series_collect``; single-series only."""
        return self._series_pandas()[Y].reset_index(drop=True)

    @property
    def current_dates(self):
        """Observed timestamps as a pandas Series (reference
        Forecaster.current_dates). Same bounds as ``y``."""
        return self._series_pandas()[DS].reset_index(drop=True)

    # --------------------------------------- statistical tests
    def _stat_frame(self, train_only: bool = False, diffy: bool | int = False):
        df = self.tsf.observed
        if diffy:
            w = W.partitionBy(SERIES).orderBy(DS)
            df = df.withColumn(Y, F.col(Y) - F.lag(Y).over(w)).filter(
                F.col(Y).isNotNull()
            )
        if train_only and self.test_length:
            w = W.partitionBy(SERIES).orderBy(F.desc(DS))
            df = (
                df.withColumn("_rev", F.row_number().over(w))
                .filter(F.col("_rev") > self.test_length)
                .drop("_rev")
            )
        return df

    def adf_test(
        self, critical_pval: float = 0.05, full_res: bool = True,
        train_only: bool = False, diffy: bool | int = False,
        maxlag: int | None = None, **_ref_kwargs,
    ):
        """Augmented Dickey-Fuller stationarity test (reference
        Forecaster.adf_test, Forecaster.py:1258-1301). Single-series
        objects get the reference's scalar shapes — ``full_res=True``
        a dict of {stat, used_lag, stationary}, ``full_res=False`` a
        bool at ``critical_pval``'s nearest tabulated level; multi-
        series objects get the per-series DataFrame."""
        from scalecast_spark.functions import stattests as ST

        res = ST.adf_test(self._stat_frame(train_only, diffy), maxlag)
        rows = res.limit(2).collect()
        if len(rows) > 1:
            return res
        r = rows[0]
        level = min((0.01, 0.05, 0.10), key=lambda p: abs(p - critical_pval))
        crit = ST._ADF_CRIT[f"{int(level * 100)}%"]
        stationary = bool(r["adf_stat"] < crit)
        if not full_res:
            return stationary
        return {
            "adf_stat": float(r["adf_stat"]),
            "used_lag": int(r["used_lag"]),
            "stationary": stationary,
            "critical_value": float(crit),
        }

    def normality_test(
        self, train_only: bool = False, diffy: bool | int = False,
    ):
        """D'Agostino-Pearson normality test (reference
        Forecaster.normality_test, Forecaster.py:1304-1318): returns
        the reference's (stat, pvalue) tuple for single-series
        objects, the per-series DataFrame otherwise."""
        from scalecast_spark.functions import stattests as ST

        res = ST.normality_test(self._stat_frame(train_only, diffy))
        rows = res.limit(2).collect()
        if len(rows) > 1:
            return res
        return float(rows[0]["k2"]), float(rows[0]["pvalue"])

    # ------------------------------------- introspection globals
    # (reference ForecasterGlobals.ipynb: f.estimators, f.metrics,
    # f.determine_best_by, f.normalizer, mvf.optimizer_funcs)
    @property
    def estimators(self) -> list[str]:
        """Every registered estimator name (reference
        _Forecaster_parent.py estimators global)."""
        from scalecast_spark.models import MODELS

        return sorted(MODELS)

    @property
    def determine_best_by(self) -> list[str]:
        """Valid ranking keys for order_fcsts/set_best_model
        (reference _Forecaster_parent.py:55-70)."""
        names = [m.upper() for m in self.metrics]
        return (
            [f"TestSet{n}" for n in names]
            + [f"InSample{n}" for n in names]
            + ["ValidationMetricValue"]
        )

    @property
    def normalizer(self) -> dict:
        """Registered normalizer names -> fit factories (reference
        cfg.py:67-73 normalizer dict; None is the identity, builtins
        are resolved by name inside the kernel)."""
        from scalecast_spark.models.kernel import CUSTOM_NORMALIZERS

        return {
            None: None, "minmax": "minmax", "scale": "scale",
            "robust": "robust", **CUSTOM_NORMALIZERS,
        }

    @property
    def optimizer_funcs(self) -> dict:
        """Built-in + user-registered per-series metric aggregators
        (reference MVForecaster.py:151-156)."""
        return {
            **self.OPTIMIZER_FUNCS,
            **self._custom_optimizers,
            **self._expr_optimizers,
        }

    # -------------------------------------------- MV aggregation
    #: reference optimizer_funcs (MVForecaster.py:151-156)
    OPTIMIZER_FUNCS = {"mean": "avg", "min": "min", "max": "max"}

    def set_optimize_on(self, how: str) -> "Forecaster":
        """How per-series metrics aggregate into one tuning decision
        (reference MVForecaster.optimize_on, MVForecaster.py:412-444):
        'mean'/'min'/'max', a name registered via add_optimizer_func,
        or a series_id to optimize on that series. A reference-style
        positional name ('y1'/'series2') resolves to the matching
        input's REAL series id when the MVForecaster kept identity
        naming (see MVForecaster.__init__'s divergence note). A bare
        CALLABLE registers itself first (reference
        mvf.set_optimize_on(weighted_series), test_MVForecaster.py
        :32-35)."""
        if callable(how):
            self.add_optimizer_func(how)
            how = getattr(how, "__name__", "custom")
        aliases = getattr(self, "_mv_aliases", None)
        if aliases and how in aliases:
            how = aliases[how]
        self._optimize_on = how
        return self

    #: ceiling on per-series rows a CALLABLE optimizer may pull to the
    #: driver during tuning — beyond it the collect is the round-1 OOM
    #: shape (one row per series at a 100M-series design point). Raise
    #: it consciously, or register a Column expression instead.
    max_optimizer_collect: int = 100_000

    def add_optimizer_func(self, fn, called: str | None = None) -> "Forecaster":
        """Register a custom cross-series aggregator (reference
        MVForecaster.add_optimizer_func, MVForecaster.py:213-235):
        ``fn(list[float]) -> float`` over the per-series metric values.
        Built-in mean/min/max stay fully distributed; a custom callable
        necessarily reduces on the driver — its input is one float per
        series, and tuning REFUSES to collect more than
        ``max_optimizer_collect`` of them (fail-loud, not silent
        sampling). For unbounded series counts register a distributed
        aggregate with :meth:`add_optimizer_expr` instead."""
        name = called or getattr(fn, "__name__", "custom")
        self._custom_optimizers[name] = fn
        return self

    def add_optimizer_expr(self, expr_fn, called: str | None = None) -> "Forecaster":
        """Register a DISTRIBUTED cross-series aggregator: ``expr_fn``
        maps the metric column name to a Spark aggregate Column, e.g.
        ``f.add_optimizer_expr(lambda c: F.expr(f"percentile({c}, 0.9)"),
        called="p90")``. The aggregation runs Spark-side and exactly one
        row reaches the driver regardless of series count — the
        scale-safe alternative to ``add_optimizer_func``."""
        name = called or getattr(expr_fn, "__name__", "custom_expr")
        self._expr_optimizers[name] = expr_fn
        return self

    def set_best_model(
        self, model: str | None = None,
        determine_best_by: str = "TestSetRMSE",
    ) -> "Forecaster":
        """Pin the best model (reference MVForecaster.py:513-533):
        either explicitly by evaluated-model name, or by ranking on a
        labeled metric."""
        if model is not None:
            if model not in self.history:
                raise ValueError(f"{model!r} has not been evaluated")
            self.best_model = model
            return self
        order = self.order_fcsts(determine_best_by)
        if not order:
            raise ValueError("no evaluated models to choose from")
        self.best_model = order[0]
        return self

    # ---------------------------------------------------- modeling
    def _run_model(self, df: DataFrame, **kwargs) -> DataFrame:
        from scalecast_spark.models import MODELS

        fn = MODELS[self.estimator]
        if self.estimator == "naive":
            # reference naive takes seasonal=True for the seasonal
            # variant (models.py _forecast_naive); m resolves from the
            # frame's frequency unless given explicitly
            m = kwargs.get("m", "auto" if kwargs.get("seasonal") else 1)
            return fn(df, m=m)
        xvars = kwargs.pop("Xvars", None)
        # reference Xvars defaults differ by family: sklearn-style
        # estimators default to 'all' (models.py:620), the statsmodels
        # family documents "If unspecified, no regressors are used"
        # (models.py:432,454) — mapping None to all features there
        # would feed NULL-bearing AR warm-up rows into every plain
        # arima/prophet fit as exog and break them
        if xvars is None:
            xvars = [] if _exog_optional(self.estimator) else list(self.tsf.features)
        elif xvars == "all":  # reference convention: 'all' = every Xvar
            xvars = list(self.tsf.features)
        return fn(df, features=xvars, **kwargs)

    def _model_accepts(self, arg: str) -> bool:
        """Whether the current estimator's fn takes ``arg`` — series
        kernels (hwes/theta/arima/naive) have no dynamic_testing knob."""
        import inspect

        from scalecast_spark.models import MODELS

        try:
            return arg in inspect.signature(MODELS[self.estimator]).parameters
        except (TypeError, ValueError):
            return False

    def copy(self) -> "Forecaster":
        """Isolated object copy (reference _Forecaster_parent.py:154
        ``copy``/``__copy__``). Spark frames are immutable, so they
        are SHARED — a deepcopy of a DataFrame has no meaning and
        would copy no data anyway — while every mutable container
        (history and its per-model entries, trajectories, params,
        metric lists) is copied RECURSIVELY — plain dict/list/set/tuple
        containers at every nesting depth get fresh objects, so
        mutating ``copy.history[m]['summary']['foo']`` never leaks
        into the original — so any add_*/set_*/forecast on the copy
        never touches the original: the same isolation the reference
        gets from deepcopying its numpy state, at zero data cost."""
        import copy as _copy

        def _fresh(v):
            # plain containers: new object per level; everything else
            # (DataFrames, models, scalars) shared by identity
            if isinstance(v, dict):
                return {k: _fresh(x) for k, x in v.items()}
            if isinstance(v, list):
                return [_fresh(x) for x in v]
            if isinstance(v, tuple):
                return tuple(_fresh(x) for x in v)
            if isinstance(v, set):
                return set(v)
            return v

        g = _copy.copy(self)
        for k, v in vars(self).items():
            if isinstance(v, (dict, list, set, tuple)):
                setattr(g, k, _fresh(v))
        return g

    def _metric_summary(self, df: DataFrame, metrics: list[str]):
        """Two-stage metric reduction: a LAZY per-series metric frame
        (kept for MV exports) + ONE collected cross-series mean row.
        The driver never sees a row count that scales with n_series —
        at 100M series the old per-series collect was a driver OOM.
        ``F.avg`` skips per-series NULLs, matching the reference's
        NaN-tolerant mean (MVForecaster.py:485-489)."""
        per = METRICS.evaluate(
            df, actual=Y, forecast="forecast", by=[SERIES], metrics=metrics
        )
        row = per.agg(*[F.avg(m).alias(m) for m in metrics]).collect()[0]
        return per, {
            m: (float(row[m]) if row[m] is not None else float("nan"))
            for m in metrics
        }

    def manual_forecast(self, call_me: str | None = None, **kwargs) -> "Forecaster":
        """EP1 (SURVEY.md §3): test → fit/predict → bank history."""
        if self.estimator is None:
            raise ValueError("call set_estimator first")
        if self.estimator == "combo":
            # reference estimator shape (models.py _forecast_combo):
            # set_estimator('combo'); manual_forecast(how='weighted',
            # models='top_3', determine_best_by=...) — models may be
            # 'all', an explicit list, or 'top_N' ranked by
            # determine_best_by
            how = kwargs.get("how", "simple")
            models = kwargs.get("models", "all")
            dbb = kwargs.get("determine_best_by", "ValidationMetricValue")
            if models == "all":
                models = [m for m in self.history if m != (call_me or "combo")]
            elif isinstance(models, str) and models.startswith("top_"):
                rank_by = dbb
                if dbb == "ValidationMetricValue" and not all(
                    self.history[m]["summary"].get("ValidationMetricValue")
                    is not None
                    for m in self.history
                    if m != (call_me or "combo")
                ):
                    rank_by = "TestSetRMSE"
                models = self.order_fcsts(rank_by)[: int(models.split("_")[1])]
            return self.combo(
                list(models), call_me=call_me or "combo", how=how,
                determine_best_by=dbb,
                weights=kwargs.get("weights"),
                replace_negative_weights=kwargs.get(
                    "replace_negative_weights", 0.001
                ),
                exclude_models_with_no_fvs=kwargs.get(
                    "exclude_models_with_no_fvs", True
                ),
            )
        name = call_me or self.estimator
        cell = self._kernel_cell_from_kwargs(kwargs)
        if cell is not None:
            return self._manual_forecast_fused(name, cell, kwargs)
        test_df = None
        test_metrics: dict[str, float] | None = None
        per_series_test = None
        widths = None
        if self.test_length:
            marked = _mark_test_rows(self.tsf.df, self.test_length)
            scored = self._run_model(marked, **dict(kwargs))
            test_df = scored.filter(F.col(IS_FUTURE) == 1).select(
                SERIES, DS, Y, "forecast"
            )
            test_df = test_df.cache()
            per_series_test, test_metrics = self._metric_summary(
                test_df, self.metrics
            )
            if getattr(self, "cis", True):  # eval_cis(mode=False) opts out
                widths = conformal_widths(
                    test_df, actual=Y, forecast="forecast",
                    cilevel=self.cilevel,
                )

        full = self._run_model(self.tsf.df, **dict(kwargs))
        fitted = full.filter(
            (F.col(IS_FUTURE) == 0) & F.col("forecast").isNotNull()
        ).select(SERIES, DS, Y, "forecast")
        fc = full.filter(F.col(IS_FUTURE) == 1).select(SERIES, DS, "forecast")
        if widths is not None:
            fc = apply_intervals(fc, widths)
        per_series_in, insample_metrics = self._metric_summary(
            fitted, self.metrics
        )

        summary = {"estimator": self.estimator, "hyperparams": dict(kwargs)}
        for m, v in (test_metrics or {}).items():
            summary[f"TestSet{m.upper()}"] = v
        for m, v in insample_metrics.items():
            summary[f"InSample{m.upper()}"] = v
        if self.validation_metric_value is not None:
            summary["ValidationMetricValue"] = self.validation_metric_value
        self.history[name] = {
            "forecast": fc,
            "fitted": fitted,
            "test_preds": test_df,
            # per-series metric frames stay LAZY DataFrames — MV
            # exports read them; the driver only ever collected the
            # one-row cross-series mean above
            "per_series_test_metrics": per_series_test,
            "per_series_insample_metrics": per_series_in,
            "summary": summary,
        }
        return self

    def _kernel_cell_from_kwargs(self, kwargs):
        """(fit_fn, normalizer, dynamic_testing) for the CURRENT
        estimator + manual_forecast kwargs when the estimator is
        kernel-backed and every kwarg maps onto its factory — the
        routing test for the fused test+full pass (run_kernel_testfull).
        Otherwise None: the generic two-pass path takes the call."""
        from scalecast_spark.models import KERNEL_FACTORIES, kernel_cell

        if self.estimator not in KERNEL_FACTORIES:
            return None
        try:
            return kernel_cell(
                self.estimator, {k: v for k, v in kwargs.items() if k != "Xvars"}
            )
        except TypeError:
            return None

    def _manual_forecast_fused(self, name, cell, kwargs) -> "Forecaster":
        """manual_forecast for kernel estimators via ONE fused Spark
        job (kernel.run_kernel_testfull): the test fit and the full
        fit run inside the same series task, and the tagged output is
        cached so the metric collect, the conformal widths, and the
        eventual forecast materialization all read one computed frame
        instead of re-running the kernel per action.

        The cached plan is SALTED with a per-invocation literal.
        Embedding a fresh Python function does not make a call's plan
        unique: cloudpickle is deterministic, so a same-args re-fit
        builds a plan-EQUAL frame (CacheManager logs "already
        cached"), and without the salt (a) a later identical call
        would be served the previous call's warm entry, (b)
        unpersisting the old registry entry would un-cache the new one
        (the _scratch_cache docstring bug). The salt makes every
        invocation's cached plan unique, so each call computes from the
        inputs and the swap below is safe."""
        from scalecast_spark.models.kernel import run_kernel_testfull

        fit_fn, norm, dyn = cell
        xvars = kwargs.get("Xvars")
        if xvars is None:
            xvars = (
                [] if _exog_optional(self.estimator)
                else list(self.tsf.features)
            )
        elif xvars == "all":
            xvars = list(self.tsf.features)
        from scalecast_spark.datapipe.dedup import _scratch_cache

        salted = run_kernel_testfull(
            self.tsf.df, list(xvars), fit_fn, int(self.test_length or 0),
            dynamic_testing=dyn, normalizer=norm,
        ).withColumn("_inv_salt", F.lit(next(_INVOCATION_COUNTER)))
        # registered in the global one-live-entry registry BY NICKNAME
        # as well as on the object: a Forecaster dropped without
        # pop()/release_model_caches() (e.g. a fresh object per call
        # in a loop) no longer pins one InMemoryRelation per call —
        # the next fit under the same nickname anywhere in the process
        # evicts it (the evicted object's history frames recompute
        # lazily if still read; correctness unaffected)
        _scratch_cache(f"fused::{name}", salted.cache())
        fused = salted.drop("_inv_salt")
        # release path: a re-fit under the same nickname replaces its
        # history entry, so the old cached frame would be unreachable —
        # unpersist it (the entry's consumers
        # recompute lazily if some external reference still reads it;
        # correctness unaffected, only recompute cost)
        self._release_fused(name)
        self._fused_caches[name] = salted
        test_df = None
        test_metrics: dict[str, float] | None = None
        per_series_test = None
        widths = None
        if self.test_length:
            test_df = fused.filter(F.col("_arm") == "test").select(
                SERIES, DS, Y, "forecast"
            )
            if getattr(self, "cis", True):
                widths = conformal_widths(
                    test_df, actual=Y, forecast="forecast",
                    cilevel=self.cilevel,
                )
        full = fused.filter(F.col("_arm") == "full")
        fitted = full.filter(
            (F.col(IS_FUTURE) == 0) & F.col("forecast").isNotNull()
        ).select(SERIES, DS, Y, "forecast")
        fc = full.filter(F.col(IS_FUTURE) == 1).select(SERIES, DS, "forecast")
        if widths is not None:
            fc = apply_intervals(fc, widths)
        # the test-set and in-sample metric summaries collect in ONE
        # job: union-arming the two 1-row aggregates keeps each arm's
        # own aggregation plan, so every value is bit-identical to a
        # separate _metric_summary collect per frame.
        if test_df is not None:
            per_series_test = METRICS.evaluate(
                test_df, actual=Y, forecast="forecast", by=[SERIES],
                metrics=self.metrics,
            )
        per_series_in = METRICS.evaluate(
            fitted, actual=Y, forecast="forecast", by=[SERIES],
            metrics=self.metrics,
        )

        def _arm(per, tag):
            return per.agg(
                *[F.avg(m).alias(m) for m in self.metrics]
            ).select(F.lit(tag).alias("_k"), *self.metrics)

        arms = _arm(per_series_in, "in")
        if per_series_test is not None:
            arms = _arm(per_series_test, "test").unionByName(arms)
        by_k = {r["_k"]: r for r in arms.collect()}

        def _vals(row):
            return {
                m: (float(row[m]) if row[m] is not None else float("nan"))
                for m in self.metrics
            }

        insample_metrics = _vals(by_k["in"])
        if per_series_test is not None:
            test_metrics = _vals(by_k["test"])
        self.history[name] = {
            "forecast": fc,
            "fitted": fitted,
            "test_preds": test_df,
            "per_series_test_metrics": per_series_test,
            "per_series_insample_metrics": per_series_in,
            "summary": self._fused_summary(
                kwargs, test_metrics, insample_metrics
            ),
        }
        return self

    def _fused_summary(self, kwargs, test_metrics, insample_metrics):
        summary = {"estimator": self.estimator, "hyperparams": dict(kwargs)}
        for m, v in (test_metrics or {}).items():
            summary[f"TestSet{m.upper()}"] = v
        for m, v in insample_metrics.items():
            summary[f"InSample{m.upper()}"] = v
        if self.validation_metric_value is not None:
            summary["ValidationMetricValue"] = self.validation_metric_value
        return summary

    def tune_test_forecast(self, models: list[str], **kwargs) -> "Forecaster":
        """Method form of :func:`scalecast_spark.selection.
        tune_test_forecast` (the reference exposes BOTH — the method
        at Forecaster.py:1458 and the multiseries helper; the README's
        primary example uses ``f.tune_test_forecast([...])``)."""
        from scalecast_spark.selection import tune_test_forecast as _ttf

        return _ttf(self, models, **kwargs)

    def auto_Xvar_select(self, **kwargs) -> list[str]:
        """Method form of :func:`scalecast_spark.selection.
        auto_Xvar_select` (reference Forecaster.auto_Xvar_select,
        Forecaster.py:658-1163). Unknown estimator kwargs (alpha=,
        decomp_trend=, ...) pass through to the search estimator."""
        from scalecast_spark.selection import auto_Xvar_select as _axs

        return _axs(self, **kwargs)

    def reduce_Xvars(self, **kwargs):
        """Method form of :func:`scalecast_spark.selection.
        reduce_Xvars` (reference Forecaster.reduce_Xvars)."""
        from scalecast_spark.selection import reduce_Xvars as _rxv

        return _rxv(self, **kwargs)

    def determine_best_series_length(self, **kwargs):
        """Method form of :func:`scalecast_spark.selection.
        determine_best_series_length` (reference
        Forecaster.determine_best_series_length)."""
        from scalecast_spark.selection import (
            determine_best_series_length as _dbsl,
        )

        return _dbsl(self, **kwargs)

    # --------------------------- low-level estimator API
    # (reference _Forecaster_parent.py:840-945: init_estimator -> fit
    # -> predict / predict_fitted_vals — the step-by-step form of
    # manual_forecast for users who want the raw arrays)
    def init_estimator(self, estimator: str | None = None, **kwargs) -> "Forecaster":
        """Bind the estimator + hyperparams without running anything
        (reference init_estimator, _Forecaster_parent.py:840-902)."""
        if estimator is not None:
            self.set_estimator(estimator)
        if self.estimator is None:
            raise ValueError("set an estimator first")
        self._call_estimator_kwargs = dict(kwargs)
        self._call_estimator_scored = None
        return self

    def fit(self, **fit_params) -> "Forecaster":
        """Run the bound estimator over the frame (one kernel pass —
        Spark has no separate fit/predict split, so the scored frame
        is computed here and served by the predict methods; reference
        fit(), _Forecaster_parent.py:903-917)."""
        kw = {**getattr(self, "_call_estimator_kwargs", {}), **fit_params}
        prev = getattr(self, "_call_estimator_scored", None)
        if prev is not None:
            prev.unpersist()  # one live scored frame per object
        self._call_estimator_scored = self._run_model(self.tsf.df, **kw).cache()
        return self

    def _predict_rows(self, future: bool) -> list:
        scored = getattr(self, "_call_estimator_scored", None)
        if scored is None:
            raise ValueError("call fit() first")
        rows = (
            scored.filter(F.col(IS_FUTURE) == (1 if future else 0))
            .filter(F.col("forecast").isNotNull())
            .orderBy(SERIES, DS)
            .select(SERIES, "forecast")
            .collect()
        )
        sids = {r[SERIES] for r in rows}
        if len(sids) > 1:
            # multi-series: a flat list would interleave series —
            # return the reference-list shape per series instead
            out: dict = {}
            for r in rows:
                out.setdefault(r[SERIES], []).append(float(r["forecast"]))
            return out
        return [float(r["forecast"]) for r in rows]

    def predict(self, **predict_params) -> list:
        """Horizon forecasts as list[float] (single series) or
        {series: list[float]} (reference predict,
        _Forecaster_parent.py:918-930)."""
        return self._predict_rows(future=True)

    def predict_fitted_vals(self, **predict_params) -> list:
        """In-sample fitted values (reference predict_fitted_vals,
        _Forecaster_parent.py:931-945)."""
        return self._predict_rows(future=False)

    def auto_forecast(self, call_me: str | None = None) -> "Forecaster":
        """reference _Forecaster_parent.py:819-867."""
        if self.best_params is None:
            self.best_params = {}
        out = self.manual_forecast(call_me=call_me, **self.best_params)
        # bank the validation grid with the model it tuned (reference
        # history['...']['grid_evaluated']) so export_validation_grid
        # works per model, not just for the last-tuned estimator
        ge = getattr(self, "grid_evaluated", None)
        if ge:
            self.history[call_me or self.estimator]["grid_evaluated"] = ge
        return out

    def transfer_predict(
        self,
        transfer_from: "Forecaster",
        model: str,
        call_me: str | None = None,
        save_to_history: bool = True,
        return_series: bool = False,
    ) -> "Forecaster":
        """Predict THIS object's series with a model trained on
        ANOTHER object's data — the reference ``transfer_predict``
        (_Forecaster_parent.py:1869-1943). The reference reuses its
        pickled in-memory regressor; this engine keeps no driver-side
        fitted object (100M series would not fit one), so the
        Spark-native translation is a COGROUPED kernel
        (models/kernel.transfer_kernel): per series, fit on the
        source object's rows and apply to this object's rows inside
        one Arrow task — trained-parameter reuse without retraining
        on this object's data, fully distributed.

        Supported for the kernel estimator family (the reference
        limits it to sklearn-API models the same way). Requires this
        object to carry the source model's feature columns — transfer
        the recipe first (``infer_apply_Xvar_selection``). TestSet
        metrics are computed by transferring onto the marked test
        frame (the source model recursively predicts this object's
        test span), matching manual_forecast's evaluation shape."""
        from scalecast_spark.models import KERNEL_FACTORIES, MODELS
        from scalecast_spark.models.kernel import transfer_kernel

        if model not in transfer_from.history:
            raise ValueError(f"{model!r} not evaluated on transfer_from")
        summary = transfer_from.history[model]["summary"]
        est = summary["estimator"]
        if est not in KERNEL_FACTORIES:
            raise ValueError(
                f"transfer_predict supports the kernel estimator family "
                f"{sorted(KERNEL_FACTORIES)}; {est!r} is not in it"
            )
        hp = dict(summary.get("hyperparams") or {})
        xvars = hp.pop("Xvars", None)
        dyn = hp.pop("dynamic_testing", True)
        # the normalizer the source run actually used: explicit
        # hyperparam, else the adapter's own default (e.g. ridge_model
        # defaults to 'minmax')
        import inspect

        sig = inspect.signature(MODELS[est]).parameters
        normalizer = hp.pop(
            "normalizer",
            sig["normalizer"].default if "normalizer" in sig else None,
        )
        if xvars is None or xvars == "all":
            feats = list(transfer_from.tsf.features)
        else:
            feats = list(xvars)
        missing = [c for c in feats if c not in self.tsf.features]
        if missing:
            raise ValueError(
                f"transfer target lacks feature columns {missing}; apply "
                f"the source's feature recipe first "
                f"(infer_apply_Xvar_selection)"
            )
        fit_fn = KERNEL_FACTORIES[est](**hp)
        src = transfer_from.tsf.df
        name = call_me or model

        test_df = None
        test_metrics: dict[str, float] | None = None
        per_series_test = None
        widths = None
        if self.test_length:
            marked = _mark_test_rows(self.tsf.df, self.test_length)
            scored = transfer_kernel(
                src, marked, feats, fit_fn,
                dynamic_testing=dyn, normalizer=normalizer,
            )
            test_df = scored.filter(F.col(IS_FUTURE) == 1).select(
                SERIES, DS, Y, "forecast"
            ).cache()
            per_series_test, test_metrics = self._metric_summary(
                test_df, self.metrics
            )
            if getattr(self, "cis", True):  # eval_cis(mode=False) opts out
                widths = conformal_widths(
                    test_df, actual=Y, forecast="forecast",
                    cilevel=self.cilevel,
                )

        full = transfer_kernel(
            src, self.tsf.df, feats, fit_fn,
            dynamic_testing=dyn, normalizer=normalizer,
        )
        fitted = full.filter(
            (F.col(IS_FUTURE) == 0) & F.col("forecast").isNotNull()
        ).select(SERIES, DS, Y, "forecast")
        fc = full.filter(F.col(IS_FUTURE) == 1).select(SERIES, DS, "forecast")
        if widths is not None:
            fc = apply_intervals(fc, widths)
        per_series_in, insample_metrics = self._metric_summary(
            fitted, self.metrics
        )
        out_summary = {
            "estimator": est,
            "hyperparams": dict(summary.get("hyperparams") or {}),
            "transferred_from": model,
        }
        for m, v in (test_metrics or {}).items():
            out_summary[f"TestSet{m.upper()}"] = v
        for m, v in insample_metrics.items():
            out_summary[f"InSample{m.upper()}"] = v
        if save_to_history:
            self.history[name] = {
                "forecast": fc,
                "fitted": fitted,
                "test_preds": test_df,
                "per_series_test_metrics": per_series_test,
                "per_series_insample_metrics": per_series_in,
                "summary": out_summary,
            }
        if return_series:
            # reference return_series=True hands back the horizon
            # predictions as a pandas Series indexed by date
            # (_Forecaster_parent.py transfer_predict) — driver-side
            # by contract (horizon-sized)
            import pandas as pd

            pdf = fc.orderBy(DS).toPandas()
            if pdf[SERIES].nunique() <= 1:
                return pd.Series(
                    pdf["forecast"].to_numpy(), index=pd.Index(pdf[DS], name=DS)
                )
            return fc
        return self

    # ------------------------------------------------------ tuning
    def set_grids_file(self, name: str = "Grids") -> "Forecaster":
        """Name the importable module grids load from by NAME
        (reference _Forecaster_parent.py:1296-1316: a ``Grids.py``
        next to the user's script holding dict-of-lists grids). Used
        by ``ingest_grid('some_name')``; the engine's built-in
        DEFAULT_GRIDS remain the fallback."""
        self.grids_file = name
        return self

    def ingest_grid(self, grid: dict[str, list] | str) -> "Forecaster":
        """dict-of-lists → cartesian product
        (reference _Forecaster_parent.py:1050-1094). A STRING looks
        the grid up by name — first in the module named by
        ``set_grids_file`` (the reference's Grids-file contract), then
        in the engine's DEFAULT_GRIDS."""
        if isinstance(grid, str):
            gname, found = grid, None
            mod = getattr(self, "grids_file", None)
            if mod:
                import importlib

                found = getattr(importlib.import_module(mod), gname, None)
            if found is None:
                from scalecast_spark.grids import DEFAULT_GRIDS

                found = DEFAULT_GRIDS.get(gname)
            if found is None:
                raise ValueError(
                    f"no grid named {gname!r} in "
                    f"{mod or '(no grids file set)'} or DEFAULT_GRIDS"
                )
            grid = found
        keys = list(grid)
        self.grid = [
            dict(zip(keys, combo)) for combo in itertools.product(*grid.values())
        ]
        return self

    def limit_grid_size(
        self, n, random_seed: int | None = None, min_grid_size: int = 1,
    ) -> "Forecaster":
        """reference _Forecaster_parent.py:1096-1131 (count or
        fraction; ``min_grid_size`` floors a fractional cut)."""
        if self.grid is None:
            raise ValueError("no grid ingested")
        rng = random.Random(random_seed)
        size = int(len(self.grid) * n) if isinstance(n, float) and n <= 1 else int(n)
        size = max(min(max(size, int(min_grid_size)), len(self.grid)), 1)
        self.grid = rng.sample(self.grid, size)
        return self

    def _eval_fold(
        self, fold_df: DataFrame, params: dict,
        dynamic_testing: bool | int | None = None,
    ) -> float:
        """Per-series metrics aggregated by the optimize_on rule
        (reference MVForecaster optimizer_funcs, MVForecaster.py:151-156,
        485-489): 'mean' (default) / 'min' / 'max' / a registered custom
        func / a series_id. The built-in aggregators run as a second
        Spark aggregate — one row reaches the driver regardless of
        n_series; only a custom callable collects the per-series values
        (one float per series, by contract)."""
        kwargs = dict(params)
        if dynamic_testing is not None and self._model_accepts("dynamic_testing"):
            kwargs.setdefault("dynamic_testing", dynamic_testing)
        scored = self._run_model(fold_df, **kwargs)
        test = scored.filter(F.col(IS_FUTURE) == 1)
        how = getattr(self, "_optimize_on", "mean")
        mcol = self.validation_metric
        per = METRICS.evaluate(
            test, actual=Y, forecast="forecast", by=[SERIES], metrics=[mcol]
        )
        if how in self._expr_optimizers:
            # distributed custom aggregate: ONE row to the driver
            v = per.agg(self._expr_optimizers[how](mcol).alias("_v")).collect()[0][0]
            return float(v) if v is not None else float("nan")
        if how in self._custom_optimizers:
            cap = int(self.max_optimizer_collect)
            rows = per.orderBy(SERIES).limit(cap + 1).collect()
            if len(rows) > cap:
                raise RuntimeError(
                    f"custom optimizer {how!r} would collect more than "
                    f"{cap} per-series metric rows to the driver; register "
                    "a distributed aggregate via add_optimizer_expr, use "
                    "mean/min/max, or raise max_optimizer_collect"
                )
            # positional custom funcs (reference weighted_series(x):
            # x[0]*.75 + x[1]*.25) need a DETERMINISTIC order — the
            # MVForecaster input order when known, else series_id sort
            order = getattr(self, "_mv_series_order", None)
            if order:
                pos = {s: i for i, s in enumerate(order)}
                rows = sorted(
                    rows, key=lambda r: pos.get(r[SERIES], len(pos))
                )
            vals = [r[mcol] for r in rows if r[mcol] is not None]
            return float(self._custom_optimizers[how](vals)) if vals else float("nan")
        if how in self.OPTIMIZER_FUNCS:
            agg = {"mean": F.avg, "min": F.min, "max": F.max}[how](mcol)
            v = per.agg(agg).collect()[0][0]
        else:  # a series_id — optimize on that one series
            rows = per.filter(F.col(SERIES) == how).collect()
            v = rows[0][mcol] if rows else None
        return float(v) if v is not None else float("nan")

    def _grid_cells(self, dynamic_tuning):
        """(fit_fn, normalizer, dynamic_testing) triples for the whole
        grid, or None when the grid can't be batch-evaluated (non-kernel
        estimator, custom optimizer that collects per-series values,
        per-cell Xvars changing the design matrix, or a grid key the
        kernel factory does not take — the generic path handles it)."""
        from scalecast_spark.models import KERNEL_FACTORIES, kernel_cell

        how = getattr(self, "_optimize_on", "mean")
        if (
            self.estimator not in KERNEL_FACTORIES
            or how in self._custom_optimizers
            or how in self._expr_optimizers
            or any("Xvars" in p for p in self.grid)
        ):
            return None
        try:
            return [
                kernel_cell(self.estimator, params, dynamic_tuning)
                for params in self.grid
            ]
        except TypeError:
            return None

    def _eval_cv_kernel(
        self, base: DataFrame, cells, k: int, test_length: int, space: int,
        aside: int, train_length: int | None, n_series: int | None = None,
    ) -> tuple[list[list[float]], list[tuple[int, int, str]]]:
        """Score the whole (fold × grid) matrix in ONE Spark job: the CV
        kernel emits (fold, cell, series, ds, y, forecast, error) for
        every holdout row, metrics reduce per (fold, cell, series), and
        the optimize_on rule reduces again per (fold, cell) over the
        series whose fit succeeded — about k × |grid| rows reach the
        driver. Returns ``(scores, failed)``: scores[grid_index][fold],
        and the sorted (fold, cell, first message) of every fold × cell
        whose fit raised on some series. ``n_series`` lets the kernel
        split tasks across (series × fold × cell-chunk) when series
        alone underfills the cluster."""
        from scalecast_spark.models.kernel import run_kernel_cv

        out = run_kernel_cv(
            base, list(self.tsf.features), cells, k, test_length, space,
            aside=aside, train_length=train_length, n_series=n_series,
        )
        how = getattr(self, "_optimize_on", "mean")
        mcol = self.validation_metric
        # a window's _error is constant over its rows, so as a group key
        # it splits each (fold, cell) into its fitted series (NULL) and
        # one group per failure message
        per = METRICS.evaluate(
            out, actual=Y, forecast="forecast",
            by=["_fold", "_cell", SERIES, "_error"], metrics=[mcol],
        )
        if how in self.OPTIMIZER_FUNCS:
            score = {"mean": F.avg, "min": F.min, "max": F.max}[how](mcol)
        else:  # a series_id — optimize on that one series
            score = F.max(F.when(F.col(SERIES) == how, F.col(mcol)))
        rows = per.groupBy("_fold", "_cell", "_error").agg(
            score.alias(mcol)
        ).collect()
        by_cell = {
            (r["_fold"], r["_cell"]): r[mcol]
            for r in rows if r["_error"] is None
        }
        errors: dict = {}
        for r in rows:
            if r["_error"] is not None:
                key = (r["_fold"], r["_cell"])
                errors[key] = min(errors.get(key, r["_error"]), r["_error"])
        scores = [
            [
                float(by_cell[(fold, ci)])
                if by_cell.get((fold, ci)) is not None else float("nan")
                for fold in range(k)
            ]
            for ci in range(len(cells))
        ]
        return scores, sorted((f, c, m) for (f, c), m in errors.items())

    def cross_validate(
        self, k: int = 5, test_length: int | None = None,
        train_length: int | None = None, space_between_sets: int | None = None,
        rolling: bool = False,
        set_aside_test_set: bool = True,
        dynamic_tuning: bool | int = False,
        verbose: bool = False, max_workers: int | None = None,
    ) -> "Forecaster":
        """Rolling-origin CV (reference _Forecaster_parent.py:1693-1867).

        Fold i (0-based) holds out rows (cut_i, cut_i + test_length]
        where cut_i slides back by ``space_between_sets``.
        ``set_aside_test_set`` (reference default True) excludes the
        final ``self.test_length`` rows from EVERY fold, so
        hyperparameters are never tuned on the held-out test set.
        ``dynamic_tuning`` threads to the kernel's dynamic_testing
        (False = one-step-ahead validation, the reference default).

        Fold isolation without the reference's per-fold deepcopy: for
        kernel-backed estimators the WHOLE (fold × grid) matrix
        evaluates in ONE Spark job (kernel.run_kernel_cv slices folds
        inside each series task — one scan + one shuffle total);
        otherwise each fold is a FILTER over the cached feature frame
        and all (grid × fold) cells are independent Spark actions,
        submitted CONCURRENTLY from a bounded driver thread pool
        (run_jobs docstring). On the kernel path a fit that raises
        scores its (fold, grid cell) without that window; one
        RuntimeWarning names the estimator, the first failing cell's
        params and its exception.
        """
        if self.grid is None:
            # the reference auto-ingests the estimator's grid from the
            # grids file / defaults (_Forecaster_parent.py:1746-1747)
            if self.estimator:
                self.ingest_grid(self.estimator)
            else:
                raise ValueError("ingest a grid first")
        how = getattr(self, "_optimize_on", "mean")
        if how in self._custom_optimizers:
            # fail loudly UP FRONT: a callable optimizer collects one
            # metric row per series per cell, and inside the tuning job
            # pool the error would be degraded to a NaN score (on_error
            # ="nan") — indistinguishable from bad data. One id-column
            # aggregate decides before any tuning job launches.
            cap = int(self.max_optimizer_collect)
            n_series = self.tsf.df.select(SERIES).distinct().limit(
                cap + 1
            ).count()
            if n_series > cap:
                raise RuntimeError(
                    f"custom optimizer {how!r} would collect more than "
                    f"{cap} per-series metric rows to the driver per grid "
                    "cell; register a distributed aggregate via "
                    "add_optimizer_expr, use mean/min/max, or raise "
                    "max_optimizer_collect"
                )
        from scalecast_spark.functions.parallel import run_jobs

        n_series, n_obs = self._series_stats()
        aside = self.test_length if set_aside_test_set else 0
        usable = max(n_obs - aside, 2)
        test_length = test_length or max(usable // (k + 1), 1)
        if rolling and train_length is None:
            # reference rolling CV: every train window is the same size
            # as the test window (_Forecaster_parent.py:1763-1764)
            train_length = test_length
        space = space_between_sets or test_length
        base = self.tsf.df
        cells = self._grid_cells(dynamic_tuning)

        if cells is not None:
            # kernel-backed estimator: ALL folds × ALL grid cells in
            # ONE Spark job (kernel.run_kernel_cv slices each fold
            # inside the series task and amortizes the per-cell numpy
            # fits) — CV cost is one scan + one shuffle regardless of
            # k or |grid|; the driver receives k × |grid| score rows.
            # No cache: the job reads base exactly once. Per-cell fit
            # failures score NaN inside the kernel and are reported in
            # one RuntimeWarning; a job-level failure degrades to an
            # all-NaN matrix like the generic path's on_error="nan".
            try:
                scores, failed = self._eval_cv_kernel(
                    base, cells, k, test_length, space, aside, train_length,
                    n_series=n_series,
                )
            except Exception as e:
                # degrade to NaN like the generic path's on_error="nan",
                # but SURFACE the root cause — otherwise a genuine bug
                # (bad validation_metric, schema drift, py4j error) is
                # indistinguishable from degenerate data when the later
                # all-NaN RuntimeError fires
                warnings.warn(
                    f"kernel CV job failed ({type(e).__name__}: "
                    f"{str(e)[:300]}); scoring all cells NaN",
                    stacklevel=2,
                )
                scores = [
                    [float("nan")] * k for _ in range(len(self.grid))
                ]
            else:
                if failed:
                    fold, ci, msg = failed[0]
                    warnings.warn(
                        f"cross_validate: {self.estimator} fit raised in "
                        f"{len(failed)} of {k * len(cells)} (fold, grid "
                        f"cell) evaluations; first: params "
                        f"{self.grid[ci]!r}, fold {fold}: {msg}",
                        RuntimeWarning,
                        stacklevel=2,
                    )
        else:
            # |grid| x k jobs share base — cache it for the duration
            base = base.cache()
            fold_frames: list[DataFrame] = []
            for fold in range(k):
                chop = aside + fold * space
                fold_frame = base
                if chop:
                    w = W.partitionBy(SERIES).orderBy(F.desc(DS))
                    fold_frame = (
                        base.filter(F.col(IS_FUTURE) == 0)
                        .withColumn("_rev", F.row_number().over(w))
                        .filter(F.col("_rev") > chop)
                        .drop("_rev")
                    )
                marked = _mark_test_rows(fold_frame, test_length)
                if train_length:
                    w2 = W.partitionBy(SERIES).orderBy(F.desc(DS))
                    marked = (
                        marked.withColumn("_rev", F.row_number().over(w2))
                        .filter(F.col("_rev") <= train_length + test_length)
                        .drop("_rev")
                    )
                fold_frames.append(marked)
            # per-cell path: |grid| jobs share each fold, so cache the
            # fold frames and materialize each cache before concurrent
            # cells race to fill it (Spark computes uncached partitions
            # per-job) — the k counts are independent jobs, run
            # together.
            fold_frames = [m.cache() for m in fold_frames]
            run_jobs([(lambda m=m: m.count()) for m in fold_frames],
                     max_workers=max_workers)
            thunks = [
                (lambda m=fold_frames[fold], p=params: self._eval_fold(
                    m, p, dynamic_testing=dynamic_tuning
                ))
                for gi, params in enumerate(self.grid)
                for fold in range(k)
            ]
            flat = run_jobs(thunks, max_workers=max_workers, on_error="nan")
            scores = [
                [float(flat[gi * k + fold]) for fold in range(k)]
                for gi in range(len(self.grid))
            ]
        if verbose:
            for gi, row in enumerate(scores):
                for fold, v in enumerate(row):
                    print(f"fold {fold} grid {gi}: {v}")
        if cells is None:
            for m in fold_frames:
                m.unpersist()
            base.unpersist()
        self.grid_evaluated = [
            {"params": p, "scores": row} for p, row in zip(self.grid, scores)
        ]
        means = [
            (sum(v for v in row if not math.isnan(v))
             / max(sum(1 for v in row if not math.isnan(v)), 1))
            if any(not math.isnan(v) for v in row) else float("nan")
            for row in scores
        ]
        lower_better = METRICS.LOWER_IS_BETTER.get(self.validation_metric, True)
        valid = [(i, v) for i, v in enumerate(means) if not math.isnan(v)]
        if not valid:
            raise RuntimeError("all CV evaluations failed")
        best_i = (min if lower_better else max)(valid, key=lambda t: t[1])[0]
        self.best_params = self.grid[best_i]
        self.validation_metric_value = means[best_i]
        return self

    def tune(self, dynamic_tuning: bool | int = False) -> "Forecaster":
        """1-fold CV on the validation slice immediately PRECEDING the
        held-out test set (reference _Forecaster_parent.py:1659-1691;
        set_aside_test_set semantics keep TestSet metrics unbiased).
        ``dynamic_tuning=False`` (reference default) validates
        one-step-ahead; True/int goes through the recursive path."""
        return self.cross_validate(
            k=1, test_length=self.validation_length,
            dynamic_tuning=dynamic_tuning,
        )

    # ------------------------------------------------------- combo
    def combo(
        self, models: list[str], call_me: str = "combo", how: str = "simple",
        determine_best_by: str = "ValidationMetricValue",
        weights: list[float] | None = None,
        replace_negative_weights: bool | float = 0.001,
        exclude_models_with_no_fvs: bool = True,
    ) -> "Forecaster":
        """Ensemble of banked models (reference models.py Combo,
        models.py:1493-1648). ``how='weighted'`` weights by the
        ``determine_best_by`` metric — reference default
        'ValidationMetricValue' (models.py:1525); when any member
        lacks a banked validation score we warn and fall back to
        TestSetRMSE. ``weights=`` supplies explicit weights (length
        must match ``models``; normalized w/sum(w) like the reference,
        models.py:1621). ``replace_negative_weights=`` replicates the
        reference's negative-score replacement (models.py:1614-1617;
        skipped for lower-is-better metrics, ``False`` disables)."""
        from scalecast_spark.models.combo import combo_forecast, derive_weights

        stacked = None
        for m in models:
            fcm = self.history[m]["forecast"].select(
                F.lit(m).alias("model"), SERIES, DS, "forecast"
            )
            stacked = fcm if stacked is None else stacked.unionByName(fcm)
        if how == "weighted":
            if weights is not None:
                if len(weights) != len(models):
                    raise ValueError(
                        "When how is weighted and weights are provided, the "
                        "number of provided weights must match the number of "
                        "provided models"
                    )
                total = sum(weights)
                weights = [w / total for w in weights]
            else:
                dbb = determine_best_by
                if dbb == "ValidationMetricValue" and not all(
                    self.history[m]["summary"].get("ValidationMetricValue")
                    is not None
                    for m in models
                ):
                    warnings.warn(
                        "not every combo member has a banked "
                        "ValidationMetricValue (tune models to bank one); "
                        "weighting by TestSetRMSE instead",
                        stacklevel=2,
                    )
                    dbb = "TestSetRMSE"
                if dbb == "ValidationMetricValue":
                    scores = [
                        self.history[m]["summary"]["ValidationMetricValue"]
                        for m in models
                    ]
                    lower = METRICS.LOWER_IS_BETTER.get(
                        self.validation_metric, True
                    )
                else:
                    metric = (
                        dbb.replace("TestSet", "").replace("InSample", "")
                        .lower()
                    )
                    scores = [
                        self.history[m]["summary"][dbb] for m in models
                    ]
                    lower = METRICS.LOWER_IS_BETTER.get(metric, True)
                weights = derive_weights(
                    scores, lower, replace_negative_weights
                )
        else:
            weights = None
        fc = combo_forecast(stacked, models, weights, normalize=False)
        # combo test-set predictions = same average over member test
        # predictions → TestSet metrics (reference models.py:1557-1583)
        summary = {
            "estimator": "combo",
            "hyperparams": {
                "models": models, "how": how,
                "determine_best_by": determine_best_by,
                "weights": weights,
            },
        }
        test_df = None
        member_tests = [
            self.history[m]["test_preds"] for m in models
            if self.history[m]["test_preds"] is not None
        ]
        if len(member_tests) == len(models):
            stacked_t = None
            for m in models:
                tp = self.history[m]["test_preds"].select(
                    F.lit(m).alias("model"), SERIES, DS, Y, "forecast"
                )
                stacked_t = tp if stacked_t is None else stacked_t.unionByName(tp)
            test_fc = combo_forecast(stacked_t, models, weights, normalize=False)
            actuals = member_tests[0].select(SERIES, DS, Y)
            test_df = test_fc.join(actuals, [SERIES, DS])
            _, combo_metrics = self._metric_summary(test_df, self.metrics)
            for m, v in combo_metrics.items():
                if not math.isnan(v):
                    summary[f"TestSet{m.upper()}"] = v
        # in-sample fitted values (reference Combo.generate_current_X,
        # models.py:1568-1583): member FittedVals averaged with the
        # same weights, trimmed to rows where EVERY contributing
        # member has a fitted value (the reference's min_length tail
        # trim, expressed as a per-(series, ds) completeness filter).
        # exclude_models_with_no_fvs=True (reference default) drops
        # fitted-less members from the in-sample average; False means
        # fitted values are only produced when every member has them
        # (the reference would mis-broadcast there — divergence
        # documented: we renormalize the surviving members' weights).
        fitted = None
        have = [
            (m, self.history[m].get("fitted")) for m in models
            if self.history[m].get("fitted") is not None
        ]
        use = have if exclude_models_with_no_fvs else (
            have if len(have) == len(models) else []
        )
        if use:
            use_models = [m for m, _ in use]
            stacked_f = None
            for m, fdf in use:
                part = fdf.filter(F.col("forecast").isNotNull()).select(
                    F.lit(m).alias("model"), SERIES, DS, "forecast"
                )
                stacked_f = part if stacked_f is None else (
                    stacked_f.unionByName(part)
                )
            if weights is None:
                wcol = F.lit(1.0 / len(use_models))
            else:
                sel = dict(zip(models, weights))
                w_use = [sel[m] for m in use_models]
                if len(use_models) != len(models):
                    tot = sum(w_use)
                    w_use = [w / tot for w in w_use]
                wcol = F.coalesce(*[
                    F.when(F.col("model") == m, F.lit(w))
                    for m, w in zip(use_models, w_use)
                ])
            fit_fc = (
                stacked_f.withColumn("_w", wcol)
                .groupBy(SERIES, DS)
                .agg(
                    F.sum(F.col("forecast") * F.col("_w")).alias("forecast"),
                    F.count("*").alias("_k"),
                )
                .filter(F.col("_k") == len(use_models))
                .drop("_k")
            )
            fitted = fit_fc.join(
                self.tsf.observed.select(SERIES, DS, Y), [SERIES, DS]
            )
            _, insample_metrics = self._metric_summary(fitted, self.metrics)
            for m, v in insample_metrics.items():
                if not math.isnan(v):
                    summary[f"InSample{m.upper()}"] = v
        self.history[call_me] = {
            "forecast": fc,
            "fitted": fitted,
            "test_preds": test_df,
            "summary": summary,
        }
        return self

    def synthesize_models(
        self, models: list[str], call_me: str = "synth", cilevel: float | None = None
    ) -> "Forecaster":
        """Average ≥2 models with normal-approx CIs from the
        cross-model standard error (reference synthesize_models,
        Forecaster.py:217-259): bounds = mean ± z * std/sqrt(n)."""
        from scalecast_spark.functions.normal import two_sided_z

        cilevel = cilevel or self.cilevel
        z = two_sided_z(cilevel)  # exact inverse-normal for ANY level
        stacked = None
        for m in models:
            fc = self.history[m]["forecast"].select(
                SERIES, DS, F.col("forecast").alias("_f")
            )
            stacked = fc if stacked is None else stacked.unionByName(fc)
        out = stacked.groupBy(SERIES, DS).agg(
            F.avg("_f").alias("forecast"),
            (F.stddev_samp("_f") / F.sqrt(F.count("_f"))).alias("_se"),
        )
        out = (
            out.withColumn("upper", F.col("forecast") + z * F.col("_se"))
            .withColumn("lower", F.col("forecast") - z * F.col("_se"))
            .drop("_se")
        )
        self.history[call_me] = {
            "forecast": out,
            "fitted": None,
            "test_preds": None,
            "summary": {
                "estimator": "synthesize",
                "hyperparams": {"models": models, "cilevel": cilevel},
            },
        }
        return self

    # -------------------------------------------------------- plots
    # Presentation tier (reference Forecaster.py:1320-2063): each
    # method computes its plot payload as one distributed frame and
    # ALWAYS returns it; drawing happens only when matplotlib is
    # importable (render=True), so the API is useful headless.
    def plot(
        self,
        models: list[str] | None = None,
        ci: bool = False,
        render: bool = True,
        path: str | None = None,
    ) -> DataFrame:
        """reference plot (Forecaster.py:1790-1886): history +
        forecast overlay with optional conformal bands."""
        from scalecast_spark import plotting as P

        frame = P.forecast_plot_frame(self, models, ci=ci)
        if render:
            P.render_lines(frame, path=path, title="Forecasts")
        return frame

    def plot_test_set(
        self,
        models: list[str] | None = None,
        include_train: bool = True,
        render: bool = True,
        path: str | None = None,
    ) -> DataFrame:
        """reference plot_test_set (Forecaster.py:1887-1998)."""
        from scalecast_spark import plotting as P

        frame = P.test_set_plot_frame(self, models, include_train)
        if render:
            P.render_lines(frame, path=path, title="Test-set predictions")
        return frame

    def plot_fitted(
        self,
        models: list[str] | None = None,
        render: bool = True,
        path: str | None = None,
    ) -> DataFrame:
        """reference plot_fitted (Forecaster.py:1999-2063)."""
        from scalecast_spark import plotting as P

        frame = P.fitted_plot_frame(self, models)
        if render:
            P.render_lines(frame, path=path, title="Fitted values")
        return frame

    def plot_acf(
        self,
        diffy: bool = False,
        train_only: bool = False,
        nlags: int = 24,
        alpha: float | None = 0.05,
        render: bool = True,
        path: str | None = None,
    ) -> DataFrame:
        """reference plot_acf (Forecaster.py:1320-1343); ``alpha``
        adds the Bartlett confidence half-width column like the
        statsmodels chart it mirrors."""
        from scalecast_spark import plotting as P

        frame = P.acf_frame(
            self.tsf.df, nlags, diffy, train_only, self.test_length,
            alpha=alpha,
        )
        if render:
            P.render_stems(frame, y="acf", path=path, title="ACF")
        return frame

    def plot_pacf(
        self,
        diffy: bool = False,
        train_only: bool = False,
        nlags: int = 24,
        alpha: float | None = 0.05,
        render: bool = True,
        path: str | None = None,
    ) -> DataFrame:
        """reference plot_pacf (Forecaster.py:1344-1367); ``alpha``
        adds the z/sqrt(n) confidence half-width column."""
        from scalecast_spark import plotting as P

        frame = P.pacf_frame(
            self.tsf.df, nlags, diffy, train_only, self.test_length,
            alpha=alpha,
        )
        if render:
            P.render_stems(frame, y="pacf", path=path, title="PACF")
        return frame

    def plot_periodogram(
        self, diffy: bool = False, train_only: bool = False,
        render: bool = True, path: str | None = None,
    ) -> DataFrame:
        """reference plot_periodogram (Forecaster.py:1368-1392):
        per-series power spectrum via functions.stattests.periodogram."""
        from scalecast_spark import plotting as P
        from scalecast_spark.functions.stattests import periodogram

        frame = periodogram(
            P._prep_series(
                self.tsf.df, diffy, train_only, self.test_length
            )
        )
        if render:
            P.render_lines(
                frame, x="freq", y="power", hue=SERIES, series_col=None,
                path=path, title="Periodogram",
            )
        return frame

    # ------------------------------------------------------ export
    def export(self, which: str = "model_summaries", dfs=None,
               models="all", cis: bool = False, **_ref_kwargs) -> DataFrame:
        """reference export (Forecaster.py:2065-2219). ``dfs=`` is the
        reference's keyword for the same argument — accepted as an
        alias so ported call sites work verbatim, INCLUDING the
        reference's list form: ``f.export(['model_summaries',
        'lvl_fcsts'])`` (or ``dfs=[...]``) returns a dict of
        {name: DataFrame}, matching the reference's dict-of-frames
        return for multi-name calls. Divergence kept deliberately: a
        bare ``f.export()`` returns the model_summaries frame, not the
        reference's 3-frame default dict — pass the reference's
        default list explicitly for that shape."""
        if dfs is not None:
            which = dfs
        if _ref_kwargs.get("to_excel"):
            # reference export(to_excel=True, out_path=..., excel_name=
            # ...) writes the workbook as a SIDE EFFECT and still
            # returns the frame/dict (Forecaster.py:2217-2219:
            # 'results = f.export(dfs=[...], to_excel=True)' then
            # 'results["model_summaries"]'); models=/cis= thread into
            # the sheet exports (round-15 ADVICE)
            import os as _os

            out_path = _ref_kwargs.get("out_path", ".")
            excel_name = _ref_kwargs.get("excel_name", "results.xlsx")
            sheet_list = (
                list(which) if isinstance(which, (list, tuple, set))
                else None if which == "model_summaries" and dfs is None
                else [which]
            )
            self.export_to_excel(
                _os.path.join(out_path, excel_name), which=sheet_list,
                models=models, cis=cis,
            )
            # fall through: return the normal frame/dict result
        if isinstance(which, (list, tuple, set)):
            out = {
                name: self.export(name, models=models, cis=cis)
                for name in which
            }
            # reference returns the lone frame, not a 1-entry dict,
            # when a single name is passed to dfs (round-14 ADVICE)
            if len(out) == 1:
                return next(iter(out.values()))
            return out
        if isinstance(models, str) and models != "all":
            # a single model-name string is reference-legal; membership
            # against the raw string would substring-match ('mlr' in
            # 'mlr2'). 'top_N' picks the N best by determine_best_by
            # (reference _Forecaster_parent._parse_models).
            if models.startswith("top_"):
                models = self.order_fcsts(
                    _ref_kwargs.get("determine_best_by", "TestSetRMSE")
                )[: int(models.split("_")[1])]
            else:
                models = [models]
        hist = {
            n: h for n, h in self.history.items()
            if models == "all" or n in models
        }
        spark = self.tsf.df.sparkSession
        if which == "model_summaries":
            import pandas as pd

            rows = []
            for name, h in hist.items():
                row = {"ModelNickname": name, **{
                    k: v for k, v in h["summary"].items() if not isinstance(v, dict)
                }}
                row["HyperParams"] = str(h["summary"].get("hyperparams", {}))
                rows.append(row)
            return spark.createDataFrame(pd.DataFrame(rows))
        if which == "lvl_fcsts":
            out = None
            for name, h in hist.items():
                fc = h["forecast"]
                ci_cols = (
                    ["upper", "lower"]
                    if cis and all(c in fc.columns for c in ("upper", "lower"))
                    else []
                )
                fc = fc.select(
                    F.lit(name).alias("model"), SERIES, DS, "forecast", *ci_cols
                )
                out = fc if out is None else out.unionByName(
                    fc, allowMissingColumns=True
                )
            return out
        if which == "validation_grid":
            rows = [
                (str(entry["params"]), fold, float(v))
                for entry in getattr(self, "grid_evaluated", [])
                for fold, v in enumerate(entry["scores"])
            ]
            return spark.createDataFrame(
                rows, schema="params string, fold int, metric double"
            )
        if which == "lvl_test_set_predictions":
            out = None
            for name, h in hist.items():
                if h["test_preds"] is None:
                    continue
                tp = h["test_preds"].select(
                    F.lit(name).alias("model"), SERIES, DS, Y, "forecast"
                )
                out = tp if out is None else out.unionByName(tp)
            return out
        raise ValueError(f"unknown export {which!r}")

    def export_to_excel(
        self,
        path: str,
        which: list[str] | None = None,
        models="all",
        cis: bool = False,
    ) -> str:
        """Multi-sheet workbook export (reference Forecaster.py:2065-2219
        ``to_excel=True``): one sheet per requested frame. Uses
        openpyxl/xlsxwriter when installed; in environments without an
        xlsx writer (this container) it degrades to a DIRECTORY of
        CSVs, one per sheet, and returns that path. Driver-side by
        design — exports are presentation-sized (model summaries,
        horizon rows), never the raw frame."""
        import os

        which = which or ["model_summaries", "lvl_fcsts"]
        sheets = {}
        for w in which:
            df = self.export(w, models=models, cis=cis)
            if df is not None:
                sheets[w] = df.toPandas()
        return _write_sheets(path, sheets)

    def all_feature_info_to_excel(
        self, out_path: str = ".", excel_name: str = "feature_info.xlsx"
    ) -> str:
        """One tab per model with banked feature importance (reference
        Forecaster.py:2237-2260); call save_feature_importance first.
        Same xlsx-or-CSV-directory degradation as export_to_excel."""
        import os

        sheets = {
            name: h["feature_importance"].toPandas()
            for name, h in self.history.items()
            if h.get("feature_importance") is not None
        }
        if not sheets:
            raise ValueError(
                "no feature importance banked on any model; call "
                "save_feature_importance() after evaluating"
            )
        return _write_sheets(os.path.join(out_path, excel_name), sheets)

    def all_validation_grids_to_excel(
        self, out_path: str = ".", excel_name: str = "validation_grids.xlsx"
    ) -> str:
        """One tab per model with a banked validation grid (reference
        Forecaster.py:2262-2288); tune at least one model first."""
        import os

        sheets = {
            name: self.export_validation_grid(name).toPandas()
            for name, h in self.history.items()
            if h.get("grid_evaluated") is not None
        }
        if not sheets:
            raise ValueError(
                "no validation grids banked; tune at least one model first"
            )
        return _write_sheets(os.path.join(out_path, excel_name), sheets)

    def order_fcsts(
        self, by: str = "TestSetRMSE", determine_best_by: str | None = None,
    ) -> list[str]:
        """Rank models (reference _Forecaster_parent.py:363-426).
        ``determine_best_by=`` is the reference keyword for ``by``."""
        if determine_best_by is not None:
            by = determine_best_by
        if by == "ValidationMetricValue":
            # direction follows the validation metric actually in use
            # (reference _parse_models ranks by the metric's own
            # lower_is_better, models.py:1534-1544)
            lower = METRICS.LOWER_IS_BETTER.get(self.validation_metric, True)
        else:
            metric = by.replace("TestSet", "").replace("InSample", "").lower()
            lower = METRICS.LOWER_IS_BETTER.get(metric, True)
        scored = [
            (n, h["summary"].get(by))
            for n, h in self.history.items()
            if h["summary"].get(by) is not None
        ]
        return [n for n, _ in sorted(scored, key=lambda t: t[1], reverse=not lower)]

    def pop(self, *models: str) -> "Forecaster":
        for m in models:
            self.history.pop(m, None)
            self._release_fused(m)
        return self

    def _release_fused(self, name: str) -> None:
        """Unpersist this object's fused cache for ``name`` and drop its
        ``fused::<name>`` registry entry — only while the entry still
        holds THIS object's frame: another Forecaster that fit the same
        nickname since owns the live entry and keeps it."""
        from scalecast_spark.datapipe.dedup import _SCRATCH_CACHES

        c = self._fused_caches.pop(name, None)
        if c is None:
            return
        tag = f"fused::{name}"
        if _SCRATCH_CACHES.get(tag) is c:
            del _SCRATCH_CACHES[tag]
        try:
            c.unpersist()
        except Exception:
            pass

    def release_model_caches(self) -> "Forecaster":
        """Unpersist every fused-testfull cache banked by
        manual_forecast (optimization round 16 — the object-scoped
        release path for long-lived Forecasters: history frames stay
        valid and lazily recompute if read again; only the pinned
        InMemoryRelations are dropped)."""
        for m in list(self._fused_caches):
            self._release_fused(m)
        return self


class MVForecaster(Forecaster):
    """Reference-shape multivariate constructor
    (reference MVForecaster.py:34-174: ``MVForecaster(f1, f2, ...,
    names=[...])`` merges several univariate Forecasters into one
    joint object). The long format needs no separate class — ONE
    Forecaster already holds every series — so this subclass exists
    purely to honor the reference's construction call shape: the
    input Forecasters' long frames are UNIONED (the reference's
    ``merge_Xvars='union'``: missing feature columns fill NULL) into
    a single frame, re-tagged by ``names`` when given.

    Also accepts the engine's native single-frame form
    (``MVForecaster(df)`` / ``MVForecaster(tsf)``), so existing
    long-format code keeps working through this name.
    """

    def __init__(self, *fs, names=None, future_dates: int = 0,
                 test_length: int = 0, **kwargs):
        from functools import reduce

        if kwargs:
            # reference knobs that are union/no-op decisions the long
            # format already makes (merge_Xvars, not_same_len_action,
            # merge_future_dates...) — record, never silently drop an
            # unknown misspelling
            known = {"merge_Xvars", "not_same_len_action", "merge_future_dates",
                     "cis", "metrics", "carry_fit_models", "optimize_on"}
            unknown = set(kwargs) - known
            if unknown:
                raise TypeError(
                    f"MVForecaster got unexpected kwargs {sorted(unknown)}; "
                    f"reference-compat kwargs are {sorted(known)}"
                )
        if fs and all(isinstance(f, Forecaster) for f in fs):
            if names is not None:
                if len(names) != len(fs):
                    raise ValueError(
                        f"names has {len(names)} entries for {len(fs)} "
                        f"Forecaster objects"
                    )
                frames = [
                    f.tsf.df.withColumn(SERIES, F.lit(str(n)))
                    for f, n in zip(fs, names)
                ]
                self._mv_series_order = [str(n) for n in names]
            else:
                # Reference default naming (MVForecaster.py:150-152:
                # series1..seriesk / y1..yk): two univariate inputs
                # built from single-series frames routinely share a
                # series_id, and unioning them as-is would silently
                # merge both into one series with duplicate timestamps.
                # Driver sees only COUNTS (an input can hold millions
                # of series — never collect the ids themselves).
                per_input = [
                    int(
                        f.tsf.df.select(SERIES).agg(
                            F.countDistinct(SERIES)
                        ).collect()[0][0]
                    )
                    for f in fs
                ]
                union_distinct = int(
                    reduce(
                        lambda a, b: a.unionByName(b),
                        [f.tsf.df.select(SERIES) for f in fs],
                    ).agg(F.countDistinct(SERIES)).collect()[0][0]
                )
                if union_distinct < sum(per_input):
                    if any(c != 1 for c in per_input):
                        raise ValueError(
                            "series_id values overlap across the input "
                            "Forecasters and at least one input is "
                            "multi-series; pass names=[...] to retag "
                            "them explicitly"
                        )
                    names = [f"y{i + 1}" for i in range(len(fs))]
                    frames = [
                        f.tsf.df.withColumn(SERIES, F.lit(n))
                        for f, n in zip(fs, names)
                    ]
                    self._mv_series_order = list(names)
                else:
                    # DOCUMENTED DIVERGENCE: the reference ALWAYS
                    # retags inputs y1..yk when names=None
                    # (MVForecaster.py:113-115); the engine keeps the
                    # inputs' real series ids when they don't collide —
                    # identity survives the round trip. For ported code
                    # that then says optimize_on='y1' or 'series2', a
                    # POSITIONAL ALIAS map (y{i}/series{i} → i-th
                    # input's sole id) is recorded here and resolved by
                    # set_optimize_on; one bounded first() per
                    # single-series input.
                    frames = [f.tsf.df for f in fs]
                    aliases = {}
                    order = []
                    for i, (f, c) in enumerate(zip(fs, per_input)):
                        if c == 1:
                            sid = f.tsf.df.select(SERIES).first()[0]
                            aliases[f"y{i + 1}"] = sid
                            aliases[f"series{i + 1}"] = sid
                            order.append(sid)
                    self._mv_aliases = aliases
                    if len(order) == len(fs):
                        # input order for positional custom optimizers
                        self._mv_series_order = order
            merged = reduce(
                lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
            )
            from scalecast_spark.frame import RESERVED

            # build the TimeSeriesFrame directly: from_long drops
            # y-NULL rows, which would erase the inputs' future horizon
            feats = tuple(c for c in merged.columns if c not in RESERVED)
            if IS_FUTURE not in merged.columns:
                merged = merged.withColumn(IS_FUTURE, F.lit(0))
            freq = next(
                (f.tsf.freq_seconds for f in fs
                 if f.tsf.freq_seconds is not None), None,
            )
            super().__init__(
                TimeSeriesFrame(df=merged, freq_seconds=freq, features=feats)
            )
        elif len(fs) == 1:
            super().__init__(fs[0], future_dates=future_dates)
        else:
            raise TypeError(
                "MVForecaster takes either several Forecaster objects "
                "(reference shape) or one long DataFrame/TimeSeriesFrame "
                f"holding every series; got {[type(f).__name__ for f in fs]}"
            )
        if future_dates and fs and all(isinstance(f, Forecaster) for f in fs):
            self.generate_future_dates(future_dates)
        if test_length:
            self.set_test_length(test_length)
        # apply the reference-compat kwargs instead of only validating
        # them (r14): merge_Xvars/not_same_len_action/merge_future_dates
        # stay no-op union decisions; these three change behavior
        if kwargs.get("cis") is not None:
            # route through eval_cis so the soundness bound
            # (test_length >= 1/(1-cilevel)) raises loudly, matching
            # the Forecaster ctor path (round-15 ADVICE)
            self.eval_cis(bool(kwargs["cis"]))
        if kwargs.get("metrics"):
            self.set_metrics(list(kwargs["metrics"]))
        if kwargs.get("optimize_on"):
            self.set_optimize_on(kwargs["optimize_on"])

    def set_estimator(self, name: str) -> "Forecaster":
        """Reference call shape: ``mvf.set_estimator('elasticnet')``
        means the MULTIVARIATE strategy over that estimator (the
        reference MVForecaster routes every sklearn name through its
        joint design, MVForecaster.py:300-420; that is the engine's
        ``mv_<name>`` wide-lag registry entry, so ``manual_forecast(
        lags=13)`` works verbatim). Explicit ``mv_*`` names and
        series-kernel estimators with no MV twin pass through."""
        from scalecast_spark.models import MODELS

        if not name.startswith("mv_") and f"mv_{name}" in MODELS:
            return super().set_estimator(f"mv_{name}")
        return super().set_estimator(name)


def break_mv_forecaster(
    mvf: Forecaster, drop_all_Xvars: bool = True
) -> tuple:
    """One univariate Forecaster per series (reference
    util.py:232-270). In the long format this is a ``series_id``
    filter per series over the SHARED immutable frame — no data is
    copied; each returned object carries the source's test_length /
    cilevel / metrics so a per-series follow-up run scores the same
    way. ``drop_all_Xvars`` (reference default) strips feature
    columns, matching the reference's advice that per-series models
    re-derive their own regressors."""
    sids = mvf.tsf.series_ids()
    out = []
    for sid in sorted(sids):
        df = mvf.tsf.df.filter(F.col(SERIES) == sid)
        if drop_all_Xvars:
            df = df.select(SERIES, DS, Y, IS_FUTURE)
            feats: tuple = ()
        else:
            feats = tuple(mvf.tsf.features)
        f = Forecaster(
            TimeSeriesFrame(
                df=df, freq_seconds=mvf.tsf.freq_seconds, features=feats
            )
        )
        f.test_length = mvf.test_length
        f.cilevel = mvf.cilevel
        f.metrics = list(mvf.metrics)
        # carry each model's history, filtered to this series (the
        # reference's break gives every returned object its own
        # forecasts/test preds; frames are lazy filters, no copies)
        for m, h in mvf.history.items():
            nh = dict(h)
            for key in (
                "forecast", "fitted", "test_preds",
                "per_series_test_metrics", "per_series_insample_metrics",
            ):
                fr = h.get(key)
                if fr is not None and SERIES in fr.columns:
                    nh[key] = fr.filter(F.col(SERIES) == sid)
            nh["summary"] = dict(h.get("summary", {}))
            f.history[m] = nh
        out.append(f)
    return tuple(out)


def keep_smallest_first_date(*fs: Forecaster) -> tuple:
    """Trim every passed Forecaster to a common first date — the
    LATEST of their per-object minimum dates (reference
    multiseries.py:25-37). Each trim is the date form of
    keep_smaller_history, so restore_series_length undoes it."""
    if not fs:
        raise ValueError("keep_smallest_first_date needs Forecaster objects")
    firsts = [
        f.tsf.observed.agg(F.min(DS)).collect()[0][0] for f in fs
    ]
    cutoff = max(firsts)
    for f in fs:
        f.keep_smaller_history(cutoff)
    return fs


def export_model_summaries(f_dict: dict, **kwargs) -> DataFrame:
    """One model-summary frame across many Forecaster objects, keyed
    by a ``Series`` label column (reference multiseries.py:6-22 —
    pandas concat there, a unionByName here; summary schemas may
    differ across objects, so missing columns fill NULL). Extra
    kwargs forward to each ``Forecaster.export`` like the
    reference's."""
    out = None
    for label, f in f_dict.items():
        s = f.export("model_summaries", **kwargs).withColumn(
            "Series", F.lit(str(label))
        )
        out = s if out is None else out.unionByName(s, allowMissingColumns=True)
    if out is None:
        raise ValueError("export_model_summaries: empty dict")
    return out


def _write_sheets(path: str, sheets: dict) -> str:
    """Write {sheet_name: pandas frame} to one xlsx (openpyxl or
    xlsxwriter when installed); without an xlsx engine, degrade to a
    DIRECTORY of CSVs — one per sheet — and return that path."""
    import os

    try:
        # explicit submodule import: `import importlib` alone does
        # NOT bind importlib.util on a clean interpreter
        import importlib.util

        eng = next(
            m for m in ("openpyxl", "xlsxwriter")
            if importlib.util.find_spec(m) is not None
        )
        import pandas as pd

        with pd.ExcelWriter(path, engine=eng) as xw:
            for name, pdf in sheets.items():
                pdf.to_excel(xw, sheet_name=name[:31], index=False)
        return path
    except StopIteration:
        out_dir = path[:-5] if path.endswith(".xlsx") else path
        os.makedirs(out_dir, exist_ok=True)
        for name, pdf in sheets.items():
            pdf.to_csv(os.path.join(out_dir, f"{name}.csv"), index=False)
        return out_dir
