"""Model/feature-selection searches (SURVEY.md §2.9).

Driver-side search loops issuing Spark jobs — the reference's
auto_Xvar_select (Forecaster.py:658-1163), reduce_Xvars
(Forecaster.py:451-631), determine_best_series_length
(Forecaster.py:1178-1256), and tune_test_forecast (_utils.py:89-142)
re-expressed over the immutable frame. Candidate evaluation = mark the
validation slice as future, run the estimator, read one metric — each
candidate is a filter, never a copy.
"""

from __future__ import annotations

import math
import warnings

import numpy as np
from pyspark.sql import functions as F

from scalecast_spark.frame import IS_FUTURE, SERIES, Y
from scalecast_spark.functions import metrics as METRICS
from scalecast_spark.forecaster import Forecaster, _mark_test_rows


def _score(f: Forecaster, features: list[str], val_len: int, **kwargs) -> float:
    marked = _mark_test_rows(f.tsf.df, val_len)
    scored = f._run_model(marked, Xvars=features, **kwargs)
    row = METRICS.evaluate(
        scored.filter(F.col(IS_FUTURE) == 1),
        actual=Y, forecast="forecast", metrics=[f.validation_metric],
    ).collect()[0]
    v = row[f.validation_metric]
    return float(v) if v is not None else float("nan")


def tune_test_forecast(
    f: Forecaster,
    models: list[str],
    grids: dict[str, dict] | None = None,
    cross_validate: bool = False,
    k: int = 3,
    error: str = "warn",
    dynamic_tuning: bool | int = False,
    dynamic_testing: bool | int = True,
    limit_grid_size: int | float | None = None,
    suffix: str | None = None,
    **_ref_kwargs,
) -> Forecaster:
    """Loop models → (optional grid search) → forecast (reference
    _utils.py:89-142 with raise/warn/ignore error policy).

    Round 11: the per-model GRID EVALUATIONS run concurrently on
    isolated shallow clones — the frames are shared immutable
    DataFrames, so a clone costs nothing; estimator/grid/best_params
    land on the clone, and only the winning forecasts bank
    sequentially on the real object. The model loop was the last
    serial stage of this workload (each tune's CV folds already run
    concurrently), so 3 models' grids now overlap instead of queueing."""
    import copy

    from scalecast_spark.functions.parallel import run_jobs
    from scalecast_spark.grids import DEFAULT_GRIDS

    grids = grids or {}
    plan = [(m, grids.get(m, DEFAULT_GRIDS.get(m))) for m in models]

    # Round 13 (r12 sf1 tier: forecaster_ttf grew 3.5x at 10x data):
    # every tune/forecast job below re-executes the Forecaster's WHOLE
    # upstream plan (often an aggregation over a raw event table 10-
    # 100x larger than the series frame) — ~10+ scans per call. Cache
    # the long frame for the duration; it is (n_series x n_buckets)
    # rows, orders of magnitude below the raw input. try/finally so a
    # raising model never pins the entry. (CacheManager dedupes by
    # plan, so if the caller already cached this exact plan our
    # unpersist releases that entry too — the dedup.py:586 lesson;
    # acceptable here because the cache is re-fillable on next use.)
    _frame = f.tsf.df
    _was_cached = _frame.is_cached
    if not _was_cached:
        _frame.cache().count()
    # reference cvkwargs forwarding (_utils.py:89-142: rolling/
    # test_length/train_length/space_between_sets/verbose reach
    # cross_validate); only names cross_validate knows pass through
    cv_kwargs = {
        kw: _ref_kwargs[kw]
        for kw in (
            "rolling", "train_length", "space_between_sets", "verbose",
            "set_aside_test_set",
        )
        if kw in _ref_kwargs
    }
    if "test_length" in _ref_kwargs:
        cv_kwargs["test_length"] = _ref_kwargs["test_length"]
    min_grid_size = int(_ref_kwargs.get("min_grid_size", 1))
    try:
        out = _ttf_body(
            f, plan, cross_validate, k, error,
            dynamic_tuning=dynamic_tuning, dynamic_testing=dynamic_testing,
            limit_grid_size=limit_grid_size, suffix=suffix,
            cv_kwargs=cv_kwargs, min_grid_size=min_grid_size,
        )
        if _ref_kwargs.get("feature_importance"):
            # reference tune_test_forecast(feature_importance=True)
            # banks importances with every evaluated model
            # (Forecaster.py:1464,1531-1560)
            for m, _gr in plan:
                nick = m + (suffix or "")
                if nick in f.history:
                    f.save_feature_importance(nick)
        return out
    finally:
        if not _was_cached:
            _frame.unpersist()


def _ttf_body(f, plan, cross_validate, k, error,
              dynamic_tuning=False, dynamic_testing=True,
              limit_grid_size=None, suffix=None, cv_kwargs=None,
              min_grid_size=1):
    import copy

    from scalecast_spark.functions.parallel import run_jobs

    def _tune_one(m: str, grid: dict):
        g = copy.copy(f)
        g.history = dict(f.history)  # isolate any banking on the clone
        g.set_estimator(m)
        g.ingest_grid(grid)
        if limit_grid_size is not None:
            g.limit_grid_size(
                limit_grid_size, random_seed=20,
                min_grid_size=min_grid_size,
            )
        if cross_validate:
            # reference _utils.py:115-116 forwards ONLY the cvkwargs —
            # cross_validate derives the fold size from the data when
            # test_length isn't passed (validation_length is tune()'s
            # 1-fold length, never a CV fold size; injecting it here
            # made a default validation_length=1 produce 1-row rolling
            # train windows)
            g.cross_validate(
                k=k, dynamic_tuning=dynamic_tuning, **(cv_kwargs or {})
            )
        else:
            g.tune(dynamic_tuning=dynamic_tuning)
        # the winning validation score travels with the params so the
        # forecast clone banks ValidationMetricValue like the
        # reference's single-object loop does (the combo weighted
        # default reads it from history)
        return g.best_params, g.grid_evaluated, g.validation_metric_value

    tuned = run_jobs(
        [
            (lambda m=m, gr=gr: _tune_one(m, gr)) if gr
            else (lambda: (None, None, None))
            for m, gr in plan
        ],
        on_error="raise" if error == "raise" else "nan",
    )
    # the FORECAST phase overlaps too — each winner's test→fit→bank
    # pipeline is ~10 small blocking actions (metric summaries,
    # conformal widths, fitted/forecast materialization), so serialized
    # models would leave the scheduler idle between round-trips. Same clone
    # pattern: compute each model's history ENTRY concurrently, then
    # attach entries to the real object in input order (banking is a
    # dict write — order only matters for reproducible iteration).
    def _forecast_one(m: str, grid: dict, res):
        try:
            if isinstance(res, float):  # nan: that model's tune failed
                raise RuntimeError(f"grid evaluation failed for {m!r}")
            nick = m + (suffix or "")
            g = copy.copy(f)
            g.history = dict(f.history)
            g.set_estimator(m)
            # the reference threads dynamic_testing into every model
            # evaluation (_utils.py:118); only estimators with the
            # knob (kernel family) receive it
            dt = (
                {"dynamic_testing": dynamic_testing}
                if dynamic_testing is not True
                and g._model_accepts("dynamic_testing")
                else {}
            )
            if grid:
                g.best_params = {**res[0], **dt}
                g.grid_evaluated = res[1]
                g.validation_metric_value = res[2]
                g.auto_forecast(call_me=nick)
                g.best_params = res[0]  # report the tuned params alone
            else:
                g.best_params = {}
                g.manual_forecast(call_me=nick, **dt)
            return (
                g.history[nick],
                g.best_params,
                getattr(g, "grid_evaluated", None),
            )
        except Exception as e:
            if error == "raise":
                raise
            return e

    outs = run_jobs(
        [
            (lambda m=m, gr=gr, r=r: _forecast_one(m, gr, r))
            for (m, gr), r in zip(plan, tuned)
        ],
        on_error="raise" if error == "raise" else "nan",
    )
    for (m, grid), res, out in zip(plan, tuned, outs):
        if not isinstance(out, tuple):
            # warned from the caller's thread, in model order, so the
            # caller can capture or filter it like any other warning
            if error == "warn":
                warnings.warn(
                    f"tune_test_forecast: {m} failed: {out!r}",
                    RuntimeWarning,
                    stacklevel=3,
                )
            continue
        entry, bp, ge = out
        f.history[m + (suffix or "")] = entry
        # reference post-loop state: estimator/best_params reflect the
        # LAST successfully processed model
        f.set_estimator(m)
        f.best_params = bp
        if ge is not None:
            f.grid_evaluated = ge
    return f


def auto_Xvar_select(
    f: Forecaster,
    estimator: str = "mlr",
    max_ar: int = 7,
    try_trend: bool = True,
    try_seasonality: bool = True,
    monitor_length: int | None = None,
    monitor: str | None = None,
    irr_cycles: list[int] | None = None,
    **estimator_kwargs,
) -> list[str]:
    """Staged feature search (reference Forecaster.py:658-1163):
    best trend representation → best seasonal representation → best AR
    order → best combination, each stage scored on the validation
    slice. Returns (and applies) the winning feature set.

    Every candidate the search evaluates is recorded on
    ``f.axs_trajectory`` as ``(features, score)`` in evaluation order —
    the search-path artifact (mirrors reduce_Xvars' pfi_* trajectory),
    consumed by the gate's axs_cand* members so the STAGED DECISIONS
    are hash-certified, not just the estimator under them."""
    val_len = monitor_length or f.validation_length or 7
    if monitor:
        # reference monitor='TestSetMAE'/'ValidationMetricValue' forms
        # (Forecaster.py:668-675) — route the metric name into the
        # validation metric used by _score
        met = monitor.replace("TestSet", "").replace("InSample", "").lower()
        if met and met != "validationmetricvalue":
            f.set_validation_metric(met)
    f.set_estimator(estimator)
    if irr_cycles:
        # reference irr_cycles: candidate sin/cos regressors for
        # irregular cycle lengths (Forecaster.py:700-704); added here
        # so the seasonal stage can select or reject them
        for m in irr_cycles:
            f.add_cycle(m)
    f.axs_trajectory = []
    all_feats = list(f.tsf.features)
    trend_feats = [c for c in all_feats if c == "t" or c.startswith("t^")]
    seas_feats = [
        c for c in all_feats
        if any(c.startswith(p) for p in ("month", "quarter", "week", "day", "hour"))
        or "sin" in c or "cos" in c
    ]
    ar_feats = sorted(
        [c for c in all_feats if c.startswith("ar_")],
        key=lambda c: int(c.split("_")[1]),
    )[:max_ar]

    groups: list[list[str]] = []
    if try_trend and trend_feats:
        groups.append(trend_feats)
    if try_seasonality and seas_feats:
        groups.append(seas_feats)

    # AR order sweep: 1..max available lags — independent Spark jobs,
    # submitted concurrently (functions/parallel.py)
    from scalecast_spark.functions.parallel import run_jobs

    ar_cands = [ar_feats[:n] for n in range(1, len(ar_feats) + 1)]
    ar_scores = run_jobs(
        [lambda c=c: _score(f, c, val_len, **estimator_kwargs) for c in ar_cands],
        on_error="nan"
    )
    best_ar: list[str] = []
    best_v = float("inf")
    for cand, v in zip(ar_cands, ar_scores):
        f.axs_trajectory.append((list(cand), v))
        if not math.isnan(v) and v < best_v:
            best_v, best_ar = v, cand
    if best_ar:
        groups.append(best_ar)

    # combination stage: greedy add groups if they improve
    chosen: list[str] = []
    best_v = float("inf")
    for g in groups:
        cand = chosen + g
        v = _score(f, cand, val_len, **estimator_kwargs)
        f.axs_trajectory.append((list(cand), v))
        if not math.isnan(v) and v < best_v:
            best_v, chosen = v, cand
    if chosen:
        drop = [c for c in f.tsf.features if c not in chosen]
        if drop:
            f.tsf = f.tsf.drop_features(*drop)
    return chosen


def reduce_Xvars(
    f: Forecaster,
    estimator: str = "mlr",
    keep_at_least: int = 1,
    monitor_length: int | None = None,
    method: str = "pfi",
) -> list[str]:
    """Backward feature elimination (reference Forecaster.py:451-631).

    ``method='shap'`` ranks features ONCE by exact linear-SHAP
    importance (functions/shap.py — closed form, no shap package) and
    drops in ascending-importance order while the validation metric
    does not degrade: F re-scores total, matching the reference's
    SHAP-ranked flow. Linear-family estimators only.

    ``method='pfi'`` (default, any estimator) uses leave-one-out
    permutation-style scores; the per-feature scores within a round
    are independent Spark jobs submitted concurrently."""
    from scalecast_spark.functions.parallel import run_jobs

    val_len = monitor_length or f.validation_length or 7
    f.set_estimator(estimator)
    feats = list(f.tsf.features)
    best_v = _score(f, feats, val_len)
    # reduction trajectory (reference pfi_dropped_vars /
    # pfi_error_values, Forecaster.py:451-631) — consumed by
    # plotting.plot_reduction_errors; error_values[0] is the
    # all-features score, then one entry per accepted drop
    f.pfi_dropped_vars = []
    f.pfi_error_values = [best_v]
    # full attempt log incl. REJECTED drops (the gate's rxv_cand*
    # members replay every evaluated candidate, mirroring
    # axs_trajectory); rxv_importances carries the shap ranking
    f.rxv_trajectory = [(list(feats), best_v)]
    f.rxv_importances = {}
    if method == "shap":
        if estimator not in ("mlr", "ridge", "lasso", "elasticnet", "sgd"):
            raise ValueError(
                "method='shap' is exact for linear estimators only; "
                "use method='pfi' for " + estimator
            )
        from scalecast_spark.functions.shap import linear_shap_importance

        imp = {
            r["feature"]: r["importance"]
            for r in linear_shap_importance(f.tsf.df, feats).collect()
        }
        f.rxv_importances = dict(imp)
        # least important first; features the fit never saw rank last
        order = sorted(feats, key=lambda c: imp.get(c, float("inf")))
        for c in order:
            if len(feats) <= keep_at_least:
                break
            v = _score(f, [x for x in feats if x != c], val_len)
            f.rxv_trajectory.append(([x for x in feats if x != c], v))
            if math.isnan(v) or v > best_v:
                break
            feats = [x for x in feats if x != c]
            best_v = v
            f.pfi_dropped_vars.append(c)
            f.pfi_error_values.append(v)
    else:
        while len(feats) > keep_at_least:
            # importance proxy: score WITHOUT each feature; the one
            # whose removal HELPS most (or hurts least) goes first.
            # The per-feature leave-one-out scores within a round are
            # independent Spark jobs — submitted concurrently (the
            # O(F²) serial loop was VERDICT r1 perf item #5)
            vals = run_jobs(
                [
                    lambda c=c: _score(f, [x for x in feats if x != c], val_len)
                    for c in feats
                ],
                on_error="nan",
            )
            scores = dict(zip(feats, vals))
            for c, v_ in scores.items():
                f.rxv_trajectory.append(
                    ([x for x in feats if x != c], v_)
                )
            drop_c, v = min(scores.items(), key=lambda t: t[1])
            if math.isnan(v) or v > best_v:
                break
            feats = [x for x in feats if x != drop_c]
            best_v = v
            f.pfi_dropped_vars.append(drop_c)
            f.pfi_error_values.append(v)
    dropped = [c for c in f.tsf.features if c not in feats]
    if dropped:
        f.tsf = f.tsf.drop_features(*dropped)
    return feats


def mlp_stack(
    f: Forecaster,
    models: list[str] | None = None,
    call_me: str = "mlp_stack",
    hidden: int = 8,
    epochs: int = 300,
    model_nicknames: list[str] | None = None,
    **_ref_kwargs,
) -> Forecaster:
    """Stacked generalization (reference mlp_stack, auxmodels.py:47-126
    over sklearn StackingRegressor): base models' outputs become
    signal features; a small MLP meta-learner fits on them.
    ``model_nicknames=`` is the reference keyword for the same list."""
    models = models if models is not None else model_nicknames
    if not models:
        raise ValueError("mlp_stack needs base model names")
    f.add_signals(models)
    signal_feats = [f"signal_{m}" for m in models]
    f.set_estimator("mlp")
    f.manual_forecast(
        call_me=call_me, Xvars=signal_feats, hidden=hidden, epochs=epochs
    )
    return f


def determine_best_series_length(
    f: Forecaster,
    estimator: str = "naive",
    min_obs: int = 10,
    max_obs: int | None = None,
    step: int = 5,
    chop: bool = True,
    **kwargs,
) -> int:
    """Grid over history lengths, monitor the validation metric
    (reference Forecaster.py:1178-1256)."""
    val_len = f.validation_length or 7
    f.set_estimator(estimator)
    n_obs = (
        f.tsf.observed.groupBy(SERIES).count().agg(F.min("count")).collect()[0][0]
    )
    from scalecast_spark.functions.parallel import run_jobs

    max_obs = max_obs or n_obs
    lengths = list(range(min_obs, max_obs + 1, step))

    def _trial(length: int) -> float:
        trial = f.tsf.keep_smaller_history(length)
        marked = _mark_test_rows(trial.df, val_len)
        scored = f._run_model(marked, **kwargs)
        row = METRICS.evaluate(
            scored.filter(F.col(IS_FUTURE) == 1),
            actual=Y, forecast="forecast", metrics=[f.validation_metric],
        ).collect()[0]
        v = row[f.validation_metric]
        return float(v) if v is not None else float("nan")

    vals = run_jobs([lambda L=L: _trial(L) for L in lengths], on_error="nan")
    # candidate log for the gate's dbsl_* members (mirrors
    # axs_trajectory / rxv_trajectory)
    f.dbsl_trajectory = list(zip(lengths, vals))
    best_len, best_v = n_obs, float("inf")
    for length, v in zip(lengths, vals):
        if not math.isnan(v) and v < best_v:
            best_v, best_len = v, length
    if chop and best_len < n_obs:
        f.tsf = f.tsf.keep_smaller_history(best_len)
    return best_len
