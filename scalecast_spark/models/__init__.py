from scalecast_spark.models.naive import naive_model
from scalecast_spark.models.linear import linear_model
from scalecast_spark.models.sklearn_like import (
    elasticnet_model,
    knn_model,
    lasso_model,
    mlr_model,
    ridge_model,
)
from scalecast_spark.models.smoothing import hwes_model, theta_model
from scalecast_spark.models.trees import (
    catboost_model,
    gbt_model,
    rf_model,
    xgboost_model,
)
from scalecast_spark.models.mlp import (
    direct_linear_model,
    lstm_model,
    mlp_model,
    rnn_model,
)
from scalecast_spark.models.arima import (
    arima_model,
    auto_arima_model,
    prophet_model,
    tbats_model,
)
from scalecast_spark.models.vecm import vecm_model
from scalecast_spark.models.mv_linear import mv_linear_model
from scalecast_spark.models.mv_kernel import mv_model
from scalecast_spark.models.svr_sgd import sgd_model, svr_model

#: estimator registry (the reference's cfg.py:26-54 Estimator table);
#: keys match reference nicknames. Every entry is
#: (df, features=..., **hyperparams) -> df + 'forecast'.
MODELS = {
    "naive": naive_model,
    "mlr": linear_model,
    "ridge": ridge_model,
    "lasso": lasso_model,
    "elasticnet": elasticnet_model,
    "knn": knn_model,
    "hwes": hwes_model,
    "theta": theta_model,
    "gbt": gbt_model,
    "rf": rf_model,
    "xgboost": xgboost_model,  # 2nd-order regularized splits; real pkg gated
    "catboost": catboost_model,  # oblivious-tree booster; real pkg gated
    "mlp": mlp_model,
    "rnn": rnn_model,
    "lstm": lstm_model,
    "direct_linear": direct_linear_model,
    "arima": arima_model,
    "auto_arima": auto_arima_model,
    "prophet": prophet_model,
    "tbats": tbats_model,
    "vecm": vecm_model,
    "mv_linear": mv_linear_model,
    "mv_sklearn": mv_model,  # estimator= selects any kernel estimator
    "svr": svr_model,
    "sgd": sgd_model,
}


def add_estimator(name: str, fn) -> None:
    """User extensibility (reference add_sklearn_estimator,
    _Forecaster_parent.py:786-814)."""
    MODELS[name] = fn


def add_sklearn_estimator(imported_module, called: str) -> None:
    """Register any sklearn-API regressor (a class with ``fit`` /
    ``predict``) as a kernel estimator callable via
    ``set_estimator(called)`` — the reference add_sklearn_estimator
    (_Forecaster_parent.py:786-814) on Spark terms: the CLASS ships in
    the Arrow-task closure and instances fit PER SERIES inside the
    kernel (no driver-side fitted object, so 100M series fit in
    parallel); hyperparameters flow through manual_forecast kwargs and
    grids exactly like the built-ins, and an ``mv_<called>`` joint
    multivariate alias registers alongside (same as every kernel
    estimator). Needs only duck-typed fit/predict — sklearn itself is
    not imported here."""
    import numpy as np

    def factory(**params):
        def fit(X, y):
            m = imported_module(**params)
            m.fit(np.asarray(X, float), np.asarray(y, float))
            return lambda A: np.asarray(
                m.predict(np.atleast_2d(np.asarray(A, float)))
            ).ravel()

        return fit

    def model(df, features=None, dynamic_testing=True, normalizer=None,
              **params):
        from scalecast_spark.models.kernel import run_kernel

        return run_kernel(
            df, features or [], factory(**params), dynamic_testing,
            normalizer,
        )

    KERNEL_FACTORIES[called] = factory
    MODELS[called] = model
    MODELS[f"mv_{called}"] = (
        lambda df, features=None, _e=called, **kw:
        mv_model(df, estimator=_e, features=features, **kw)
    )


def add_normalizer(called: str, imported_normalizer) -> None:
    """Register a feature normalizer usable as ``normalizer=called``
    in any kernel estimator — the reference add_normalizer
    (_Forecaster_parent.py:1944-1960). Accepts a scaler-like CLASS
    (zero-arg constructor with ``fit``/``transform`` — the sklearn
    shape the reference takes) or a plain function ``X ->
    transform_callable``. Fitting happens on the TRAIN slice inside
    each series' kernel task, same as the builtins."""
    from scalecast_spark.models import kernel as _kernel

    if isinstance(imported_normalizer, type):
        # scaler CLASS: a fresh instance fits per series/fold (a shared
        # instance would be silently re-fit across tasks)
        def fit(X, _cls=imported_normalizer):
            s = _cls()
            s.fit(X)
            return s.transform

        _kernel.CUSTOM_NORMALIZERS[called] = fit
    else:
        # plain factory: X -> transform callable
        _kernel.CUSTOM_NORMALIZERS[called] = imported_normalizer


def _kernel_factories():
    """fit-fn factories for every kernel-backed estimator — the hook
    that lets cross_validate evaluate the whole (fold × grid) matrix in
    ONE kernel pass (kernel.run_kernel_cv) instead of one job per cell. Each
    factory takes the estimator's hyperparameters (ignoring kernel-level
    args like normalizer/dynamic_testing) and returns a fit_fn."""
    from scalecast_spark.models.mlp import make_fit_mlp
    from scalecast_spark.models.sklearn_like import (
        fit_ols,
        make_fit_coordinate_descent,
        make_fit_knn,
        make_fit_ridge,
    )
    from scalecast_spark.models.svr_sgd import make_fit_sgd, make_fit_svr
    from scalecast_spark.models.trees import (
        make_fit_gbt,
        make_fit_oblivious_gbt,
        make_fit_rf,
        make_fit_xgb,
    )

    # NO **kw on these: an unknown grid key must raise TypeError (via
    # kernel_cell) so the batched-grid path (forecaster._grid_cells)
    # falls back to the generic per-cell path, which surfaces the same
    # TypeError as a NaN score — otherwise the two CV physical plans
    # silently diverge
    # (cells differing only in the unknown key would fit identically
    # and best_params would be chosen arbitrarily).
    return {
        "mlr": lambda: fit_ols,
        "ridge": lambda alpha=1.0: make_fit_ridge(alpha),
        "lasso": lambda alpha=1.0: make_fit_coordinate_descent(alpha, 1.0),
        "elasticnet": lambda alpha=1.0, l1_ratio=0.5: (
            make_fit_coordinate_descent(alpha, l1_ratio)
        ),
        "knn": lambda n_neighbors=5: make_fit_knn(n_neighbors),
        "svr": lambda kernel="linear", C=1.0, epsilon=0.1, gamma="scale": (
            make_fit_svr(kernel, C, epsilon, gamma)
        ),
        "sgd": lambda alpha=1e-4, l1_ratio=0.15: make_fit_sgd(alpha, l1_ratio),
        "gbt": lambda n_estimators=50, max_depth=3, learning_rate=0.1: (
            make_fit_gbt(n_estimators, max_depth, learning_rate)
        ),
        "xgboost": lambda n_estimators=50, max_depth=3, learning_rate=0.1, \
                reg_lambda=1.0, gamma=0.0: (
            make_fit_xgb(n_estimators, max_depth, learning_rate, reg_lambda, gamma)
        ),
        "catboost": lambda n_estimators=50, max_depth=3, learning_rate=0.1, \
                reg_lambda=1.0: (
            make_fit_oblivious_gbt(n_estimators, max_depth, learning_rate, reg_lambda)
        ),
        "rf": lambda n_estimators=50, max_depth=6, random_state=42: (
            make_fit_rf(n_estimators, max_depth, random_state=random_state)
        ),
        "mlp": lambda hidden=16, epochs=400, lr=0.01: (
            make_fit_mlp(hidden, epochs, lr)
        ),
    }


KERNEL_FACTORIES = _kernel_factories()


def kernel_cell(estimator: str, params: dict, dynamic_testing=True) -> tuple:
    """``(fit_fn, normalizer, dynamic_testing)`` for a kernel-backed
    estimator and one set of its hyperparameters — the cell every
    kernel entry point takes. ``normalizer`` and ``dynamic_testing``
    are read out of ``params``; when absent, the normalizer defaults to
    the model function's signature default and ``dynamic_testing`` to
    the argument. Raises KeyError for an estimator without a kernel
    factory and TypeError for a hyperparameter its factory does not
    take."""
    import inspect

    factory = KERNEL_FACTORIES[estimator]
    try:
        sig = inspect.signature(MODELS[estimator]).parameters
    except (TypeError, ValueError):
        sig = {}
    p = dict(params)
    norm = p.pop(
        "normalizer",
        sig["normalizer"].default if "normalizer" in sig else None,
    )
    dyn = p.pop("dynamic_testing", dynamic_testing)
    return factory(**p), norm, dyn

# per-estimator MV aliases — the reference MVForecaster accepts every
# sklearn estimator (models.py:164-420, registry cfg.py:50-54); each
# mv_<name> is the joint wide-lag recursive strategy over that
# estimator's kernel core (models/mv_kernel.mv_model)
for _est in _kernel_factories():
    MODELS[f"mv_{_est}"] = (
        lambda df, features=None, _e=_est, **kw:
        mv_model(df, estimator=_e, features=features, **kw)
    )
del _est


__all__ = [
    "naive_model", "linear_model", "mlr_model", "ridge_model",
    "lasso_model", "elasticnet_model", "knn_model", "hwes_model",
    "theta_model", "MODELS", "add_estimator", "add_sklearn_estimator",
    "add_normalizer",
]
