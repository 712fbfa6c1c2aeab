"""Parity of the numpy horizon recursion (kernel._recurse) against the
per-step pandas loop it replaced.

The oracle below is the earlier per-series pandas implementation of the
kernel entry points: every horizon step copies the feature row as a
pandas Series, overwrites its AR cells by name and converts it back to
numpy. The engine output must equal it exactly (same arithmetic in the
same order) on random series with NaN AR warm-up rows, for every
dynamic_testing mode, normalizer and fit under test. The rolling-origin
backtest is checked through ``pipeline.backtest_kernel_models``, which
runs every model as a cell of one ``run_kernel_cv`` pass; the oracle
keeps the old per-model slicer, whose skip of too-short iterations
never applies here (the shortest fixture series keeps 25 history rows
at the deepest cut).
"""

import numpy as np
import pandas as pd
import pytest

from scalecast_spark.frame import DS, IS_FUTURE, SERIES, Y
from scalecast_spark.models import kernel as K
from scalecast_spark.models.sklearn_like import (
    fit_ols, make_fit_knn, make_fit_ridge,
)
from scalecast_spark.pipeline import backtest_kernel_models

FITS = {"mlr": fit_ols, "ridge": make_fit_ridge(0.5), "knn": make_fit_knn(3)}
#: the registry estimator and hyperparameters that build each of FITS
ESTIMATORS = {
    "mlr": ("mlr", {}), "ridge": ("ridge", {"alpha": 0.5}),
    "knn": ("knn", {"n_neighbors": 3}),
}
NORMS = [None, "minmax", "scale"]
DYNS = [True, False, 3]
FEAT = ["ar_1", "ar_2", "ar_4", "t", "x"]
#: orthogonal array over (fit, normalizer, dynamic_testing): every
#: pair of levels of any two factors appears once
COMBOS = [
    (fit, NORMS[j], DYNS[(i + j) % 3])
    for i, fit in enumerate(FITS) for j in range(3)
]
ALL_CELLS = [(f, n, d) for f in FITS for n in NORMS for d in DYNS]


# ------------------------------------------------------------- oracle


def _peek(dyn):
    return 0 if dyn is True else 1 if dyn is False else int(dyn)


def _ar_lags(feat):
    return {int(m.group(1)): c for c in feat for m in [K._AR_RE.match(c)] if m}


def _fit(fit_fn, norm_name, train, feat):
    Xtr = np.column_stack([train[c].to_numpy(float) for c in feat])
    norm = K._fit_normalizer(norm_name, Xtr)
    return norm, fit_fn(norm(Xtr), train[Y].to_numpy(float))


def _loop(predict, norm, hist, fut_rows, fut_actuals, feat, peek_every):
    """The per-step pandas recursion as it stood before the numpy one."""
    ar_lags = _ar_lags(feat)
    hist = list(hist)
    preds = []
    for step in range(1, len(fut_rows) + 1):
        row = fut_rows.iloc[step - 1].copy()
        for k, cname in ar_lags.items():
            if k <= len(hist):
                row[cname] = hist[-k]
        pred = float(predict(norm(row.to_numpy(float).reshape(1, -1))))
        preds.append(pred)
        actual = fut_actuals[step - 1]
        if peek_every and step % peek_every == 0 and not pd.isna(actual):
            hist.append(float(actual))
        else:
            hist.append(pred)
    return preds


def _full(pdf, fit_fn, norm_name, dyn, feat, train=None):
    """Static fitted values + recursive horizon over one sorted series."""
    obs = pdf[pdf[IS_FUTURE] == 0]
    if train is None:
        train = obs.dropna(subset=feat + [Y])
    if len(train) <= max(len(feat), 1):
        return np.full(len(pdf), np.nan)
    norm, predict = _fit(fit_fn, norm_name, train, feat)
    fitted = np.full(len(pdf), np.nan)
    ok = (pdf[feat].notna().all(axis=1) & (pdf[IS_FUTURE] == 0)).to_numpy()
    if ok.any():
        fitted[ok] = predict(
            norm(np.column_stack([pdf.loc[ok, c].to_numpy(float) for c in feat]))
        )
    fut_idx = pdf.index[pdf[IS_FUTURE] == 1].tolist()
    if fut_idx:
        fitted[fut_idx] = _loop(
            predict, norm, obs[Y].to_numpy(float), pdf.loc[fut_idx, feat],
            pdf.loc[fut_idx, Y].to_numpy(), feat, _peek(dyn),
        )
    return fitted


def _series(pdf):
    for _, g in pdf.groupby(SERIES, sort=True):
        yield g.sort_values(DS).reset_index(drop=True)


def oracle_run_kernel(pdf, fit_fn, norm_name, dyn, feat):
    outs = []
    for g in _series(pdf):
        o = g[[SERIES, DS]].copy()
        o["forecast"] = _full(g, fit_fn, norm_name, dyn, feat)
        outs.append(o)
    return pd.concat(outs, ignore_index=True)


def oracle_testfull(pdf, fit_fn, norm_name, dyn, feat, test_length):
    outs = []
    for g in _series(pdf):
        o = g[[SERIES, DS, Y, IS_FUTURE]].copy()
        o["_arm"] = "full"
        o["forecast"] = _full(g, fit_fn, norm_name, dyn, feat)
        outs.append(o)
        obs = g[g[IS_FUTURE] == 0]
        cut = max(len(obs) - test_length, 0)
        pre, hold = obs.iloc[:cut], obs.iloc[cut:]
        t = hold[[SERIES, DS, Y]].copy()
        t[IS_FUTURE] = 1
        t["_arm"] = "test"
        train = pre.dropna(subset=feat + [Y])
        if len(train) <= max(len(feat), 1):
            t["forecast"] = np.nan
        else:
            norm, predict = _fit(fit_fn, norm_name, train, feat)
            t["forecast"] = _loop(
                predict, norm, pre[Y].to_numpy(float), hold[feat],
                hold[Y].to_numpy(), feat, _peek(dyn),
            )
        outs.append(t)
    return pd.concat(outs, ignore_index=True)


def oracle_transfer(src, dst, fit_fn, norm_name, dyn, feat):
    outs = []
    for g in _series(dst):
        s = src[src[SERIES] == g[SERIES].iloc[0]]
        train = s[s[IS_FUTURE] == 0].dropna(subset=feat + [Y]).sort_values(DS)
        o = g[[SERIES, DS]].copy()
        o["forecast"] = _full(g, fit_fn, norm_name, dyn, feat, train=train)
        outs.append(o)
    return pd.concat(outs, ignore_index=True)


def _hold_preds(obs, hold, cells, feat):
    train = obs.dropna(subset=feat + [Y])
    for ci, (fit_fn, norm_name, dyn) in cells:
        if len(train) <= max(len(feat), 1):
            yield ci, [np.nan] * len(hold)
            continue
        norm, predict = _fit(fit_fn, norm_name, train, feat)
        yield ci, _loop(
            predict, norm, obs[Y].to_numpy(float), hold[feat],
            hold[Y].to_numpy(), feat, _peek(dyn),
        )


def oracle_cv(pdf, cells, feat, k, test_length, space):
    outs = []
    for g in _series(pdf):
        g = g[g[IS_FUTURE] == 0].reset_index(drop=True)
        for fold in range(k):
            sub = g.iloc[: max(len(g) - fold * space, 0)]
            cut = max(len(sub) - test_length, 0)
            obs, hold = sub.iloc[:cut], sub.iloc[cut:]
            for ci, preds in _hold_preds(obs, hold, list(enumerate(cells)), feat):
                o = hold[[SERIES, DS, Y]].copy()
                o["_fold"] = fold
                o["_cell"] = ci
                o["forecast"] = preds
                outs.append(o)
    return pd.concat(outs, ignore_index=True)


def oracle_backtest(pdf, fit_fn, norm_name, dyn, feat, fcst_length, n_iter, jump_back):
    outs = []
    for g in _series(pdf):
        g = g[g[IS_FUTURE] == 0].reset_index(drop=True)
        for it in range(n_iter):
            cut = len(g) - (fcst_length + it * jump_back)
            if cut <= max(len(feat), 1):
                continue
            hold = g.iloc[cut: cut + fcst_length]
            (_, preds), = _hold_preds(
                g.iloc[:cut], hold, [(0, (fit_fn, norm_name, dyn))], feat
            )
            o = hold[[SERIES, DS, Y]].copy()
            o["iteration"] = it
            o["forecast"] = preds
            outs.append(o)
    return pd.concat(outs, ignore_index=True)


# ------------------------------------------------------------ fixtures


def _make(seed, scale=1.0, drop=None, n_series=3, n_obs=34, horizon=6):
    rng = np.random.default_rng(seed)
    parts = []
    for s in range(n_series):
        if s == drop:
            continue
        n = n_obs + 3 * s
        y = 10 + np.cumsum(rng.normal(0, 1, n)) + 2 * np.sin(np.arange(n) / 2)
        y = scale * y
        if s == 1:
            y[-3] = np.nan  # a missing actual inside the held-out span
        g = pd.DataFrame({
            SERIES: f"s{s}",
            DS: pd.date_range("2024-01-01", periods=n + horizon, freq="D"),
            Y: np.concatenate([y, np.full(horizon, np.nan)]),
            IS_FUTURE: np.r_[np.zeros(n), np.ones(horizon)].astype("int32"),
        })
        for k in (1, 2, 4):
            g[f"ar_{k}"] = g[Y].shift(k)  # NaN warm-up rows
        g["t"] = np.arange(1.0, n + horizon + 1)
        g["x"] = rng.normal(size=n + horizon)
        parts.append(g)
    return pd.concat(parts, ignore_index=True)


@pytest.fixture(scope="module")
def frames(spark):
    src = spark.createDataFrame(_make(7)).cache()
    # dst lacks s2 and adds s3, which has no src twin (forecast NaN)
    dst = spark.createDataFrame(
        _make(11, scale=1.3, drop=2, n_series=4)
    ).cache()
    # the oracle reads back exactly what Spark holds (ds round-trip)
    return src, src.toPandas(), dst, dst.toPandas()


def _same(got, want, keys):
    cols = list(want.columns)
    got = got[cols].sort_values(keys, kind="stable").reset_index(drop=True)
    want = want.sort_values(keys, kind="stable").reset_index(drop=True)
    assert got["forecast"].notna().any()
    pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)


def _cells(names):
    return [(FITS[f], n, d) for f, n, d in names]


# --------------------------------------------------------------- tests


@pytest.mark.parametrize("fit,norm,dyn", COMBOS)
def test_single_model_entry_points_match_oracle(frames, fit, norm, dyn):
    sdf, pdf, sdst, pdst = frames
    fn = FITS[fit]
    got = K.run_kernel(sdf, FEAT, fn, dyn, norm).toPandas()
    _same(got, oracle_run_kernel(pdf, fn, norm, dyn, FEAT), [SERIES, DS])

    got = K.run_kernel_testfull(sdf, FEAT, fn, 5, dyn, norm).toPandas()
    _same(
        got, oracle_testfull(pdf, fn, norm, dyn, FEAT, 5),
        ["_arm", SERIES, DS],
    )

    got = K.transfer_kernel(sdf, sdst, FEAT, fn, dyn, norm).toPandas()
    _same(got, oracle_transfer(pdf, pdst, fn, norm, dyn, FEAT), [SERIES, DS])

    got = _backtest(sdf, {fit: (fit, norm, dyn)})
    _same(
        got, oracle_backtest(pdf, fn, norm, dyn, FEAT, 5, 3, 2),
        ["iteration", SERIES, DS],
    )


def _backtest(sdf, models):
    """backtest_kernel_models over the prebuilt FEAT columns, 5-step
    holdouts, 3 iterations 2 rows apart; ``models``: name -> (FITS key,
    normalizer, dynamic_testing)."""
    spec = {}
    for name, (fit, norm, dyn) in models.items():
        est, params = ESTIMATORS[fit]
        spec[name] = (est, {**params, "normalizer": norm, "dynamic_testing": dyn})
    return backtest_kernel_models(
        sdf, spec, lambda df: (df, FEAT), fcst_length=5, n_iter=3, jump_back=2,
    ).toPandas()


def test_backtest_models_in_one_pass_match_single_model_oracles(frames):
    """Three models as cells of one pass: each model's rows equal its
    own single-model oracle."""
    sdf, pdf, _, _ = frames
    models = {
        "a": ("ridge", "minmax", True), "b": ("knn", "scale", 3),
        "c": ("mlr", None, False),
    }
    got = _backtest(sdf, models)
    assert sorted(got["model"].unique()) == sorted(models)
    for name, (fit, norm, dyn) in models.items():
        _same(
            got[got["model"] == name],
            oracle_backtest(pdf, FITS[fit], norm, dyn, FEAT, 5, 3, 2),
            ["iteration", SERIES, DS],
        )


@pytest.mark.parametrize("n_series", [None, 1])
def test_cv_matches_oracle_on_every_cell(frames, n_series):
    """n_series=1 forces the fold x cell-chunk task split."""
    sdf, pdf, _, _ = frames
    cells = _cells(ALL_CELLS)
    got = K.run_kernel_cv(
        sdf, FEAT, cells, k=3, test_length=5, space=3, n_series=n_series
    ).toPandas()
    want = oracle_cv(pdf, cells, FEAT, 3, 5, 3)
    _same(got, want, ["_fold", "_cell", SERIES, DS])
    assert got["_error"].isna().all()


def test_recurse_peeks_only_finite_actuals():
    """dynamic_testing=1 feeds actuals back, except a NaN actual, where
    the step's own prediction joins the history instead."""
    rows = np.array([[0.0], [0.0], [0.0]])
    preds = K._recurse(
        lambda A: A[:, 0] + 1.0, lambda A: A, rows, [(1, 0)],
        [10.0], np.array([100.0, np.nan, 5.0]), 1,
    )
    assert preds.tolist() == [11.0, 101.0, 102.0]
