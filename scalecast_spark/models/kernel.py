"""The recursive fit/predict kernel — the engine's shared estimator
machinery (SURVEY.md §7.4 #1).

Replicates the reference's core prediction semantics
(src/scalecast/models.py:109-149): a model is fit per series on the
observed design matrix, then the horizon is predicted RECURSIVELY —
each step's prediction is written into the AR feature cells of later
steps (models.py:145-147); ``dynamic_testing=k`` peeks the true actual
every k-th step (models.py:124-127).

One ``applyInPandas`` pass per model run: parallel across series (the
scale axis), sequential across the horizon (irreducibly). ``fit_fn``
is any (X, y) → predict-callable — numpy OLS/ridge/lasso/kNN live in
sklearn_like.py. Feature normalization (the reference's normalizer
registry, cfg.py:67-73) is fit on train rows only and applied inside
the same kernel (models.py:83,105's fit-on-train semantics).

Every entry point (run_kernel, run_kernel_testfull, transfer_kernel,
run_kernel_grid, run_kernel_cv, run_kernel_backtest) runs its horizon
through ONE numpy recursion, :func:`_recurse`: the future feature rows
arrive as a float array, the AR cells of each step's row are
overwritten from the rolling history by column index, and the step's
prediction (or the peeked actual) is appended to that history. Pandas
slices each series once per fit; the per-step loop touches no pandas
object, so a horizon step costs the model's predict and little else.
"""

from __future__ import annotations

import re
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from scalecast_spark.frame import DS, IS_FUTURE, SERIES, Y

_AR_RE = re.compile(r"^ar_(\d+)$")

#: user-registered normalizers (reference add_normalizer,
#: _Forecaster_parent.py:1944-1960): name -> fit(X) -> transform
#: callable. Checked BEFORE the builtins so a user can also override
#: one by name. Populated via models.add_normalizer.
CUSTOM_NORMALIZERS: dict = {}

#: last run_kernel_cv task-split decision (r14 observability hook for
#: the multi-tenant width probe): {"n_series", "fold_split",
#: "chunk_count", "replication"}
LAST_CV_SPLIT: dict | None = None


def _resolve_normalizer(name):
    """Resolve a CUSTOM normalizer name to its fit callable ON THE
    DRIVER: executor Python workers re-import this module fresh, so
    the CUSTOM_NORMALIZERS registry is always empty there — the
    resolved callable must travel inside the task closure. Builtin
    names and None pass through untouched (every kernel entry point
    calls this before building its closure)."""
    if isinstance(name, str) and name in CUSTOM_NORMALIZERS:
        return CUSTOM_NORMALIZERS[name]
    return name


#: normalizer registry (reference classes.py:92-139): name ->
#: fit(X) -> (transform callable)
def _fit_normalizer(name: str | None, X: np.ndarray):
    if not name:
        return lambda A: A
    if callable(name):  # pre-resolved custom fit function
        return name(X)
    if name == "minmax":
        lo, hi = X.min(axis=0), X.max(axis=0)
        rng = np.where(hi > lo, hi - lo, 1.0)
        return lambda A: (A - lo) / rng
    if name == "scale":
        mu, sd = X.mean(axis=0), X.std(axis=0)
        sd = np.where(sd > 0, sd, 1.0)
        return lambda A: (A - mu) / sd
    if name == "robust":
        med = np.median(X, axis=0)
        iqr = np.percentile(X, 75, axis=0) - np.percentile(X, 25, axis=0)
        iqr = np.where(iqr > 0, iqr, 1.0)
        return lambda A: (A - med) / iqr
    raise ValueError(f"unknown normalizer {name!r}")


def _peek_every(dynamic_testing: bool | int) -> int:
    """dynamic_testing → peek period: True never peeks (0), False peeks
    every step (1), an int k peeks every k-th step."""
    return (
        0 if dynamic_testing is True else 1 if dynamic_testing is False
        else int(dynamic_testing)
    )


def _ar_columns(feat: list[str]) -> list[tuple[int, int]]:
    """(AR lag, column index in ``feat``) pairs of the ``ar_<k>``
    features — the cells the recursion overwrites from its history."""
    ar_lags = {int(m.group(1)): c for c in feat for m in [_AR_RE.match(c)] if m}
    return [
        (k, j) for k, c in ar_lags.items()
        for j, name in enumerate(feat) if name == c
    ]


def _design(frame: pd.DataFrame, feat: list[str]) -> np.ndarray:
    return np.column_stack([frame[c].to_numpy(float) for c in feat])


def _fit(fit_fn, normalizer, train: pd.DataFrame, feat: list[str]):
    """Fit the normalizer and the model on ``train`` → (norm, predict)."""
    Xtr = _design(train, feat)
    norm = _fit_normalizer(normalizer, Xtr)
    return norm, fit_fn(norm(Xtr), train[Y].to_numpy(float))


def _recurse(
    predict, norm, rows: np.ndarray, ar_cols: list[tuple[int, int]],
    hist, actuals: np.ndarray, peek_every: int,
) -> np.ndarray:
    """The recursive horizon loop shared by every kernel entry point.

    ``rows`` holds the future feature rows (float, one per step). Each
    step's AR cells are ALWAYS overwritten from the rolling history: on
    test-marked rows the frame carries true lagged actuals in ar_k
    (features were built before the test split), and trusting them
    would silently peek — recursion must see its own predictions
    (reference models.py:145-147). The step's prediction joins the
    history, or the true actual every ``peek_every``-th step when it
    exists."""
    hist = list(hist)
    preds = np.empty(len(rows))
    for s in range(len(rows)):
        x = rows[s].copy()
        for lag, j in ar_cols:
            if lag <= len(hist):
                x[j] = hist[-lag]
        pred = float(predict(norm(x.reshape(1, -1))))
        preds[s] = pred
        actual = actuals[s]
        if peek_every and (s + 1) % peek_every == 0 and not np.isnan(actual):
            hist.append(float(actual))
        else:
            hist.append(pred)
    return preds


def _fitted_and_horizon(
    pdf: pd.DataFrame, feat, ar_cols, predict, norm, hist, peek_every,
) -> np.ndarray:
    """Static fitted values on complete observed rows (actual AR cells)
    and recursive predictions on the future rows of a DS-sorted frame."""
    fitted = np.full(len(pdf), np.nan)
    ok = (pdf[feat].notna().all(axis=1) & (pdf[IS_FUTURE] == 0)).to_numpy()
    if ok.any():
        fitted[ok] = predict(norm(_design(pdf.loc[ok], feat)))
    fut = (pdf[IS_FUTURE] == 1).to_numpy()
    if fut.any():
        fitted[fut] = _recurse(
            predict, norm, _design(pdf.loc[fut], feat), ar_cols, hist,
            pdf.loc[fut, Y].to_numpy(float), peek_every,
        )
    return fitted


def run_kernel(
    df: DataFrame,
    features: list[str],
    fit_fn: Callable[[np.ndarray, np.ndarray], Callable[[np.ndarray], float]],
    dynamic_testing: bool | int = True,
    normalizer: str | None = None,
) -> DataFrame:
    """Adds ``forecast``: fitted values on observed rows (actual AR
    cells), recursive dynamic predictions on future rows."""
    normalizer = _resolve_normalizer(normalizer)
    feat = list(features)
    ar_cols = _ar_columns(feat)
    peek_every = _peek_every(dynamic_testing)

    schema = T.StructType(
        [
            T.StructField(SERIES, df.schema[SERIES].dataType),
            T.StructField(DS, df.schema[DS].dataType),
            T.StructField("forecast", T.DoubleType()),
        ]
    )

    def fit_predict(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(DS).reset_index(drop=True)
        obs = pdf[pdf[IS_FUTURE] == 0]
        train = obs.dropna(subset=feat + [Y])
        out = pdf[[SERIES, DS]].copy()
        if len(train) <= max(len(feat), 1):
            out["forecast"] = np.nan
            return out
        norm, predict = _fit(fit_fn, normalizer, train, feat)
        out["forecast"] = _fitted_and_horizon(
            pdf, feat, ar_cols, predict, norm, obs[Y].to_numpy(float),
            peek_every,
        )
        return out

    preds = (
        df.select(SERIES, DS, IS_FUTURE, Y, *feat)
        .groupBy(SERIES)
        .applyInPandas(fit_predict, schema)
    )
    return df.join(preds, on=[SERIES, DS], how="left")


def run_kernel_testfull(
    df: DataFrame,
    features: list[str],
    fit_fn: Callable[[np.ndarray, np.ndarray], Callable[[np.ndarray], float]],
    test_length: int,
    dynamic_testing: bool | int = True,
    normalizer: str | None = None,
) -> DataFrame:
    """manual_forecast's TWO kernel passes fused into ONE job
    (optimization guide §1.2 "remove unnecessary passes"): each series
    task fits twice — the TEST fit (train on pre-test history,
    recursively predict the held-out last ``test_length`` observed
    rows, exactly what ``run_kernel`` over ``_mark_test_rows(df)``
    computes) and the FULL fit (train on all observed rows, static
    fitted values + recursive horizon, exactly ``run_kernel(df)``) —
    and emits both tagged by ``_arm``. Values are bit-identical to the
    two-pass form (same numpy fits, same fold slicing, same peek
    rules; pinned by tests/test_round15_fixes.py parity lane); only
    the job count changes: one scan + one shuffle instead of two of
    each, and the output is SELF-CONTAINED (carries y/is_future), so
    downstream metric/interval/export consumers never join back to the
    feature frame.

    Output: (series_id, ds, y, is_future, _arm, forecast) where
    ``_arm='test'`` rows are the held-out test predictions (is_future
    reported as 1, matching the marked-frame convention) and
    ``_arm='full'`` rows cover every input row (fitted + horizon).
    """
    normalizer = _resolve_normalizer(normalizer)
    feat = list(features)
    ar_cols = _ar_columns(feat)
    peek_every = _peek_every(dynamic_testing)

    schema = T.StructType(
        [
            T.StructField(SERIES, df.schema[SERIES].dataType),
            T.StructField(DS, df.schema[DS].dataType),
            T.StructField(Y, T.DoubleType()),
            T.StructField(IS_FUTURE, T.IntegerType()),
            T.StructField("_arm", T.StringType()),
            T.StructField("forecast", T.DoubleType()),
        ]
    )

    def fit_predict(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(DS).reset_index(drop=True)
        obs = pdf[pdf[IS_FUTURE] == 0]
        outs = []

        # ---- FULL arm: run_kernel(df) verbatim ----
        out = pdf[[SERIES, DS, Y, IS_FUTURE]].copy()
        train = obs.dropna(subset=feat + [Y])
        if len(train) <= max(len(feat), 1):
            out["forecast"] = np.nan
        else:
            norm, predict = _fit(fit_fn, normalizer, train, feat)
            out["forecast"] = _fitted_and_horizon(
                pdf, feat, ar_cols, predict, norm, obs[Y].to_numpy(float),
                peek_every,
            )
        out["_arm"] = "full"
        outs.append(out)

        # ---- TEST arm: run_kernel(_mark_test_rows(df)) verbatim ----
        # _mark_test_rows drops real future rows and re-flags the last
        # test_length OBSERVED rows as future; replicate that slicing.
        if test_length:
            n = len(obs)
            cut = max(n - test_length, 0)
            pre = obs.iloc[:cut]
            hold = obs.iloc[cut:]
            t_out = hold[[SERIES, DS, Y]].copy()
            t_out[IS_FUTURE] = 1
            train_t = pre.dropna(subset=feat + [Y])
            if len(train_t) <= max(len(feat), 1):
                t_out["forecast"] = np.nan
            else:
                norm_t, predict_t = _fit(fit_fn, normalizer, train_t, feat)
                t_out["forecast"] = _recurse(
                    predict_t, norm_t, _design(hold, feat), ar_cols,
                    pre[Y].to_numpy(float), hold[Y].to_numpy(float),
                    peek_every,
                )
            t_out["_arm"] = "test"
            outs.append(t_out)

        return pd.concat(outs, ignore_index=True)[
            [SERIES, DS, Y, IS_FUTURE, "_arm", "forecast"]
        ]

    return (
        df.select(SERIES, DS, IS_FUTURE, Y, *feat)
        .groupBy(SERIES)
        .applyInPandas(fit_predict, schema)
    )


def transfer_kernel(
    src_df: DataFrame,
    dst_df: DataFrame,
    features: list[str],
    fit_fn: Callable[[np.ndarray, np.ndarray], Callable[[np.ndarray], float]],
    dynamic_testing: bool | int = True,
    normalizer: str | None = None,
) -> DataFrame:
    """Fit on SOURCE series, predict on DESTINATION series — the
    reference's ``transfer_predict`` (apply an already-trained model
    to another object's data without retraining,
    _Forecaster_parent.py:1869-1943) in model-as-data form: the
    engine keeps no driver-side fitted object, so each series' (fit
    on src, apply to dst) pair runs inside ONE cogrouped Arrow task —
    a transfer over 100M series distributes exactly like a fit, and
    the Arrow payload per task is the two series, KBs.

    Same recursion semantics as :func:`run_kernel` on the dst side
    (AR cells overwritten from the rolling dst history; dst future
    rows predicted recursively), but the model parameters come from
    the SRC rows. Dst series with no src twin forecast NaN — there is
    no model to transfer. Adds ``forecast`` to ``dst_df``."""
    normalizer = _resolve_normalizer(normalizer)
    feat = list(features)
    ar_cols = _ar_columns(feat)
    peek_every = _peek_every(dynamic_testing)
    schema = T.StructType(
        [
            T.StructField(SERIES, dst_df.schema[SERIES].dataType),
            T.StructField(DS, dst_df.schema[DS].dataType),
            T.StructField("forecast", T.DoubleType()),
        ]
    )

    def fit_apply(src_pdf: pd.DataFrame, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(DS).reset_index(drop=True)
        out = pdf[[SERIES, DS]].copy()
        train = (
            src_pdf[src_pdf[IS_FUTURE] == 0].dropna(subset=feat + [Y])
            if len(src_pdf)
            else src_pdf
        )
        if len(train) <= max(len(feat), 1):
            out["forecast"] = np.nan
            return out
        norm, predict = _fit(fit_fn, normalizer, train.sort_values(DS), feat)
        out["forecast"] = _fitted_and_horizon(
            pdf, feat, ar_cols, predict, norm,
            pdf.loc[pdf[IS_FUTURE] == 0, Y].to_numpy(float), peek_every,
        )
        return out

    cols = [SERIES, DS, IS_FUTURE, Y, *feat]
    preds = (
        src_df.select(*cols)
        .groupBy(SERIES)
        .cogroup(dst_df.select(*cols).groupBy(SERIES))
        .applyInPandas(fit_apply, schema)
    )
    return dst_df.join(preds, on=[SERIES, DS], how="left")


def run_kernel_grid(
    df: DataFrame,
    features: list[str],
    cells: list[tuple],
    default_dynamic: bool | int = False,
) -> DataFrame:
    """Evaluate a WHOLE hyperparameter grid in ONE kernel pass.

    ``cells`` is a list of ``(fit_fn, normalizer, dynamic_testing)``
    triples (``dynamic_testing=None`` → ``default_dynamic``). Returns
    the future-row predictions of every cell:
    ``(series, ds, _cell, y, forecast)``.

    This is the scale-correct CV physical plan: one job reads each
    fold's data ONCE and fits all grid cells per series inside the
    task (the per-cell numpy fits are microseconds next to the scan +
    shuffle that dominate at 100 TB), instead of one Spark job — one
    full data pass — per (grid × fold) cell. Semantics are identical
    to looping :func:`run_kernel` per cell: same train mask, same
    fit-on-train normalizers, same recursive AR overwrite.
    """
    cells = [
        (fn, _resolve_normalizer(nz), default_dynamic if dt is None else dt)
        for fn, nz, dt in cells
    ]
    feat = list(features)
    ar_cols = _ar_columns(feat)

    schema = T.StructType(
        [
            T.StructField(SERIES, df.schema[SERIES].dataType),
            T.StructField(DS, df.schema[DS].dataType),
            T.StructField("_cell", T.IntegerType()),
            T.StructField(Y, T.DoubleType()),
            T.StructField("forecast", T.DoubleType()),
        ]
    )

    def fit_predict(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(DS).reset_index(drop=True)
        obs = pdf[pdf[IS_FUTURE] == 0]
        train = obs.dropna(subset=feat + [Y])
        fut_idx = pdf.index[pdf[IS_FUTURE] == 1].tolist()
        base = pdf.loc[fut_idx, [SERIES, DS, Y]].reset_index(drop=True)
        outs = []
        if len(train) <= max(len(feat), 1):
            for ci in range(len(cells)):
                o = base.copy()
                o["_cell"] = ci
                o["forecast"] = np.nan
                outs.append(o)
            return pd.concat(outs, ignore_index=True)[
                [SERIES, DS, "_cell", Y, "forecast"]
            ]
        Xtr = _design(train, feat)
        ytr = train[Y].to_numpy(float)
        hist0 = obs[Y].to_numpy(float)
        fut_rows = _design(pdf.loc[fut_idx], feat)
        fut_actuals = pdf.loc[fut_idx, Y].to_numpy(float)
        for ci, (fit_fn, normalizer, dyn) in enumerate(cells):
            norm = _fit_normalizer(normalizer, Xtr)
            predict = fit_fn(norm(Xtr), ytr)
            o = base.copy()
            o["_cell"] = ci
            o["forecast"] = _recurse(
                predict, norm, fut_rows, ar_cols, hist0, fut_actuals,
                _peek_every(dyn),
            )
            outs.append(o)
        return pd.concat(outs, ignore_index=True)[
            [SERIES, DS, "_cell", Y, "forecast"]
        ]

    return (
        df.select(SERIES, DS, IS_FUTURE, Y, *feat)
        .groupBy(SERIES)
        .applyInPandas(fit_predict, schema)
    )


def run_kernel_cv(
    df: DataFrame,
    features: list[str],
    cells: list[tuple],
    k: int,
    test_length: int,
    space: int,
    aside: int = 0,
    train_length: int | None = None,
    default_dynamic: bool | int = False,
    n_series: int | None = None,
) -> DataFrame:
    """ALL k rolling-origin folds × ALL grid cells in ONE kernel pass.

    Combines :func:`run_kernel_grid` (grid axis inside the task) with
    :func:`run_kernel_backtest` (rewind axis inside the task): each
    series task slices its own history per fold (drop the last
    ``aside + fold*space`` rows, hold out the next ``test_length``),
    refits every cell, and predicts the holdout recursively. CV cost
    collapses from k jobs (round 2) or k×|grid| jobs (round 1) to ONE
    scan + ONE shuffle — at 100 TB the scan dominates, so this is the
    floor. Fold/slice semantics match cross_validate's DataFrame fold
    construction row-for-row (asserted by the batched-vs-generic parity
    test). Emits (fold, cell, series, y, forecast) for holdout rows.

    Task split (r12 verdict #2): grouping by SERIES alone serializes
    the whole fold × cell matrix inside one Arrow task per series —
    with 5 reference-shaped series a 32-core cluster idles at 5/32
    utilization and per-series length growth lands on the wall clock
    (sf1 ratio 3.5×). When ``n_series`` (pass it — it's one row of an
    aggregate the caller usually already ran) is below the session's
    default parallelism, each series' rows are replicated across the
    FOLD axis and, if still underfilled, round-robin CELL chunks —
    parallelism becomes (series × fold × cell-chunk). The replication
    factor is bounded by ceil(cores / n_series), so at ≥cores series
    (the 100 TB shape) it is exactly 1 and the plan is unchanged:
    replication only spends shuffle bytes where compute would
    otherwise idle. Scores are bit-identical either way — the same
    numpy fits run, just in different tasks.
    """
    cells = [
        (fn, _resolve_normalizer(nz), default_dynamic if dt is None else dt)
        for fn, nz, dt in cells
    ]
    feat = list(features)
    ar_cols = _ar_columns(feat)

    n_cells = len(cells)
    fold_split = False
    chunk_count = 1
    if n_series is not None and n_series > 0:
        target = df.sparkSession.sparkContext.defaultParallelism
        tasks = n_series
        if tasks < target and k > 1:
            fold_split = True
            tasks *= k
        if tasks < target and n_cells > 1:
            chunk_count = min(n_cells, -(-target // max(tasks, 1)))
    # observability hook (r14 verdict #7): the replication decision,
    # inspectable by the width probe / plan-shape tests — replication
    # factor must be exactly 1 once n_series >= defaultParallelism
    global LAST_CV_SPLIT
    LAST_CV_SPLIT = {
        "n_series": n_series,
        "fold_split": fold_split,
        "chunk_count": chunk_count,
        "replication": (k if fold_split else 1) * chunk_count,
    }

    schema = T.StructType(
        [
            T.StructField("_fold", T.IntegerType()),
            T.StructField("_cell", T.IntegerType()),
            T.StructField(SERIES, df.schema[SERIES].dataType),
            T.StructField(Y, T.DoubleType()),
            T.StructField("forecast", T.DoubleType()),
        ]
    )

    def fit_predict(pdf: pd.DataFrame) -> pd.DataFrame:
        # task scope: with the fold/cell split active, this task owns
        # ONE fold and ONE round-robin cell chunk (key cols are
        # constant within an applyInPandas group — read before the
        # is_future filter can empty the frame)
        my_folds = (
            [int(pdf["_fold_t"].iloc[0])] if "_fold_t" in pdf.columns
            else range(k)
        )
        if "_cellgrp" in pdf.columns:
            grp = int(pdf["_cellgrp"].iloc[0])
            my_cells = [
                (ci, cells[ci]) for ci in range(n_cells)
                if ci % chunk_count == grp
            ]
        else:
            my_cells = list(enumerate(cells))
        pdf = pdf[pdf[IS_FUTURE] == 0].sort_values(DS).reset_index(drop=True)
        n = len(pdf)
        outs = []
        for fold in my_folds:
            chop = aside + fold * space
            # clamp: chop >= n must yield an EMPTY fold, matching the
            # DataFrame path's row_number filter — an unclamped negative
            # iloc bound would wrap around and keep the oldest rows
            sub = pdf.iloc[: max(n - chop, 0)] if chop else pdf
            if train_length:
                sub = sub.iloc[-(train_length + test_length):]
            if len(sub) == 0:
                continue
            cut = max(len(sub) - test_length, 0)
            obs = sub.iloc[:cut]
            hold = sub.iloc[cut:]
            base = hold[[SERIES, Y]].copy().reset_index(drop=True)
            base.insert(0, "_fold", fold)
            train = obs.dropna(subset=feat + [Y])
            if len(train) <= max(len(feat), 1):
                for ci, _ in my_cells:
                    o = base.copy()
                    o.insert(1, "_cell", ci)
                    o["forecast"] = np.nan
                    outs.append(o)
                continue
            Xtr = _design(train, feat)
            ytr = train[Y].to_numpy(float)
            hist0 = obs[Y].to_numpy(float)
            fut_rows = _design(hold, feat)
            fut_actuals = hold[Y].to_numpy(float)
            for ci, (fit_fn, normalizer, dyn) in my_cells:
                # per-cell failure tolerance: a raising fit (singular
                # design, k-NN with too few rows, ...) scores THIS
                # fold x cell NaN instead of failing the whole CV job —
                # finer-grained than the generic path's per-fold NaN
                try:
                    norm = _fit_normalizer(normalizer, Xtr)
                    predict = fit_fn(norm(Xtr), ytr)
                    preds = _recurse(
                        predict, norm, fut_rows, ar_cols, hist0,
                        fut_actuals, _peek_every(dyn),
                    )
                except Exception:
                    preds = [np.nan] * len(hold)
                o = base.copy()
                o.insert(1, "_cell", ci)
                o["forecast"] = preds
                outs.append(o)
        if not outs:
            return pd.DataFrame(
                {f.name: pd.Series(dtype=object) for f in schema.fields}
            )[[f.name for f in schema.fields]]
        return pd.concat(outs, ignore_index=True)[
            ["_fold", "_cell", SERIES, Y, "forecast"]
        ]

    src = df.select(SERIES, DS, IS_FUTURE, Y, *feat)
    group_cols = [SERIES]
    if fold_split:
        src = src.withColumn(
            "_fold_t", F.explode(F.array(*[F.lit(i) for i in range(k)]))
        )
        group_cols.append("_fold_t")
    if chunk_count > 1:
        src = src.withColumn(
            "_cellgrp",
            F.explode(F.array(*[F.lit(j) for j in range(chunk_count)])),
        )
        group_cols.append("_cellgrp")
    return src.groupBy(*group_cols).applyInPandas(fit_predict, schema)


def run_kernel_backtest(
    df: DataFrame,
    features: list[str],
    fit_fn: Callable,
    fcst_length: int,
    n_iter: int = 3,
    jump_back: int = 1,
    dynamic_testing: bool | int = True,
    normalizer: str | None = None,
) -> DataFrame:
    """Rolling-origin backtest of a kernel estimator in ONE pass.

    Equivalent to calling :func:`run_kernel` on ``n_iter`` rewound
    copies of the frame (pipeline.backtest's generic loop) but each
    series is read ONCE: the task slices its own history per iteration,
    refits, and predicts the holdout recursively. At 100 TB this turns
    n_iter full scans + shuffles into one — iteration count becomes a
    per-task numpy loop, not a plan multiplier.

    Features must be built on the FULL frame beforehand (backward-
    looking lags don't leak: AR cells of holdout rows are overwritten
    from the rolling prediction history, exactly as run_kernel does for
    test rows). Returns (iteration, series, ds, y, forecast) over
    held-out rows only.
    """
    normalizer = _resolve_normalizer(normalizer)
    feat = list(features)
    ar_cols = _ar_columns(feat)
    peek_every = _peek_every(dynamic_testing)

    schema = T.StructType(
        [
            T.StructField("iteration", T.IntegerType()),
            T.StructField(SERIES, df.schema[SERIES].dataType),
            T.StructField(DS, df.schema[DS].dataType),
            T.StructField(Y, T.DoubleType()),
            T.StructField("forecast", T.DoubleType()),
        ]
    )

    def fit_predict(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = (
            pdf[pdf[IS_FUTURE] == 0]
            .sort_values(DS)
            .reset_index(drop=True)
        )
        n = len(pdf)
        outs = []
        for it in range(n_iter):
            hold = fcst_length + it * jump_back
            cut = n - hold
            if cut <= max(len(feat), 1):
                continue
            train_all = pdf.iloc[:cut]
            train = train_all.dropna(subset=feat + [Y])
            hold_rows = pdf.iloc[cut : cut + fcst_length]
            o = hold_rows[[SERIES, DS, Y]].copy().reset_index(drop=True)
            o.insert(0, "iteration", it)
            if len(train) <= max(len(feat), 1):
                o["forecast"] = np.nan
                outs.append(o)
                continue
            norm, predict = _fit(fit_fn, normalizer, train, feat)
            o["forecast"] = _recurse(
                predict, norm, _design(hold_rows, feat), ar_cols,
                train_all[Y].to_numpy(float), hold_rows[Y].to_numpy(float),
                peek_every,
            )
            outs.append(o)
        if not outs:
            return pd.DataFrame(
                {c.name: pd.Series(dtype="object") for c in schema}
            )
        return pd.concat(outs, ignore_index=True)[
            ["iteration", SERIES, DS, Y, "forecast"]
        ]

    return (
        df.select(SERIES, DS, IS_FUTURE, Y, *feat)
        .groupBy(SERIES)
        .applyInPandas(fit_predict, schema)
    )


def run_series_kernel(
    df: DataFrame,
    model_fn: Callable[..., tuple[np.ndarray, np.ndarray]],
    feature_cols: list[str] | None = None,
) -> DataFrame:
    """Kernel for pure-series models (no design matrix): HWES, Theta,
    ARIMA-family. ``model_fn(y, h) -> (fitted, forecast)`` with
    len(fitted)==len(y), len(forecast)==h. Parallel across series.

    With ``feature_cols``, the model takes exog regressors:
    ``model_fn(y, h, X, Xf)`` where X is the observed-row feature
    matrix and Xf the future-row one (regression-with-ARIMA-errors
    models; future rows must carry their regressor values, which
    calendar/trend features generated into the future do)."""
    schema = T.StructType(
        [
            T.StructField(SERIES, df.schema[SERIES].dataType),
            T.StructField(DS, df.schema[DS].dataType),
            T.StructField("forecast", T.DoubleType()),
        ]
    )
    feats = list(feature_cols or [])

    def fit_predict(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(DS).reset_index(drop=True)
        obs_mask = (pdf[IS_FUTURE] == 0).to_numpy()
        y = pdf.loc[obs_mask, Y].to_numpy(float)
        h = int((~obs_mask).sum())
        out = pdf[[SERIES, DS]].copy()
        vals = np.full(len(pdf), np.nan)
        if len(y) >= 3:
            if feats:
                X = pdf.loc[obs_mask, feats].to_numpy(float)
                Xf = pdf.loc[~obs_mask, feats].to_numpy(float)
                fitted, fc = model_fn(y, h, X, Xf)
            else:
                fitted, fc = model_fn(y, h)
            vals[obs_mask] = fitted
            if h:
                vals[~obs_mask] = fc
        out["forecast"] = vals
        return out

    preds = (
        df.select(SERIES, DS, IS_FUTURE, Y, *feats)
        .groupBy(SERIES)
        .applyInPandas(fit_predict, schema)
    )
    return df.join(preds, on=[SERIES, DS], how="left")
