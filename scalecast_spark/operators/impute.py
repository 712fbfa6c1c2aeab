"""Missing-value handling (reference Forecaster_with_missing_vals,
src/scalecast/util.py:898-1155; SURVEY.md §2.1).

The reference reindexes a pandas series to a target frequency and
applies fill strategies. Spark-first equivalents:

  * densify — per-series calendar spine via ``sequence()`` + explode,
    left-joined to the data (the reference's ``full_ts_df.merge``,
    util.py:997-1007). The spine is generated FROM per-series min/max
    aggregates, so it never materializes driver-side.
  * fills — window expressions: ffill/bfill via last/first ignorenulls,
    linear interpolation via the two bracketing observations, moving
    average via a trailing frame (avg skips NULLs natively).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, Window as W

from scalecast_spark.frame import DS, SERIES, Y
from scalecast_spark.functions.timegrain import epoch_seconds


#: pandas offset alias -> Spark calendar interval, for frequencies a
#: fixed seconds step cannot express (month/quarter/year lengths vary)
PANDAS_FREQ_INTERVALS = {
    "MS": "1 month", "M": "1 month", "ME": "1 month",
    "QS": "3 month", "Q": "3 month", "QE": "3 month",
    "YS": "1 year", "Y": "1 year", "A": "1 year", "AS": "1 year",
    "YE": "1 year",
    "W": "7 day", "D": "1 day", "H": "1 hour", "h": "1 hour",
    "T": "1 minute", "min": "1 minute", "S": "1 second", "s": "1 second",
}


def normalize_freq_alias(alias: str | None) -> str | None:
    """Map a pandas offset alias onto a PANDAS_FREQ_INTERVALS key,
    stripping the '-ANCHOR' suffix pd.infer_freq actually returns for
    weekly/quarterly/yearly data ('W-SUN', 'Q-DEC', 'QS-JAN',
    'A-DEC', 'YE-DEC' → 'W'/'Q'/'QS'/'A'/'YE'). Returns None for
    aliases the calendar densifier cannot express (business-day 'B',
    multiples like '2W') so callers can warn instead of silently
    densifying on the wrong grid (round-15 ADVICE)."""
    if alias is None:
        return None
    if alias in PANDAS_FREQ_INTERVALS:
        return alias
    base = alias.split("-")[0]
    return base if base in PANDAS_FREQ_INTERVALS else None


def infer_series_freq(dates):
    """Infer a density grid from observed dates, tolerating HOLES —
    pd.infer_freq returns None the moment a date is missing, which
    previously sent weekly/quarterly arrays onto a daily densify grid
    (round-15 ADVICE). Returns ``(calendar_alias, freq_seconds)``:
    exactly one is non-None on success, both None when nothing can be
    inferred. The gap-tolerant path takes the MODAL positive delta
    (the holes are the minority by assumption) and maps
    month/quarter/year-sized deltas onto calendar intervals."""
    import pandas as pd

    dates = pd.DatetimeIndex(dates).sort_values()
    alias = None
    try:
        alias = pd.infer_freq(dates)
    except (TypeError, ValueError):
        pass
    if alias is not None:
        norm = normalize_freq_alias(alias)
        return (norm, None) if norm is not None else (None, None)
    if len(dates) < 3:
        return None, None
    deltas = pd.Series(dates[1:] - dates[:-1]).dt.total_seconds()
    deltas = deltas[deltas > 0]
    if deltas.empty:
        return None, None
    modal = float(deltas.mode().iloc[0])
    days = modal / 86400.0
    if 28 <= days <= 31:
        return "M", None
    if 89 <= days <= 92:
        return "Q", None
    if 365 <= days <= 366:
        return "Y", None
    return None, modal


def densify(
    df: DataFrame, freq_seconds: float = 86400, interval: str | None = None
) -> DataFrame:
    """Reindex each series to a gapless grid at ``freq_seconds`` — or
    at a CALENDAR ``interval`` ('1 month', '3 month', '1 year') for
    frequencies whose step length varies (reference
    ``desired_frequency='MS'``, util.py:997-1007); missing timestamps
    appear with y NULL. Fractional second steps are honored down to
    microseconds (sub-second series densify on their true grid
    instead of collapsing to a zero step)."""
    if interval is None:
        step_us = int(round(float(freq_seconds) * 1_000_000))
        if step_us <= 0:
            raise ValueError(
                f"densify: freq_seconds must be >= 1e-6; got {freq_seconds}"
            )
        interval = f"{step_us} microsecond"
    spine = (
        df.groupBy(SERIES)
        .agg(F.min(DS).alias("_lo"), F.max(DS).alias("_hi"))
        .select(
            SERIES,
            F.explode(
                F.sequence(
                    F.col("_lo"),
                    F.col("_hi"),
                    F.expr(f"interval {interval}"),
                )
            ).alias(DS),
        )
    )
    return spine.join(df, on=[SERIES, DS], how="left")


def ffill(df: DataFrame, col: str = Y) -> DataFrame:
    """Forward fill (reference 'ffill' strategy, util.py:1117+)."""
    w = W.partitionBy(SERIES).orderBy(DS).rowsBetween(W.unboundedPreceding, 0)
    return df.withColumn(col, F.last(col, ignorenulls=True).over(w))


def bfill(df: DataFrame, col: str = Y) -> DataFrame:
    w = W.partitionBy(SERIES).orderBy(DS).rowsBetween(0, W.unboundedFollowing)
    return df.withColumn(col, F.first(col, ignorenulls=True).over(w))


def linear_interp(df: DataFrame, col: str = Y) -> DataFrame:
    """Linear interpolation between the bracketing observations
    (reference 'linear_interp', the default — util.py:1010-1030;
    spot-checked 1,2,NULL,4 → 3.0 like test_util.py:16,30).

    prev/next values come from last/first-ignorenulls windows; the
    fraction uses timestamp distance so irregular grids interpolate
    correctly too. Endpoints (no bracket) stay NULL.
    """
    wp = W.partitionBy(SERIES).orderBy(DS).rowsBetween(W.unboundedPreceding, -1)
    wn = W.partitionBy(SERIES).orderBy(DS).rowsBetween(1, W.unboundedFollowing)
    ts = epoch_seconds(DS)
    prev_v = F.last(col, ignorenulls=True).over(wp)
    next_v = F.first(col, ignorenulls=True).over(wn)
    prev_t = F.last(F.when(F.col(col).isNotNull(), ts), ignorenulls=True).over(wp)
    next_t = F.first(F.when(F.col(col).isNotNull(), ts), ignorenulls=True).over(wn)
    interp = prev_v + (next_v - prev_v) * F.try_divide(ts - prev_t, next_t - prev_t)
    return df.withColumn(col, F.coalesce(F.col(col), interp))


def fill_moving_average(df: DataFrame, window: int = 7, col: str = Y) -> DataFrame:
    """Fill gaps with the trailing ``window``-row average of observed
    values (reference 'moving_average', util.py:1085-1100). avg()
    ignores NULLs, so consecutive gaps fall back to older actuals."""
    w = W.partitionBy(SERIES).orderBy(DS).rowsBetween(-window, -1)
    return df.withColumn(col, F.coalesce(F.col(col), F.avg(col).over(w)))


def fill_moving_seasonal_average(
    df: DataFrame, m: int = 7, seasons_back: int = 4, col: str = Y
) -> DataFrame:
    """Fill gaps with the average of the SAME seasonal phase over the
    prior ``seasons_back`` seasons (reference 'moving_seasonal_average',
    util.py:1101-1115) — window over the residue class (series, rn%m)."""
    w = W.partitionBy(SERIES).orderBy(DS)
    out = df.withColumn("_phase", (F.row_number().over(w) - 1) % m)
    wc = (
        W.partitionBy(SERIES, "_phase")
        .orderBy(DS)
        .rowsBetween(-seasons_back, -1)
    )
    return out.withColumn(
        col, F.coalesce(F.col(col), F.avg(col).over(wc))
    ).drop("_phase")


def fill_pool(
    df: DataFrame, value_pool: list[float], seed: int = 42, col: str = Y
) -> DataFrame:
    """Fill gaps with a draw from ``value_pool`` (reference
    'impute_pool', util.py:1117-1118 — ``np.random.choice``). The draw
    is a deterministic xxhash64(series, ds, seed) mod pool-size index,
    so results are reproducible across runs and partition layouts,
    unlike ``F.rand`` — and never leave the JVM."""
    if not value_pool:
        raise ValueError("impute_pool requires a non-empty value_pool")
    arr = F.array(*[F.lit(float(v)) for v in value_pool])
    idx = F.pmod(F.xxhash64(F.col(SERIES), F.col(DS), F.lit(int(seed))), F.lit(len(value_pool)))
    return df.withColumn(
        col, F.coalesce(F.col(col), F.element_at(arr, (idx + 1).cast("int")))
    )


def add_noise_pool(
    df: DataFrame, noise_value_pool: list[float], seed: int = 7, col: str = Y
) -> DataFrame:
    """Add a draw from ``noise_value_pool`` to every value (reference
    util.py:1128-1129 adds a random pool draw to imputed points); same
    deterministic hash-indexed draw as :func:`fill_pool`."""
    if not noise_value_pool:
        raise ValueError("add_noise_pool requires a non-empty noise_value_pool")
    arr = F.array(*[F.lit(float(v)) for v in noise_value_pool])
    idx = F.pmod(F.xxhash64(F.col(SERIES), F.col(DS), F.lit(int(seed))), F.lit(len(noise_value_pool)))
    return df.withColumn(col, F.col(col) + F.element_at(arr, (idx + 1).cast("int")))


def clamp(df: DataFrame, floor: float | None = None, cap: float | None = None, col: str = Y) -> DataFrame:
    """Floor/cap clamps (reference util.py:1128-1140)."""
    c = F.col(col)
    if floor is not None:
        c = F.greatest(c, F.lit(float(floor)))
    if cap is not None:
        c = F.least(c, F.lit(float(cap)))
    return df.withColumn(col, c)


def fill_first_obs(df: DataFrame, strategy: str = "bfill", value: float | None = None, col: str = Y) -> DataFrame:
    """Leading-NULL handling (reference first-obs strategies,
    util.py:1030-1055): 'bfill' copies the first real observation back;
    'value' uses a constant; 'drop' removes leading gap rows."""
    if strategy == "bfill":
        return bfill(df, col)
    if strategy == "value":
        return df.withColumn(col, F.coalesce(F.col(col), F.lit(float(value))))
    if strategy == "drop":
        w = W.partitionBy(SERIES).orderBy(DS).rowsBetween(W.unboundedPreceding, 0)
        seen = F.count(col).over(w)
        return df.filter(seen > 0)
    raise ValueError(f"unknown first-obs strategy {strategy!r}")


FILL_STRATEGIES = {
    "linear_interp": linear_interp,
    "ffill": ffill,
    "bfill": bfill,
    "moving_average": fill_moving_average,
    "moving_seasonal_average": fill_moving_seasonal_average,
    "impute_pool": fill_pool,
}


def frame_with_missing_vals(
    df: DataFrame,
    freq_seconds: int = 86400,
    fill_strategy: str = "linear_interp",
    first_obs_strategy: str | None = None,
    floor: float | None = None,
    cap: float | None = None,
    interval: str | None = None,
    **kwargs,
):
    """End-to-end gap-filling constructor (reference
    Forecaster_with_missing_vals, util.py:898-1155): densify → fill →
    first-obs handling → clamp → TimeSeriesFrame."""
    from scalecast_spark.frame import TimeSeriesFrame

    out = densify(df, freq_seconds, interval=interval)
    out = FILL_STRATEGIES[fill_strategy](out, **kwargs)
    if first_obs_strategy:
        out = fill_first_obs(out, first_obs_strategy)
    if floor is not None or cap is not None:
        out = clamp(out, floor, cap)
    return TimeSeriesFrame.from_long(out.select(SERIES, DS, Y))


def Forecaster_with_missing_vals(
    df: DataFrame | None = None,
    *,
    y=None,
    current_dates=None,
    fill_strategy: str = "linear_interp",
    desired_frequency: str | None = None,
    freq_seconds: int = 86400,
    first_obs_strategy: str | None = None,
    floor: float | None = None,
    cap: float | None = None,
    **fc_kwargs,
):
    """The reference's gap-filling Forecaster constructor by name
    (util.py:898-1155; test_util.py:1-32): arrays (or a long frame)
    with holes → densified, filled series → Forecaster.
    ``desired_frequency`` takes a pandas offset alias ('MS', 'D',
    'H', ...) — calendar frequencies densify on true month/quarter/
    year boundaries. Remaining kwargs go to the Forecaster ctor
    (future_dates/test_length/...)."""
    from scalecast_spark.forecaster import Forecaster, _frame_from_arrays

    if df is None:
        df = _frame_from_arrays(y, current_dates)
        if desired_frequency is None and current_dates is not None:
            # infer the frequency from the given dates (gap-tolerant —
            # pd.infer_freq alone returns None on holes, and anchored
            # aliases like 'W-SUN'/'Q-DEC' need normalizing before the
            # interval lookup; round-15 ADVICE). Arrays are driver-side
            # already, so inference is free.
            import pandas as pd

            dates = pd.to_datetime(list(
                getattr(current_dates, "values", current_dates)
            ))
            raw_alias = None
            try:
                raw_alias = pd.infer_freq(dates)
            except (TypeError, ValueError):
                pass
            desired_frequency, inferred_seconds = infer_series_freq(dates)
            if inferred_seconds is not None:
                freq_seconds = inferred_seconds
            elif desired_frequency is None:
                import warnings

                warnings.warn(
                    f"inferred frequency {raw_alias!r} has no "
                    f"calendar-interval mapping; densifying on the "
                    f"freq_seconds={freq_seconds} grid instead",
                    stacklevel=2,
                )
    interval = None
    if desired_frequency is not None:
        # user-passed aliases normalize too ('W-SUN' etc.); unknown
        # ones still raise loudly
        norm = normalize_freq_alias(desired_frequency)
        if norm is None:
            raise ValueError(
                f"unknown desired_frequency {desired_frequency!r}; "
                f"known aliases: {sorted(PANDAS_FREQ_INTERVALS)}"
            )
        interval = PANDAS_FREQ_INTERVALS[norm]
    tsf = frame_with_missing_vals(
        df,
        freq_seconds=freq_seconds,
        fill_strategy=fill_strategy,
        first_obs_strategy=first_obs_strategy,
        floor=floor,
        cap=cap,
        interval=interval,
    )
    return Forecaster(tsf, **fc_kwargs)
