"""scalecast_spark — a PySpark-native time-series analytics engine.

Re-expresses the capabilities of mikekeith52/scalecast (a pandas-based
forecasting library) on top of Spark DataFrames: long-format multi-series
frames, window-function feature engineering, invertible transforms, metric
aggregates, conformal intervals, and distributed model fit/predict — plus
large-scale training-data-pipeline operators (dedup, similarity search,
text analysis, multimodal columns) that the pandas original cannot reach.

Data model (SURVEY.md §1): one long DataFrame
    (series_id STRING, ds TIMESTAMP, y DOUBLE, <feature> DOUBLE ...)
instead of the reference's per-object pandas Series dict
(reference: src/scalecast/Forecaster.py:44-94).
"""

# first: Python workers unpickling any kernel/datapipe closure import
# this package, which installs the per-task zip re-read guard for the
# rest of that worker's life (see _worker.py)
from scalecast_spark import _worker

_worker.install()

from scalecast_spark.session import get_session
from scalecast_spark.frame import TimeSeriesFrame
from scalecast_spark.forecaster import Forecaster

#: Import-compatibility: the reference ships a separate MVForecaster
#: class (dict-of-series machinery); in the long format ONE object
#: holds every series, so multivariate work — mv_* estimators,
#: corr/corr_lags, VECM, joint recursion — runs on the same
#: Forecaster. The subclass exists to honor the reference's
#: MULTI-FORECASTER construction shape ``MVForecaster(f1, f2, ...)``
#: (it unions the long frames); ``break_mv_forecaster`` is a
#: series_id filter.
from scalecast_spark.forecaster import (
    ForecastError, MVForecaster, break_mv_forecaster,
    export_model_summaries, keep_smallest_first_date,
)
from scalecast_spark.pipeline import (
    MVPipeline, Pipeline, Reverter, Transformer,
)
from scalecast_spark.series_transformer import SeriesTransformer

#: Import-compatibility: the reference exposes grid plumbing as the
#: ``GridGenerator`` module (``from scalecast import GridGenerator;
#: GridGenerator.get_grids('theta')``); the engine's twin lives in
#: ``grids.py`` — alias it under the reference name.
from scalecast_spark import grids as GridGenerator

__version__ = "0.1.0"

__all__ = [
    "get_session", "TimeSeriesFrame", "Forecaster", "MVForecaster",
    "ForecastError",
    "break_mv_forecaster", "keep_smallest_first_date",
    "export_model_summaries",
    "Pipeline", "MVPipeline", "Transformer", "Reverter",
    "SeriesTransformer", "GridGenerator",
    "__version__",
]
