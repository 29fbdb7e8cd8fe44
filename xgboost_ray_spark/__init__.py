"""xgboost_ray_spark — a PySpark-native distributed ML / data-processing engine.

Re-expresses the capability surface of ray-project/xgboost_ray (distributed
gradient-boosted-tree training/prediction/ranking over sharded dataframes,
multi-format ingestion, fault-tolerant iteration) idiomatically on Apache
Spark: DataFrame/SQL for the relational substrate, Arrow/pandas-UDFs for the
Python hot path, barrier execution for collective training, Structured
Streaming for streams.

Reference parity map (cites into /root/reference):
  - ``RayDMatrix`` (xgboost_ray/matrix.py:697)      -> :class:`MatrixSpec`
  - ``train`` / ``predict`` (xgboost_ray/main.py:1341,1810)
                                                     -> :func:`train` / :func:`predict`
  - ``RayParams`` (xgboost_ray/main.py:450)          -> :class:`GBTParams`
  - ``RayShardingMode`` (xgboost_ray/matrix.py:106)  -> :class:`ShardingMode`
  - sklearn estimators (xgboost_ray/sklearn.py:451-1083)
                                                     -> :mod:`xgboost_ray_spark.ml.estimators`

Everything relational (joins, aggregates, windows, dedup, similarity search,
text analysis) is declared through the DataFrame API so Catalyst handles
pushdown, pruning, join selection and AQE — see ``operators/``.
"""

from __future__ import annotations

import importlib

from xgboost_ray_spark.version import __version__

# Public names, imported on first access: Python workers import this
# package (the worker daemon runs from it, and module-level mapInPandas
# functions are pickled by reference), and most need neither pyspark.ml
# nor pandas.
_EXPORTS = {
    "MatrixSpec": "xgboost_ray_spark.matrix",
    "ShardingMode": "xgboost_ray_spark.matrix",
    "combine_data": "xgboost_ray_spark.matrix",
    "GBTParams": "xgboost_ray_spark.ml.params",
    "train": "xgboost_ray_spark.ml.train",
    "predict": "xgboost_ray_spark.ml.train",
    "get_spark": "xgboost_ray_spark.session",
}

__all__ = [*_EXPORTS, "__version__"]


def __getattr__(name: str):
    module = _EXPORTS.get(name)
    if module is None:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    return getattr(importlib.import_module(module), name)
