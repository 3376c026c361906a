"""mini_flink_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of confucianzuoyuan/mini-flink.

The reference (see SURVEY.md) is a processing-time streaming dataflow core:
``fromElements/addSource -> map/flatMap/filter -> keyBy -> reduce -> print/addSink``
with sum/min/max/min_by/max_by aggregators and per-key ValueState.  This package
re-expresses that surface — and a large-scale training-data-pipeline extension
layer (dedup, similarity search, text analysis, multimodal columns) — on Spark
DataFrames and Structured Streaming.  Nothing is ported: Catalyst/Tungsten replace
the reference's scheduler/network/state plumbing entirely.

The exported names load lazily (PEP 562): importing the package itself must not
import pyspark, because ``python -m mini_flink_spark.pyworker`` has to edit
``sys.path`` before pyspark is first imported.
"""

from importlib import import_module

_EXPORTS = {
    "get_spark": "mini_flink_spark.session",
    "StreamExecutionEnvironment": "mini_flink_spark.operators.environment",
    "DataStream": "mini_flink_spark.operators.stream",
    "KeyedStream": "mini_flink_spark.operators.stream",
    "WindowedStream": "mini_flink_spark.operators.stream",
}

__all__ = list(_EXPORTS)

__version__ = "0.1.0"


def __getattr__(name: str):
    if name in _EXPORTS:
        value = getattr(import_module(_EXPORTS[name]), name)
        globals()[name] = value
        return value
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
