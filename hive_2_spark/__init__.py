"""hive_2_spark — a PySpark-native analytics engine.

Re-expresses the capabilities of the reference repo (strategist922/hive-2,
a Kohana-PHP Active-Record/ORM layer — see SURVEY.md) as an idiomatic
Spark engine, plus the driver-mandated large-scale analytics surface:
joins/aggregates/windows/set-ops/scalar functions, structured streaming,
and LLM-data-pipeline operators (dedup, similarity search, text analysis,
multimodal column plumbing).

Layers:
- ``hive_2_spark.model``  — Layer A: typed model/dataset layer faithful to
  the reference semantics (declared schemas, change tracking, validation,
  CRUD) expressed over DataFrames.
- ``hive_2_spark.core``   — Layer B: relational operator surface
  (scan/filter/join/agg/window/setops/scalar fns/write path).
- ``hive_2_spark.streaming`` — Structured Streaming operators over `events`.
- ``hive_2_spark.llm``    — dedup / similarity / text-analysis / multimodal.

Everything is DataFrame/Catalyst-first; Python UDFs only where built-ins
genuinely cannot express the semantics (and then Arrow-vectorized).
"""

import sys

from pyspark import cloudpickle

__version__ = "0.1.0"

# Spark's Python workers unpickle this package's UDF kernels, data
# sources and sinks. Pickled by value, they need no import of the
# package, so they run whatever the workers' working directory and
# sys.path are.
cloudpickle.register_pickle_by_value(sys.modules[__name__])
