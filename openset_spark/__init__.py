"""openset_spark — a PySpark-native behavioral event-analytics engine.

A from-scratch re-expression of the capabilities of opset/openset
(customer event analytics: segments, funnels, sessions, property
counts, histograms) as declarative Spark DataFrame plans, plus the
large-scale training-data pipeline operators (dedup, similarity
search, text analysis).

Design: every operator is a pure function DataFrame -> DataFrame built
from `pyspark.sql.functions` so Catalyst sees the whole plan (filter
pushdown, partial aggregation, broadcast joins). Python UDFs appear
only where semantics demand them, always Arrow-batched.
"""

from openset_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
