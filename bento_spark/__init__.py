"""bento_spark — a PySpark-native structured-streaming/CEP engine.

A from-scratch re-creation of the declarative pipeline model of the
reference engine (iamramtin/bento: input -> processor chain -> output with
batching, windowing buffers, stateful enrichment, DLQ routing; see
/root/reference/internal/stream/config.go:21-24) expressed as idiomatic
Spark: DataFrame/Catalyst for the relational core, Structured Streaming for
unbounded execution, Arrow-vectorized pandas UDFs for audio payload
kernels. Nothing here is a port — the reference is a single-process Go
engine built on goroutines + channels; this engine declares logical plans
and lets Catalyst/Tungsten pick physical strategy.
"""

from bento_spark import zipcache
from bento_spark.session import get_spark, stop_spark

# Python workers import this package when they unpickle a UDF; from then on
# their per-task importlib.invalidate_caches() skips unchanged zip archives
zipcache.install()

__version__ = "0.1.0"

__all__ = ["get_spark", "stop_spark", "__version__"]
