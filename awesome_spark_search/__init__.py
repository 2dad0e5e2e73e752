"""awesome_spark_search — a PySpark-native full-text inverted-index + BM25 engine.

A from-scratch rebuild of the capabilities of soldag/AwesomeSearchEngine
(a single-JVM Java patent search engine; surveyed in SURVEY.md) re-expressed
in idiomatic Spark: DataFrame ops + Arrow-vectorized pandas UDFs, explicit
partitioning / skew salting, checkpoint-resumable build stages, and a
BM25 / block-max-WAND query path.

Nothing here is ported code: the reference defines the *semantic contract*
(tokenization pipeline, posting content, query types, ranking), and every
operator is re-derived on Spark primitives. Citations of the form
``ref: src/...java:NN`` in docstrings point into /root/reference for parity
checking only.
"""

__version__ = "0.1.0"

from awesome_spark_search import pyworker as _pyworker  # noqa: E402

if _pyworker.in_spark_worker():
    _pyworker.install()
