"""acrawler_spark — a PySpark-native batch-iterative crawl/analytics engine.

A from-scratch rebuild of the *semantics* of wind2sing/aCrawler (reference at
/root/reference, read-only) on Spark DataFrames: URL frontier scheduling,
URL-seen dedup, per-host politeness, fetch-join against a Common-Crawl-style
corpus table, vectorized extraction, and per-round checkpointed state —
plus the large-scale training-data operators (dedup families, similarity
search, text analysis, multimodal plumbing) such a pipeline needs at 100 TB.

Layout:
    kernel        pure-Python exact reference semantics (no Spark imports)
    zipcache      per-process fix for CPython 3.11's per-task zip re-reads
    functions/    vectorized pandas-UDF + Column-expression libraries
    operators/    dedup, politeness, frontier ranking, similarity, multimodal
    sources/      corpus generator, checkpointed table store, sinks
    plans/        the crawl-round pipeline and the driver round loop
    streaming/    micro-batch seed ingestion (redis-feeder analog)
"""

__version__ = "0.1.0"

from acrawler_spark import zipcache as _zipcache

# every module a UDF unpickles into (kernel, functions.udfs, operators.dedup)
# imports this package first, so each Python worker gets the stat-gated zip
# reload before its next task (see zipcache.py)
_zipcache.install()
