"""PySpark-native analytics engine with the query/data-processing
capabilities of ``mathieuaubert2601/Market_Analyze_Data_Stream_Processing``.

Brand-new Spark-first design (DataFrame / Spark SQL / Structured
Streaming) — NOT a port of the reference's row-at-a-time Python
pipeline. See SURVEY.md for the operator inventory this implements.

Layout:
    session     SparkSession factory tuned for local[N] testing, scale-aware defaults
    cache       process-level build-once caches (restart-safe, LRU-bounded)
    schemas     StructTypes for the 4 topic payloads + prices/docs tables
    sources/    parquet/CSV/JSON-topic readers & normalizers
    functions/  scalar expression builders (pct-change, decay, text, vectors)
    operators/  analytics, dedup, similarity, latest-per-key, retention
    plans/      the oracle-checked query registry (driver contract)
    streaming/  Structured Streaming ingest, foreachBatch upserts, heartbeat

Worker closures call package code; the package registers itself with
cloudpickle by value, so that code travels in the pickled command and
no Python worker imports the package. Hence a worker function must not
import the package in its own body: import on the driver and capture.
"""

import sys

from pyspark import cloudpickle

__version__ = "0.1.0"

cloudpickle.register_pickle_by_value(sys.modules[__name__])
