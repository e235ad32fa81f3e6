"""artis_data_ingest_spark — a PySpark-native analytics/ingestion engine.

A from-scratch, Spark-first re-expression of the query and data-processing
capabilities of ``Seafood-Globalization-Lab/artis-data-ingest`` (an R
data-ingestion/changelog toolkit), extended with the operator surface a
large-scale (100 TB) training-data pipeline needs: dedup, similarity
search, multimodal column plumbing, text analysis, and streaming windows.

Design stance (see SURVEY.md §7.0):
  * Lazy DataFrames end-to-end; actions only at sinks/asserts.
  * Catalyst/AQE do the physical planning — no custom rules needed.
  * Builtins > Pandas UDFs > mapPartitions, in that order.
"""

from artis_data_ingest_spark import _zipimport

__version__ = "0.1.0"

_zipimport.install()
