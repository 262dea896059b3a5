"""youtube_analytics_lakehouse_databricks_spark — a PySpark-native analytics engine.

Re-implements, Spark-first, the query and data-processing capabilities of the
reference lakehouse (jbaguio27/youtube-analytics-lakehouse-databricks): a
batch medallion pipeline (Bronze JSON envelopes -> Silver star schema via
window dedup / SCD2 -> Gold summary marts) plus large-scale training-data
operators (dedup, similarity search, text analysis, curation and export).

Everything is declarative DataFrame/SQL so Catalyst handles pushdown,
pruning, join selection, and AQE. No row-at-a-time Python in hot paths.
"""

from youtube_analytics_lakehouse_databricks_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
