"""clickhouse_flatfile_tool_spark — a PySpark-native analytics engine with the
capability surface of Varinder-Dhillon0/Clickhouse-Flatfile-Tool.

The reference (/root/reference) is a Node/Express ETL bridge between flat files
(CSV/TXT) and ClickHouse: schema introspection, column projection, paginated
preview, batched bulk load, chained multi-table join, CSV export
(see SURVEY.md §0-§3).  This package re-expresses that surface — and the
LLM-data-pipeline extensions (dedup, similarity search, multimodal columns,
text analysis, event windows) — as an idiomatic PySpark library:
SparkSession in, DataFrame out, Catalyst does the optimizing.

Design rules (100 TB intent):
  * operators return lazy DataFrames; the eager driver actions that remain
    are counted in README's scale rules
  * built-in ``pyspark.sql.functions`` (JVM/codegen) in hot paths; Arrow-batched
    pandas UDFs only where array math genuinely needs them
  * joins broadcast small dimensions; aggregations rely on partial (map-side)
    combine; AQE enabled for skew/coalesce at scale
"""

from clickhouse_flatfile_tool_spark.session import get_spark, stop_spark

__all__ = ["get_spark", "stop_spark"]

__version__ = "0.1.0"
