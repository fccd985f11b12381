"""weather_data_data_pipeline_spark — a PySpark-native analytics engine.

A Spark-first rebuild of the query and data-processing capabilities of
``SrinivasulaReddyDataEnginner/weather-data-data-pipeline`` (see SURVEY.md),
extended with the LLM-data-pipeline operator family (dedup, similarity
search, text analysis, multimodal columns) and designed for 100 TB scale:

- declarative DataFrame/SQL plans (Catalyst optimizes; no driver-side loops)
- parquet-first storage, partition pruning, predicate pushdown
- broadcast hints for small dimensions, AQE on for skew/runtime re-plan
- Pandas UDFs (Arrow) only where built-in functions cannot express semantics
"""

from weather_data_data_pipeline_spark.registry import (
    get_query,
    oracle_sql,
    queries,
    query_names,
)
from weather_data_data_pipeline_spark.session import get_spark

__all__ = ["get_spark", "queries", "oracle_sql", "query_names", "get_query"]
__version__ = "0.1.0"
