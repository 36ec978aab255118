"""PySpark-native real-time analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference real-time data warehouse (``ainijo/Flink-Real-Time-Data-Warehouse``,
a Flink 1.12 gmall pipeline), re-expressed Spark-first:

- batch + streaming share one declarative DataFrame transform layer
  (the reference splits every stage into a separate Flink JVM; we let
  Catalyst plan the whole pipeline),
- dimension enrichment is a broadcast join of dim snapshots (the reference
  hand-rolls async Phoenix lookups behind a Redis cache),
- stateful stream operators (UV dedup, new-user fix, CEP bounce) are
  ``applyInPandasWithState``/window-function formulations,
- plus first-class large-scale training-data operators (dedup family,
  similarity search, text analysis, multimodal columns) the reference lacks.

Layout:
    session     SparkSession factory + scale-aware conf
    tables      test-data catalog (TPC-H-ish star schema + events/documents/embeddings)
    queries     the query registry (name -> Spark callable + DuckDB oracle SQL)
    operators/  reusable DataFrame operators (splits, joins, windows, stateful)
    sources/    batch/streaming source abstraction (files, kafka, cdc envelope)
    functions/  scalar/table function library (datetime, text)
    plans/      end-user query plans built from the operators
    streaming/  Structured Streaming pipelines & stateful processors
    datapipe/   LLM training-data pipeline operators (dedup, ann, quality, multimodal)
"""

__version__ = "0.1.0"
