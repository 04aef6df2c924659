"""etl_weather_jabar_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the query / data-processing surface of
``RaihanFuadSyakir/ETL-Weather-Jabar`` (a Mongo+Airflow micro-batch weather
ETL; see SURVEY.md) as an idiomatic Spark DataFrame/SQL engine, plus
large-scale training-data-pipeline extensions (dedup, similarity search,
text analysis, multimodal plumbing).

Layout:
    session     — SparkSession factory (AQE, Jakarta session TZ, tuned shuffle)
    schemas     — explicit StructTypes replacing the reference's implicit schema
    sources/    — parquet/json batch readers, streaming landing-dir reader
    sinks       — append / keyed-dedup-append / overwrite / bucketed tables
    operators/  — projections, filters, dedup, joins, aggregates, windows
    functions/  — scalar column functions (datetime, weather, text, vectors, hashing)
    plans/      — bronze→silver→gold pipeline compositions, incremental semantics
    streaming/  — Structured Streaming micro-batch variant (10-min windows,
                  watermark late data, dedup-in-watermark, foreachBatch
                  keyed merge into a snapshot table)
    ext/        — north-star extensions: exact/MinHash-LSH/SimHash dedup,
                  ANN similarity search, text quality, multimodal columns
"""

__version__ = "0.1.0"
