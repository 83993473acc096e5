"""data_pipeline_spark_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capabilities of the reference
platform (emmhh/data-pipeline-spark: event-driven CSV→Parquet ETL +
Athena-style filter/aggregate SQL over hive-partitioned data; see
/root/reference/README.md:4-31) as an idiomatic Apache Spark
DataFrame/SQL engine, extended with large-scale training-data
pipeline operators (dedup, similarity search, multimodal columns,
text analysis).

Layout:
    session.py    SparkSession factory (AQE, UTC, arrow, snappy)
    catalog.py    table registration over the parquet fixtures
    registry.py   named-query registry (the predefined-query API,
                  reference README.md:16)
    operators/    relational / window / scalar / dedup / similarity /
                  text / multimodal / streaming query builders
    sources/      EEG-session CSV ingest and its commit log
                  (reference sparkle-v9.py)
    functions/    vector & text-hash column helpers
"""

__version__ = "0.1.0"
