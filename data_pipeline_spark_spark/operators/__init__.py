"""Operator modules. Importing this package imports every module
below, and each module registers its named queries into
data_pipeline_spark_spark.registry as it is imported.
"""

from . import (  # noqa: F401
    geo,
    graph,
    labels,
    relational,
    windows,
    workloads,
    scalars,
    analytics,
    asof,
    cdc,
    corpus,
    dedup,
    fuzzy_join,
    text,
    training_data,
    similarity,
    scale_patterns,
    maintenance,
    multimodal,
    streaming_batch,
    ingest_ops,
    inventory,
)
