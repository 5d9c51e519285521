"""Query corpus — importing this package registers every declared QueryPair."""

from pydatalake_gen2_spark.queries import (  # noqa: F401
    aggregates,
    analytics,
    composite,
    entity,
    functions,
    functions_ext,
    graph,
    joins,
    llm,
    multimodal_q,
    projection,
    scans,
    textops,
    udfs,
    setops,
    sorts,
    streaming_batch,
    windows,
)
