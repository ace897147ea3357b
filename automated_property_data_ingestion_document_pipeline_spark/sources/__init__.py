"""Connectors & sinks (SURVEY §2.1, §4.3): HTTP enrichment
DataSource, binary/multimodal columns, document render + partitioned
archive sinks."""

from automated_property_data_ingestion_document_pipeline_spark.sources import (  # noqa: F401
    binary,
    doc_sink,
    html_source,
    http_source,
)
