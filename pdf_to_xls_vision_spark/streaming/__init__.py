from pdf_to_xls_vision_spark.streaming.ingest import (  # noqa: F401
    read_stream_committed,
    stream_extraction,
)
