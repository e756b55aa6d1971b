"""Stream sources (O1): file-stream for tests/local, Kinesis for prod
(built-in python polling data source, no connector jar)."""

from snowplow_s3_loader_spark.sources.streams import (  # noqa: F401
    binary_file_stream,
    file_stream,
    kinesis_stream,
)
