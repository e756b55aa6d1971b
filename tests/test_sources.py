"""Source adapter tests: file-stream and python Kinesis source contracts."""

from __future__ import annotations

from snowplow_s3_loader_spark.config import InputConfig
from snowplow_s3_loader_spark.sources.streams import file_stream, kinesis_stream


def test_file_stream_payload_contract(spark, tmp_path):
    (tmp_path / "a.txt").write_text("line1\nline2\n")
    df = file_stream(spark, str(tmp_path))
    assert df.isStreaming
    assert [f.name for f in df.schema.fields] == ["payload"]
    assert df.schema["payload"].dataType.simpleString() == "binary"


def test_kinesis_python_source_loads_lazily(spark):
    # the python data source registers and builds a streaming frame with the
    # record schema without touching the wire (client created at stream start)
    cfg = InputConfig(kind="kinesis", stream_name="s", region="us-east-1")
    df = kinesis_stream(spark, cfg)
    assert df.isStreaming
    assert [f.name for f in df.schema.fields] == ["payload"]

