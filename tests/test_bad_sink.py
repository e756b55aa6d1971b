"""Bad-sink tests — distributed emission (Processing.scala:315-331) and the
Kinesis PutRecords caps/retry (config.aws.reference.hocon:96-99), all without
boto3: the client is injected."""

from __future__ import annotations

import glob
import json
import os
import uuid

import pytest

from snowplow_s3_loader_spark.sinks.bad_sink import (
    FileBadSink,
    KinesisBadSink,
    iter_record_batches,
    put_records_with_retry,
)


# ---- PutRecords batching caps ------------------------------------------------


def test_record_limit_batching():
    rows = [b"x" for _ in range(1201)]
    batches = list(iter_record_batches(rows, record_limit=500, byte_limit=5_242_880))
    assert [len(b) for b in batches] == [500, 500, 201]


def test_byte_limit_batching():
    rows = [b"a" * 400 for _ in range(10)]
    batches = list(iter_record_batches(rows, record_limit=500, byte_limit=1000))
    # 2 rows of 400 B fit under 1000; the third would exceed
    assert [len(b) for b in batches] == [2, 2, 2, 2, 2]


def test_single_oversize_row_still_emitted():
    batches = list(iter_record_batches([b"a" * 2000], record_limit=500, byte_limit=1000))
    assert [len(b) for b in batches] == [1]


# ---- partial-failure retry ---------------------------------------------------


class _FlakyClient:
    """Fails a subset of records with a throttle ErrorCode for the first
    `fail_rounds` calls, then succeeds."""

    def __init__(self, fail_rounds: int, fail_every: int = 2):
        self.fail_rounds = fail_rounds
        self.fail_every = fail_every
        self.calls: list[list[bytes]] = []

    def put_records(self, StreamName, Records):
        self.calls.append([r["Data"] for r in Records])
        if len(self.calls) <= self.fail_rounds:
            results = [
                {"ErrorCode": "ProvisionedThroughputExceededException"}
                if i % self.fail_every == 0
                else {"SequenceNumber": "1"}
                for i in range(len(Records))
            ]
        else:
            results = [{"SequenceNumber": "1"} for _ in Records]
        failed = sum(1 for r in results if "ErrorCode" in r)
        return {"FailedRecordCount": failed, "Records": results}


def test_retry_resends_only_failed_subset():
    client = _FlakyClient(fail_rounds=1)
    sleeps: list[float] = []
    rows = [f"row-{i}".encode() for i in range(6)]
    put_records_with_retry(client, "bad-stream", rows, sleep=sleeps.append)
    assert len(client.calls) == 2
    # second call contains exactly the records that throttled (indices 0,2,4)
    assert client.calls[1] == [b"row-0", b"row-2", b"row-4"]
    assert sleeps == [0.2]


def test_retry_backoff_is_exponential_and_bounded():
    client = _FlakyClient(fail_rounds=99)  # never recovers
    sleeps: list[float] = []
    with pytest.raises(RuntimeError, match="undelivered"):
        put_records_with_retry(
            client, "bad-stream", [b"r0", b"r1"], max_attempts=4, sleep=sleeps.append
        )
    assert len(client.calls) == 4
    assert sleeps == [0.2, 0.4, 0.8]  # no sleep after the final attempt


# ---- KinesisBadSink (injected client) ---------------------------------------


class _RecordingFactory:
    """Picklable client factory writing every PutRecords payload to a dir —
    stands in for the wire call in both driver-side and executor-side paths."""

    def __init__(self, directory: str):
        self.directory = directory

    def __call__(self, region):
        return _FileBackedClient(self.directory)


class _FileBackedClient:
    def __init__(self, directory: str):
        self.directory = directory

    def put_records(self, StreamName, Records):
        os.makedirs(self.directory, exist_ok=True)
        path = os.path.join(self.directory, f"put-{uuid.uuid4().hex}.jsonl")
        with open(path, "w") as f:
            for r in Records:
                data = r["Data"]
                f.write(json.dumps({"stream": StreamName, "data": data.decode()}) + "\n")
        return {"FailedRecordCount": 0, "Records": [{"SequenceNumber": "1"} for _ in Records]}


def _sent_rows(directory: str) -> list[str]:
    out = []
    for path in glob.glob(os.path.join(directory, "put-*.jsonl")):
        with open(path) as f:
            out += [json.loads(line)["data"] for line in f]
    return sorted(out)


def test_kinesis_sink_send_batches(tmp_path):
    sink = KinesisBadSink(
        "bad-stream", record_limit=3, client_factory=_RecordingFactory(str(tmp_path))
    )
    sink.send([f"row-{i}".encode() for i in range(7)])
    files = glob.glob(os.path.join(str(tmp_path), "put-*.jsonl"))
    assert len(files) == 3  # 3+3+1 under record_limit=3
    assert _sent_rows(str(tmp_path)) == sorted(f"row-{i}" for i in range(7))


def test_kinesis_sink_send_df_distributed(spark, tmp_path):
    # the factory is defined locally so cloudpickle serializes it by VALUE —
    # executor workers cannot import the test module
    directory = str(tmp_path)

    class _LocalFactory:
        def __call__(self, region):
            return _LocalClient()

    class _LocalClient:
        def put_records(self, StreamName, Records):
            os.makedirs(directory, exist_ok=True)
            path = os.path.join(directory, f"put-{uuid.uuid4().hex}.jsonl")
            with open(path, "w") as f:
                for r in Records:
                    f.write(
                        json.dumps({"stream": StreamName, "data": r["Data"].decode()}) + "\n"
                    )
            return {
                "FailedRecordCount": 0,
                "Records": [{"SequenceNumber": "1"} for _ in Records],
            }

    sink = KinesisBadSink("bad-stream", record_limit=2, client_factory=_LocalFactory())
    df = spark.createDataFrame([(f"row-{i}",) for i in range(5)], "row string").repartition(2)
    n, n_bytes = sink.send_df(df)
    assert (n, n_bytes) == (5, sum(len(f"row-{i}") for i in range(5)))
    assert _sent_rows(str(tmp_path)) == sorted(f"row-{i}" for i in range(5))


# ---- FileBadSink distributed path --------------------------------------------


def test_file_sink_send_df(spark, tmp_path):
    sink = FileBadSink(str(tmp_path / "bad"))
    df = spark.createDataFrame([("a",), ("bb",)], "row string")
    n, n_bytes = sink.send_df(df)
    assert (n, n_bytes) == (2, 3)
    lines = []
    for path in glob.glob(str(tmp_path / "bad" / "part-*")):
        if not path.endswith(".crc"):
            lines += open(path).read().splitlines()
    assert sorted(lines) == ["a", "bb"]


def test_file_sink_send_df_empty(spark, tmp_path):
    sink = FileBadSink(str(tmp_path / "bad"))
    df = spark.createDataFrame([], "row string")
    assert sink.send_df(df) == (0, 0)


# ---- pipeline never materializes bad rows on the driver ----------------------


class _NoDriverListSink(FileBadSink):
    """send() (the driver-side list path) is forbidden — the pipeline must go
    through the distributed send_df."""

    def send(self, serialized_rows):  # pragma: no cover - the assertion
        raise AssertionError("pipeline used the driver-side list path")


def test_majority_bad_batch_stays_off_driver(spark, tmp_path):
    from snowplow_s3_loader_spark.config import from_dict
    from snowplow_s3_loader_spark.streaming.pipeline import LoaderPipeline

    cfg = from_dict(
        {
            "license": {"accept": "true"},
            "purpose": "SELF_DESCRIBING",
            "input": {"kind": "file", "path": str(tmp_path / "in")},
            "output": {
                "good": {"path": str(tmp_path / "out")},
                "bad": {"kind": "file", "path": str(tmp_path / "bad")},
            },
        }
    )
    sink = _NoDriverListSink(str(tmp_path / "bad"))
    p = LoaderPipeline(spark, cfg, bad_sink=sink)
    # every row is bad
    df = spark.createDataFrame([(bytearray(b"{not json"),)] * 50, "payload binary")
    p.run_batch(df)
    sent = [a for a in p.actions.actions if a.kind == "SentToBad"]
    assert len(sent) == 1 and sent[0].detail[0] == 50
    lines = []
    for path in glob.glob(str(tmp_path / "bad" / "part-*")):
        if not path.endswith(".crc"):
            lines += open(path).read().splitlines()
    assert len(lines) == 50
