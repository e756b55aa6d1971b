"""Kinesis streaming source as a PySpark Python Data Source (no connector
jar needed) — the reference's primary input (AwsApp.scala:19-23, input
config config.aws.reference.hocon:7-64).

One reader, ``KinesisPollingReader``: one polling consumer (the Spark
driver) walks every open shard each micro-batch with GetRecords, the way
the reference's single KCL worker consumes the stream; Spark distributes
the fetched records to executors for the parse/classify/sink stages.
Offsets are per-shard sequence numbers, so recovery replay is
*sequence-anchored and exact*: ``readBetweenOffsets`` re-reads precisely
the recorded [start, end] range and fails loudly if the range can no
longer be served (e.g. trimmed by retention) instead of returning
different rows. Delivery is at-least-once, the reference's guarantee
(README.md:14).

The wire client is injected via the ``clientFactory`` option (a
"module:callable" path) so every code path — shard discovery, iterator
typing, budgeted draining, resharding, throttle backoff, replay — is
unit-tested against an in-memory fake; only the real boto3 call is
env-gated.
"""

from __future__ import annotations

import importlib
import time
from typing import Any, Callable, Iterator, Tuple

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

SCHEMA = StructType(
    [
        StructField("payload", BinaryType()),
        StructField("partitionKey", StringType()),
        StructField("sequenceNumber", StringType()),
        StructField("arrivalTimestamp", TimestampType()),
        StructField("shardId", StringType()),
    ]
)

# markers used in the offset map before a shard has yielded any record
_FRESH = ""  # read from the configured initial position
_CHILD = "\x00CHILD"  # shard discovered mid-stream (reshard child): TRIM_HORIZON
_CLOSED = "\x00CLOSED"  # shard fully drained after a reshard


def _boto3_factory(options: dict) -> Any:
    try:
        import boto3  # optional — not in the base image
    except ImportError as e:  # pragma: no cover - env gate
        raise NotImplementedError(
            "kinesis_py source requires boto3 (not installed); pass a "
            "clientFactory option for a custom/fake client"
        ) from e
    kwargs: dict = {}
    if options.get("region"):
        kwargs["region_name"] = options["region"]
    if options.get("endpointurl"):
        kwargs["endpoint_url"] = options["endpointurl"]
    return boto3.client("kinesis", **kwargs)


def _resolve_factory(path: str | None) -> Callable[[dict], Any]:
    if not path:
        return _boto3_factory
    mod_name, _, attr = path.partition(":")
    return getattr(importlib.import_module(mod_name), attr)


def _is_throttle(err: Exception) -> bool:
    name = type(err).__name__
    code = ""
    resp = getattr(err, "response", None)
    if isinstance(resp, dict):
        code = resp.get("Error", {}).get("Code", "")
    return "ProvisionedThroughputExceeded" in name or "Throttl" in code or (
        "ProvisionedThroughputExceeded" in code
    )


class KinesisPollingReader(SimpleDataSourceStreamReader):
    """Driver-side polling reader over all shards of one stream.

    Offset format::

        {"shards": {shard_id: sequence_number | "" | CLOSED},
         "anchors": {shard_id: first_sequence_read}}   # only when needed

    ``""`` means the shard hasn't produced a record yet (start from the
    configured initial position); CLOSED means the shard ended (reshard)
    and its children are being read instead. ``anchors`` records, for
    shards first read from a non-replayable position (LATEST /
    AT_TIMESTAMP), the first sequence number the batch actually read — so
    recovery replay can seek AT_SEQUENCE_NUMBER(anchor) instead of
    re-seeking LATEST (which would skip the original rows).
    """

    def __init__(self, options: dict):
        options = {k.lower(): v for k, v in options.items()}
        self.stream = options.get("streamname") or ""
        if not self.stream:
            raise ValueError("kinesis_py: streamName option is required")
        self.initial_position = (options.get("initialposition") or "TRIM_HORIZON").upper()
        self.at_timestamp = options.get("initialtimestamp")  # ISO8601/epoch, AT_TIMESTAMP
        self.max_records = int(options.get("maxrecords") or 750)  # hocon:32
        self.max_polls_per_shard = int(options.get("maxpollspershard") or 10)
        self.max_retries = int(options.get("maxretries") or 10)  # hocon:61
        self.backoff_s = float(options.get("minbackoffseconds") or 0.1)  # hocon:53
        self.max_backoff_s = float(options.get("maxbackoffseconds") or 1.0)
        self._factory_path = options.get("clientfactory")
        self._options = dict(options)
        self._client: Any = None
        # live NextShardIterator per shard, kept across read() calls so a
        # LATEST-positioned shard doesn't re-seek (and skip records that
        # arrived between empty polls); purely an optimization — recovery
        # always goes through sequence numbers
        self._iters: dict[str, str] = {}

    def _c(self) -> Any:
        if self._client is None:
            self._client = _resolve_factory(self._factory_path)(self._options)
        return self._client

    def _call(self, fn: Callable, **kw) -> dict:
        # throttle retry with exponential backoff
        # (checkpointThrottledBackoffPolicy, hocon:52-55)
        delay = self.backoff_s
        for attempt in range(self.max_retries + 1):
            try:
                return fn(**kw)
            except Exception as e:  # noqa: BLE001 - classified below
                if not _is_throttle(e) or attempt == self.max_retries:
                    raise
                time.sleep(delay)
                delay = min(delay * 2, self.max_backoff_s)
        raise AssertionError("unreachable")

    def _list_shards(self) -> list[dict]:
        shards: list[dict] = []
        token = None
        while True:
            kw = {"NextToken": token} if token else {"StreamName": self.stream}
            resp = self._call(self._c().list_shards, **kw)
            shards.extend(resp.get("Shards", []))
            token = resp.get("NextToken")
            if not token:
                return shards

    def _iterator_for(
        self, shard_id: str, seq: str, anchor: str | None = None
    ) -> str:
        kw: dict = {"StreamName": self.stream, "ShardId": shard_id}
        if anchor is not None:
            kw["ShardIteratorType"] = "AT_SEQUENCE_NUMBER"
            kw["StartingSequenceNumber"] = anchor
        elif seq and seq not in (_CLOSED, _CHILD):
            kw["ShardIteratorType"] = "AFTER_SEQUENCE_NUMBER"
            kw["StartingSequenceNumber"] = seq
        elif seq == _CHILD:
            # a reshard child must be read from its start or the records
            # written right after the split are lost
            kw["ShardIteratorType"] = "TRIM_HORIZON"
        elif self.initial_position == "AT_TIMESTAMP":
            kw["ShardIteratorType"] = "AT_TIMESTAMP"
            kw["Timestamp"] = self.at_timestamp
        else:
            kw["ShardIteratorType"] = self.initial_position  # TRIM_HORIZON | LATEST
        return self._call(self._c().get_shard_iterator, **kw)["ShardIterator"]

    # -- offset lifecycle --------------------------------------------------

    def initialOffset(self) -> dict:
        return {"shards": {s["ShardId"]: _FRESH for s in self._list_shards()}}

    def _drain_shard(
        self,
        shard_id: str,
        seq: str,
        budget: int,
        stop_at: str | None = None,
        use_cache: bool = True,
        max_polls: int | None = None,
        anchor: str | None = None,
    ) -> tuple[list[Tuple], str]:
        """Read up to `budget` records from one shard; returns (rows,
        final_seq). final_seq is CLOSED when the shard ended."""
        rows: list[Tuple] = []
        it = (self._iters.get(shard_id) if use_cache else None) or self._iterator_for(
            shard_id, seq, anchor=anchor
        )
        last = seq
        polls = max_polls if max_polls is not None else self.max_polls_per_shard
        for _ in range(polls):
            if it is None or budget <= 0:
                break
            resp = self._call(
                self._c().get_records, ShardIterator=it, Limit=min(budget, 10_000)
            )
            recs = resp.get("Records", [])
            it = resp.get("NextShardIterator")
            if use_cache and it is not None:
                self._iters[shard_id] = it
            for r in recs:
                last = r["SequenceNumber"]
                rows.append(
                    (
                        bytes(r["Data"]),
                        r.get("PartitionKey"),
                        r["SequenceNumber"],
                        r.get("ApproximateArrivalTimestamp"),
                        shard_id,
                    )
                )
                budget -= 1
                if stop_at is not None and last == stop_at:
                    return rows, last
            if it is None:  # shard closed by a reshard and fully drained
                self._iters.pop(shard_id, None)
                return rows, _CLOSED
            # caught up for this trigger: empty poll AND the wire says we
            # are at the tip (an empty GetRecords mid-stream is legal)
            if not recs and not resp.get("MillisBehindLatest", 0):
                break
        return rows, last

    def read(self, start: dict) -> Tuple[Iterator[Tuple], dict]:
        offsets = dict(start.get("shards", {}))
        # discover shards created by resharding: children get TRIM_HORIZON
        # (not the configured initial position) so post-split records are
        # never skipped
        for s in self._list_shards():
            offsets.setdefault(s["ShardId"], _CHILD)
        all_rows: list[Tuple] = []
        out: dict = {}
        anchors: dict[str, str] = {}
        for shard_id, seq in offsets.items():
            if seq == _CLOSED:
                out[shard_id] = _CLOSED
                continue
            rows, final = self._drain_shard(shard_id, seq, self.max_records)
            if (
                rows
                and seq == _FRESH
                and self.initial_position in ("LATEST", "AT_TIMESTAMP")
            ):
                # first data from a non-replayable seek: anchor the range's
                # first sequence so recovery can replay it exactly
                anchors[shard_id] = rows[0][2]
            all_rows.extend(rows)
            out[shard_id] = final
        end: dict = {"shards": out}
        if anchors:
            end["anchors"] = anchors
        return iter(all_rows), end

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[Tuple]:
        """Deterministic replay for batch recovery: re-read each shard from
        its start sequence up to (and including) its end sequence.

        Marker semantics (the round-2 replay bug, ADVICE r2): an end offset
        that is still a marker (FRESH/CHILD) means the batch recorded *no
        data* for that shard — emit nothing rather than draining whatever
        happens to be in the shard at recovery time. A shard missing from
        `start` was first seen during the batch — its range begins at
        TRIM_HORIZON (or the recorded anchor), never at the configured
        initial position (a LATEST re-seek would skip the original rows).
        """
        s_off = start.get("shards", {})
        anchors = end.get("anchors", {})
        rows: list[Tuple] = []
        for shard_id, end_seq in end.get("shards", {}).items():
            if end_seq in (_FRESH, _CHILD):
                continue  # batch recorded no data for this shard
            begin = s_off.get(shard_id, _CHILD)  # absent => discovered mid-batch
            if begin == _CLOSED or end_seq == begin:
                continue  # no progress recorded for this shard in the batch
            anchor = anchors.get(shard_id) if begin == _FRESH else None
            if begin == _FRESH and anchor is None and self.initial_position == "LATEST":
                # anchors are recorded whenever rows flow from a LATEST
                # seek, so a real end offset without one is a corrupted
                # checkpoint: a LATEST re-seek would return arbitrary rows,
                # so fail loudly instead. (TRIM_HORIZON / AT_TIMESTAMP
                # starts re-seek deterministically and need no anchor.)
                raise RuntimeError(
                    f"kinesis_py replay: shard {shard_id} has end offset "
                    f"{end_seq!r} but no replay anchor for a LATEST start"
                )
            stop = None if end_seq == _CLOSED else end_seq
            got, final = self._drain_shard(
                shard_id, begin, budget=2**31, stop_at=stop,
                use_cache=False, max_polls=10_000, anchor=anchor,
            )
            if stop is not None and final != stop:
                # better to fail the recovery than to silently return a
                # different row set than the original batch
                raise RuntimeError(
                    f"kinesis_py replay: shard {shard_id} ended at "
                    f"{final!r}, expected {stop!r} (records trimmed?)"
                )
            rows.extend(got)
        return iter(rows)

    def commit(self, end: dict) -> None:
        # Kinesis polling has no consumer-side ack; Structured Streaming's
        # checkpoint IS the lease table analog (hocon:10-13).
        pass


class KinesisPythonDataSource(DataSource):
    """`spark.readStream.format("kinesis_py")` — register with
    `spark.dataSource.register(KinesisPythonDataSource)`.

    Only ``simpleStreamReader`` is implemented: the base ``streamReader``
    raises ``PySparkNotImplementedError`` and Spark falls back to the
    sequence-anchored ``KinesisPollingReader`` at any shard count.
    """

    @classmethod
    def name(cls) -> str:
        return "kinesis_py"

    def schema(self) -> StructType:
        return SCHEMA

    def simpleStreamReader(self, schema: StructType) -> KinesisPollingReader:
        return KinesisPollingReader(dict(self.options))
