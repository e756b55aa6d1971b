"""In-memory fake of the Kinesis client surface used by
sources/kinesis_source.py (list_shards / get_shard_iterator / get_records).

Semantics mirrored from the public Kinesis API contract:
- iterators encode (shard, position); each get_records returns up to Limit
  records from the position and a NextShardIterator;
- a closed shard (reshard) returns its remaining records and then
  NextShardIterator=None;
- TRIM_HORIZON / LATEST / AT_TIMESTAMP / AFTER_SEQUENCE_NUMBER iterator
  types;
- optional throttling: raise ProvisionedThroughputExceeded for the first N
  get_records calls, to exercise the reader's backoff path.

`factory(options)` builds a fake seeded from a JSON file (option
`seedFile`), which lets a Spark streaming integration test drive the REAL
read path in Spark's separate Python worker process.

Seed file format::

    {"streamName": "s", "shards": {"shardId-0": {"records": [
        {"Data": "<utf8 text>", "PartitionKey": "k",
         "ArrivalTimestamp": "2026-01-01T00:00:05+00:00"}, ...],
        "closed": false}},
     "throttleFirst": 0}

ArrivalTimestamp is optional (defaults to a deterministic epoch+n ramp);
it is what an AT_TIMESTAMP iterator compares against.
"""

from __future__ import annotations

import datetime as dt
import json
import threading
from typing import Any


class ProvisionedThroughputExceededException(Exception):
    def __init__(self) -> None:
        super().__init__("Rate exceeded")
        self.response = {"Error": {"Code": "ProvisionedThroughputExceededException"}}


_EPOCH = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)


class FakeKinesisClient:
    def __init__(self, stream_name: str = "stream", throttle_first: int = 0):
        self.stream_name = stream_name
        self.shards: dict[str, dict] = {}
        self._seq = 0
        self._throttle_remaining = throttle_first
        self.get_records_calls = 0
        self._lock = threading.Lock()

    # -- seeding helpers (test side) --------------------------------------

    def create_shard(self, shard_id: str) -> None:
        self.shards.setdefault(shard_id, {"records": [], "closed": False})

    def put(
        self,
        shard_id: str,
        data: bytes,
        partition_key: str = "pk",
        arrival: dt.datetime | None = None,
    ) -> str:
        with self._lock:
            self.create_shard(shard_id)
            # per-shard sequence numbers: deterministic for a given shard's
            # record list regardless of cross-shard put interleaving, so a
            # reseeded fake lines up with checkpointed offsets (real Kinesis
            # seqs are also only ordered within a shard)
            n = len(self.shards[shard_id]["records"]) + 1
            seq = f"{n:020d}"
            self.shards[shard_id]["records"].append(
                {
                    "SequenceNumber": seq,
                    "Data": data,
                    "PartitionKey": partition_key,
                    "ApproximateArrivalTimestamp": (
                        arrival
                        if arrival is not None
                        else _EPOCH + dt.timedelta(seconds=n)
                    ),
                }
            )
            return seq

    def close_shard(self, shard_id: str) -> None:
        self.shards[shard_id]["closed"] = True

    def split_shard(self, parent: str, child_a: str, child_b: str) -> None:
        self.close_shard(parent)
        self.create_shard(child_a)
        self.create_shard(child_b)

    # -- client surface (reader side) -------------------------------------

    def list_shards(self, StreamName: str | None = None, NextToken: str | None = None) -> dict:
        return {"Shards": [{"ShardId": sid} for sid in sorted(self.shards)]}

    def get_shard_iterator(
        self,
        StreamName: str,
        ShardId: str,
        ShardIteratorType: str,
        StartingSequenceNumber: str | None = None,
        Timestamp: Any = None,
    ) -> dict:
        recs = self.shards[ShardId]["records"]
        if ShardIteratorType == "TRIM_HORIZON":
            pos = 0
        elif ShardIteratorType == "LATEST":
            pos = len(recs)
        elif ShardIteratorType in ("AFTER_SEQUENCE_NUMBER", "AT_SEQUENCE_NUMBER"):
            at = ShardIteratorType == "AT_SEQUENCE_NUMBER"
            pos = len(recs)
            for i, r in enumerate(recs):
                seq = r["SequenceNumber"]
                start = StartingSequenceNumber or ""
                if seq > start or (at and seq == start):
                    pos = i
                    break
        elif ShardIteratorType == "AT_TIMESTAMP":
            ts = Timestamp
            if isinstance(ts, str):
                ts = dt.datetime.fromisoformat(ts)
            pos = len(recs)
            for i, r in enumerate(recs):
                if r["ApproximateArrivalTimestamp"] >= ts:
                    pos = i
                    break
        else:
            raise ValueError(f"bad iterator type {ShardIteratorType}")
        return {"ShardIterator": json.dumps({"shard": ShardId, "pos": pos})}

    def get_records(self, ShardIterator: str, Limit: int = 10_000) -> dict:
        self.get_records_calls += 1
        if self._throttle_remaining > 0:
            self._throttle_remaining -= 1
            raise ProvisionedThroughputExceededException()
        it = json.loads(ShardIterator)
        shard = self.shards[it["shard"]]
        recs = shard["records"][it["pos"] : it["pos"] + Limit]
        new_pos = it["pos"] + len(recs)
        exhausted = new_pos >= len(shard["records"])
        nxt = (
            None
            if (shard["closed"] and exhausted)
            else json.dumps({"shard": it["shard"], "pos": new_pos})
        )
        return {
            "Records": [dict(r) for r in recs],
            "NextShardIterator": nxt,
            "MillisBehindLatest": 0 if exhausted else 1000,
        }


def factory(options: dict) -> FakeKinesisClient:
    """clientFactory entry point: build a fake seeded from option
    `seedFile` (JSON, see module docstring)."""
    options = {k.lower(): v for k, v in options.items()}
    client = FakeKinesisClient(options.get("streamname") or "stream")
    seed_path = options.get("seedfile")
    if seed_path:
        with open(seed_path) as f:
            seed = json.load(f)
        client._throttle_remaining = int(seed.get("throttleFirst", 0))
        for sid, spec in seed.get("shards", {}).items():
            client.create_shard(sid)
            for rec in spec.get("records", []):
                arrival = rec.get("ArrivalTimestamp")
                if arrival is not None:
                    arrival = dt.datetime.fromisoformat(arrival)
                client.put(
                    sid,
                    rec["Data"].encode(),
                    rec.get("PartitionKey", "pk"),
                    arrival=arrival,
                )
            if spec.get("closed"):
                client.close_shard(sid)
    return client
