"""Seeded input generator for the loader benchmark.

Runs in the benchmark's own process, before any timing starts, and uses no
Spark: the program under test only ever sees the files written here. The
same seed always yields byte-identical inputs, and every count the checks
rely on (bad lines, corrupt envelopes, lines per schema) is exact and the
same for every seed, so count metrics repeat across runs.

Two input kinds:

* SELF_DESCRIBING envelopes (`sdj_batch`): fixed-width JSON lines packed 100
  to an envelope, envelopes alternating gzip and zstd, with a Pareto schema
  mix, truncated-JSON and missing-schema lines, and a few corrupt envelopes.
  Written as parquet with one binary `payload` column, the shape of a
  Kinesis batch.
* ENRICHED_EVENTS backlog (`enriched_backlog`): tab-separated enriched
  events of realistic width, written as a fake-Kinesis seed file spread
  over several shards.
"""

from __future__ import annotations

import gzip
import json
import os
import random
import struct
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# SELF_DESCRIBING envelopes
# --------------------------------------------------------------------------

N_SCHEMAS = 40
HOT_SHARE = 0.5  # share of good lines on the hottest schema
TRUNCATED_SHARE = 0.02
MISSING_SCHEMA_SHARE = 0.01
CORRUPT_ENVELOPE_SHARE = 0.005
LINES_PER_ENVELOPE = 100
CODECS = ("gzip", "zstd")  # alternate per envelope
PARTITION_FORMAT = "{vendor}.{schema}/model={model}/date={yyyy}-{MM}-{dd}"
_VENDORS = ("com.acme", "com.snowplowanalytics.snowplow", "io.example.shop")
_PAGES = ("home", "cart", "help", "shop", "item", "user", "find", "sale")


def schemas() -> list[tuple[str, str, int]]:
    """(vendor, name, model) of each schema, hottest first."""
    return [
        (_VENDORS[i % len(_VENDORS)], f"event_{i:02d}", 1 + (i % 3 == 2))
        for i in range(N_SCHEMAS)
    ]


def _schema_counts(n_good: int) -> list[int]:
    """Exact good-line count per schema: the hottest holds HOT_SHARE, the
    tail splits the rest as 1/rank, rounding leftovers go to the hottest."""
    tail = [1.0 / r for r in range(1, N_SCHEMAS)]
    norm = (1.0 - HOT_SHARE) * n_good / sum(tail)
    counts = [int(w * norm) for w in tail]
    return [n_good - sum(counts)] + counts


@dataclass
class SdjBatch:
    envelopes: list[bytes] = field(default_factory=list)
    good_lines: list[str] = field(default_factory=list)
    n_lines: int = 0  # lines after decompression; a corrupt envelope is 1
    n_bad: int = 0  # truncated + missing-schema lines + corrupt envelopes
    n_corrupt_envelopes: int = 0


_SDJ = (
    '{"schema":"iglu:%s/%s/jsonschema/%d-0-%d","data":{"id":"%s","user":"u%07d",'
    '"page":"/%s?q=%08x","ts":"2026-03-%02dT%02d:%02d:%02d.%03dZ","qty":%d,'
    '"price":%.2f,"tags":["%s","t%02d"],"ua":"Mozilla/5.0 (X11; Linux x86_64) '
    'Gecko/20100101 Firefox/%03d.0"}}'
)


def _sdj_line(r: int, uid: str, schema: tuple[str, str, int]) -> str:
    """One valid line; every varying field is fixed-width, so line length
    depends only on the schema."""
    vendor, name, model = schema
    return _SDJ % (
        vendor, name, model, r % 3, uid, (r >> 2) % 10**7, _PAGES[(r >> 26) % 8],
        (r >> 29) & 0xFFFFFFFF, 1 + (r >> 61) % 28, (r >> 5) % 24, (r >> 10) % 60,
        (r >> 16) % 60, (r >> 22) % 1000, 10 + (r >> 33) % 90, 100 + ((r >> 38) % 90000) / 100,
        _PAGES[(r >> 54) % 8], (r >> 44) % 100, 100 + (r >> 51) % 30,
    )


def _frame(records: list[bytes]) -> bytes:
    """Envelope body: format byte, payload-format byte, then length-prefixed
    records."""
    return b"\x01\x01" + b"".join(struct.pack(">I", len(r)) + r for r in records)


def _compress(body: bytes, codec: str) -> bytes:
    if codec == "gzip":
        return gzip.compress(body, compresslevel=1, mtime=0)
    return pa.Codec("zstd").compress(body, asbytes=True)


def sdj_batch(seed: int, batch: int, n_lines: int) -> SdjBatch:
    """One batch of `n_lines // LINES_PER_ENVELOPE` envelopes."""
    rng = random.Random(f"sdj:{seed}:{batch}")
    n_env = n_lines // LINES_PER_ENVELOPE
    corrupt = set(rng.sample(range(n_env), round(n_env * CORRUPT_ENVELOPE_SHARE)))
    n_valid = (n_env - len(corrupt)) * LINES_PER_ENVELOPE
    n_trunc = round(n_valid * TRUNCATED_SHARE)
    n_missing = round(n_valid * MISSING_SCHEMA_SHARE)
    bad = rng.sample(range(n_valid), n_trunc + n_missing)
    kind = dict.fromkeys(bad[:n_trunc], "trunc") | dict.fromkeys(bad[n_trunc:], "missing")
    all_schemas = schemas()
    order = [s for s, c in zip(all_schemas, _schema_counts(n_valid - len(bad))) for _ in range(c)]
    rng.shuffle(order)
    good_schema = iter(order)

    out = SdjBatch(n_corrupt_envelopes=len(corrupt))
    out.n_bad = len(corrupt) + len(bad)
    out.n_lines = n_valid + len(corrupt)
    idx = 0
    for e in range(n_env):
        codec = CODECS[e % len(CODECS)]
        if e in corrupt:
            # well compressed, but the first record claims more bytes than
            # the envelope holds: the loader must reject the whole envelope
            body = b"\x01\x01" + struct.pack(">I", 1 << 20) + b"x" * 64
            out.envelopes.append(_compress(body, codec))
            continue
        records = []
        for _ in range(LINES_PER_ENVELOPE):
            uid = f"{seed % 2**32:08x}-{batch:04d}-{idx:08d}"
            k = kind.get(idx)
            schema = next(good_schema) if k is None else all_schemas[idx % N_SCHEMAS]
            line = _sdj_line(rng.getrandbits(64), uid, schema)
            if k == "trunc":
                line = line[: 20 + idx % (len(line) - 30)]
            elif k == "missing":
                line = '{"data"' + line[line.index(',"data"') + 7 :]
            else:
                out.good_lines.append(line)
            records.append(line.encode())
            idx += 1
        out.envelopes.append(_compress(_frame(records), codec))
    return out


def write_envelopes(path: str, envelopes: list[bytes], n_files: int) -> None:
    """Write the envelopes as `n_files` parquet files with a binary
    `payload` column, so the scan splits across that many tasks."""
    os.makedirs(path, exist_ok=True)
    per = -(-len(envelopes) // n_files)
    for f in range(n_files):
        chunk = envelopes[f * per : (f + 1) * per]
        table = pa.table({"payload": pa.array(chunk, type=pa.binary())})
        pq.write_table(table, os.path.join(path, f"part-{f:03d}.parquet"))


# --------------------------------------------------------------------------
# ENRICHED_EVENTS backlog
# --------------------------------------------------------------------------

ENRICHED_FIELDS = 131  # columns of the Snowplow enriched TSV format
EVENT_ID_INDEX = 6  # collector_tstamp is index 3


def event_id(shard: int, index: int) -> str:
    """A UUID-shaped event id that encodes (shard, index) for the
    exactly-once check."""
    return f"00000000-0000-4000-8{shard:03d}-{index:012d}"


def parse_event_id(eid: str) -> tuple[int, int]:
    parts = eid.split("-")
    return int(parts[3][1:]), int(parts[4])


# the fields that vary per event, in TSV order; all others are constant
_VARYING = {
    2: "%(stamp)s", 3: "%(stamp)s", 4: "%(stamp)s", 6: "%(eid)s", 7: "%(txn)06d",
    12: "user-%(user)06d", 13: "10.%(ip1)d.%(ip2)d.%(ip3)d",
    15: "%(fp)016x", 16: "%(sidx)d", 17: "%(nuid)032x",
    29: "https://shop.example.com/%(page)s/%(item)010x", 30: "Example shop - %(page)s",
    31: "https://www.search.example/?q=%(q)08x", 35: "/%(page)s/%(item)010x",
    52: (
        '{"schema":"iglu:com.snowplowanalytics.snowplow/contexts/jsonschema/1-0-0",'
        '"data":[{"schema":"iglu:com.snowplowanalytics.snowplow/web_page/jsonschema/1-0-0",'
        '"data":{"id":"%(wp)032x"}},{"schema":"iglu:com.example/session/jsonschema/1-0-2",'
        '"data":{"n":%(sidx)d,"cart":%(cart)d}}]}'
    ),
    100: (
        "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
        "(KHTML, like Gecko) Chrome/%(chrome)d.0.0.0 Safari/537.36"
    ),
    120: "%(stamp)s", 122: "%(dsid)032x", 124: "%(wp)032x",
}
_CONSTANT = {
    0: "shop", 1: "web", 5: "page_view", 8: "sp", 9: "js-3.24.2", 10: "ssc-3.2.0-kinesis",
    11: "enrich-kinesis-5.1.0", 18: "DE", 19: "BE", 20: "Berlin", 22: "52.52",
    32: "https", 33: "shop.example.com", 34: "443", 101: "Chrome", 104: "en-US",
    109: "Europe/Berlin", 116: "1920", 117: "1080",
}
_ENRICHED = "\t".join(
    _VARYING.get(i, _CONSTANT.get(i, "").replace("%", "%%")) for i in range(ENRICHED_FIELDS)
)


def _enriched_line(rng: random.Random, shard: int, index: int) -> str:
    r, s = rng.getrandbits(128), rng.getrandbits(128)
    sec = r % 86400
    return _ENRICHED % {
        "stamp": "2026-02-%02d %02d:%02d:%02d.%03d"
        % (1 + index % 28, sec // 3600, sec // 60 % 60, sec % 60, (r >> 17) % 1000),
        "eid": event_id(shard, index), "txn": (r >> 27) % 10**6,
        "user": (r >> 47) % 10**6, "ip1": (r >> 67) % 256, "ip2": (r >> 75) % 256,
        "ip3": (r >> 83) % 256, "fp": s >> 64, "sidx": 1 + (r >> 91) % 49, "nuid": s,
        "page": _PAGES[(r >> 97) % 8], "item": (r >> 100) % 2**40, "q": s % 2**32,
        "wp": s ^ r, "cart": (s >> 3) % 10, "chrome": 100 + (s >> 9) % 30, "dsid": r,
    }


def enriched_backlog(seed: int, n_shards: int, per_shard: int) -> list[list[str]]:
    """`per_shard` enriched lines for each of `n_shards` shards."""
    rng = random.Random(f"enriched:{seed}")
    return [
        [_enriched_line(rng, s, i) for i in range(per_shard)] for s in range(n_shards)
    ]


def shard_name(shard: int) -> str:
    return f"shardId-{shard:012d}"


def write_kinesis_seed(path: str, stream: str, shards: list[list[str]]) -> None:
    """Seed file for the package's fake Kinesis client (`seedFile`)."""
    seed = {
        "streamName": stream,
        "shards": {
            shard_name(s): {"records": [{"Data": line} for line in lines]}
            for s, lines in enumerate(shards)
        },
    }
    with open(path, "w") as f:
        json.dump(seed, f, separators=(",", ":"))
