"""Worked example: the loader consuming a Kinesis stream end-to-end.

Uses the built-in python Kinesis data source (no connector jar). Here the
wire is the in-memory fake so the demo runs anywhere; against real AWS,
drop `clientFactory`/`options` and set `region` — everything else is
identical (the reference's deployment shape, AwsApp.scala:19-23).

Run:  PYTHONPATH=. python examples/kinesis_loader_demo.py
"""

from __future__ import annotations

import glob
import gzip
import json
import os
import tempfile
import time

from snowplow_s3_loader_spark.config import from_dict
from snowplow_s3_loader_spark.session import get_spark
from snowplow_s3_loader_spark.sources.streams import kinesis_stream
from snowplow_s3_loader_spark.streaming.pipeline import LoaderPipeline


def main() -> None:
    tmp = tempfile.mkdtemp(prefix="kinesis_demo_")
    seed = os.path.join(tmp, "stream.json")
    with open(seed, "w") as f:
        json.dump(
            {
                "shards": {
                    "shardId-0": {
                        "records": [
                            {"Data": '{"schema": "iglu:com.acme/page_view/jsonschema/1-0-0", "data": {"p": "/home"}}'},
                            {"Data": '{"schema": "iglu:com.acme/page_view/jsonschema/1-0-0", "data": {"p": "/docs"}}'},
                        ]
                    },
                    "shardId-1": {
                        "records": [
                            {"Data": '{"schema": "iglu:com.acme/click/jsonschema/2-0-0", "data": {}}'},
                            {"Data": "not json at all"},
                        ]
                    },
                }
            },
            f,
        )

    cfg = from_dict(
        {
            "license": {"accept": "true"},
            "purpose": "SELF_DESCRIBING",
            "input": {
                "kind": "kinesis",
                "streamName": "snowplow-sdjs",
                # fake wire for the demo; remove for real AWS
                "clientFactory": "snowplow_s3_loader_spark.testing.fake_kinesis:factory",
                "options": {"seedFile": seed},
            },
            "output": {
                "good": {"path": os.path.join(tmp, "out")},
                "bad": {"kind": "file", "path": os.path.join(tmp, "bad")},
            },
            "batching": {"maxDelay": "1 second"},
        }
    )

    spark = get_spark(master="local[4]", shuffle_partitions=4)
    pipeline = LoaderPipeline(spark, cfg)
    query = pipeline.run_stream(
        kinesis_stream(spark, cfg.input), checkpoint=os.path.join(tmp, "ckpt")
    )

    # the pipeline records WroteFile and SentToBad only after the write jobs
    # commit, so once both are logged every file they name is complete
    actions = pipeline.actions
    deadline = time.time() + 60
    while time.time() < deadline:
        if actions.of_kind("SentToBad") and len(actions.of_kind("WroteFile")) >= 2:
            break
        time.sleep(0.5)
    query.stop()
    good = [
        p for p in glob.glob(os.path.join(cfg.good.path, "**", "*.gz"), recursive=True)
        if "_staging" not in p
    ]
    # committed part files only: a task still writing sits under _temporary/
    bad = sorted(glob.glob(os.path.join(cfg.bad.path, "part-*")))

    print("\n=== good files (schema-partitioned gzip) ===")
    for p in sorted(good):
        print(os.path.relpath(p, cfg.good.path))
        for line in gzip.open(p, "rt"):
            print("   ", line.rstrip())
    print("\n=== bad rows (self-describing envelopes) ===")
    for p in bad:
        for line in open(p):
            env = json.loads(line)
            print(env["schema"], "->", env["data"]["failure"]["errors"][0][:60])
    spark.stop()


if __name__ == "__main__":
    main()
