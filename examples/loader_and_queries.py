"""Worked example: everything a snowplow-s3-loader user does today, plus the
query surface the reference never had.

Run:  PYTHONPATH=. python examples/loader_and_queries.py
"""

from __future__ import annotations

import glob
import gzip
import json
import os
import tempfile

from pyspark.sql import functions as F

from snowplow_s3_loader_spark.config import from_dict
from snowplow_s3_loader_spark.engine import Engine
from snowplow_s3_loader_spark.operators import dedup, similarity
from snowplow_s3_loader_spark.session import get_spark
from snowplow_s3_loader_spark.streaming.pipeline import LoaderPipeline

SF_DIR = "/root/testdata/sf0.001"


def main() -> None:
    spark = get_spark(app_name="example", master="local[4]", shuffle_partitions=4)
    work = tempfile.mkdtemp(prefix="loader_example_")

    # ---- 1. the reference's job: SDJ lines -> partitioned gzip blobs ------
    cfg = from_dict(
        {
            "license": {"accept": "true"},
            "purpose": "SELF_DESCRIBING",
            "input": {"kind": "file", "path": f"{work}/in"},
            "output": {
                "good": {"path": f"{work}/out", "prefix": "ex-"},
                "bad": {"kind": "file", "path": f"{work}/bad"},
            },
        }
    )
    pipeline = LoaderPipeline(spark, cfg)
    # records arrive as a binary `payload` column, the shape every source gives
    records = spark.createDataFrame(
        [
            (b'{"schema": "iglu:com.example/click/jsonschema/1-0-0", "data": {"x": 1}}',),
            (b'{"schema": "iglu:com.example/view/jsonschema/1-0-0", "data": {"y": 2}}',),
            (b"{not json",),
        ],
        "payload binary",
    )
    pipeline.run_batch(records)  # streaming: pipeline.run_stream(file_stream(...))
    for path in sorted(glob.glob(f"{work}/out/**/*.gz", recursive=True)):
        with gzip.open(path, "rt") as f:
            print("blob", os.path.relpath(path, work), "->", f.read().strip())
    for path in glob.glob(f"{work}/bad/part-*"):
        if path.endswith(".crc"):
            continue
        for line in open(path):
            if line.strip():
                print("bad row schema:", json.loads(line)["schema"])

    # ---- 2. the query surface -------------------------------------------
    eng = Engine.at(spark, SF_DIR)
    eng.sql(
        """
        SELECT l_returnflag, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem GROUP BY 1 ORDER BY 1
        """
    ).show()

    # ---- 3. training-data ops -------------------------------------------
    docs = eng.table("documents")
    bands = dedup.minhash_bands(docs.limit(200), "doc_id", "text")
    print("near-dup candidate pairs:", dedup.lsh_candidate_pairs(bands).count())
    topk = similarity.brute_force_topk(
        eng.table("embeddings"), F.col("vec_id") == 0, k=3
    )
    topk.show()

    spark.stop()


if __name__ == "__main__":
    main()
