"""Scale soak test (opt-in: SOAK=1 python -m pytest tests/test_soak.py):
push ~1M synthetic SDJ lines through the full batch loader path — classify,
partitioned gzip write with byte-capped rolling, bad rows — and check
throughput + zero loss. Kept out of the default suite for CI latency."""

from __future__ import annotations

import glob
import gzip
import os
import time

import pytest
from pyspark.sql import functions as F

from snowplow_s3_loader_spark.config import from_dict
from snowplow_s3_loader_spark.streaming.pipeline import LoaderPipeline

pytestmark = pytest.mark.skipif(
    not os.environ.get("SOAK"), reason="soak test: set SOAK=1 to run"
)

N_LINES = 1_000_000


def test_loader_throughput_1m_lines(spark, tmp_path):
    cfg = from_dict(
        {
            "license": {"accept": "true"},
            "purpose": "SELF_DESCRIBING",
            "input": {"kind": "file", "path": str(tmp_path / "in")},
            "output": {
                "good": {"path": str(tmp_path / "out")},
                "bad": {"kind": "file", "path": str(tmp_path / "bad")},
            },
            "batching": {"maxBytes": 8 * 1024 * 1024, "maxDelay": "1 minute"},
        }
    )
    p = LoaderPipeline(spark, cfg)

    lines = spark.range(N_LINES).select(
        F.concat(
            F.lit('{"schema": "iglu:com.acme/type'),
            (F.col("id") % 7).cast("string"),
            F.lit('/jsonschema/1-0-0", "data": {"n": '),
            F.col("id").cast("string"),
            F.lit("}}"),
        )
        .cast("binary")
        .alias("payload")
    )

    t0 = time.perf_counter()
    p.run_batch(lines)
    elapsed = time.perf_counter() - t0

    n_written = sum(a.detail[0] for a in p.actions.of_kind("AddedCountMetric"))
    files = glob.glob(os.path.join(cfg.good.path, "**", "*.gz"), recursive=True)
    total_rows = 0
    for f in files:
        with gzip.open(f, "rt") as fh:
            total_rows += sum(1 for _ in fh)

    rate = N_LINES / elapsed
    print(f"\nsoak: {N_LINES} lines in {elapsed:.1f}s = {rate:,.0f} lines/s, "
          f"{len(files)} files")
    assert n_written == N_LINES
    assert total_rows == N_LINES  # zero loss through the gzip roundtrip
    assert len(files) >= 7  # one+ per schema partition
    assert rate > 50_000  # sanity floor on local[4]
