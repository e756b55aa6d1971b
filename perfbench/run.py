"""Run one benchmark workload against the package in the current directory.

    python3 perfbench/run.py --workload sdj_envelopes --seed 1 --seconds 20 --trace 0

Run it from the repository root. `--trace 0` reports the end-to-end
metrics, `--trace 1` the per-layer ones (see BENCHMARK.json). Inputs come
from `--seed` alone. The last line of standard output is one JSON object
with `correct`, `attempted`, `failed` and `metrics`; the lines before it
give every metric with its unit and sample count, the error rate and any
failed check. The exit code is 0 only when every correctness check passed.
Scratch files live under `.perfbench_run/` and are removed at the end,
except the traced run's spans.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import sys
import traceback

PACKAGE = "snowplow_s3_loader_spark"
RUN_DIR = ".perfbench_run"
TIME_LIMIT_S = 175  # a run must finish within 180 s


class _TimeLimit(Exception):
    pass


def _on_alarm(signum, frame):
    raise _TimeLimit(f"run exceeded {TIME_LIMIT_S} s")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    sys.path.insert(0, root)
    spec = importlib.util.find_spec(PACKAGE)
    if spec is None or not os.path.abspath(spec.origin).startswith(root + os.sep):
        print(f"{PACKAGE} not found under {root}; run from the repository root", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(root, "perfbench", "spec.json")) as f:
        workloads = json.load(f)
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wanted = bench["per_layer" if args.trace else "end_to_end"]

    work = os.path.join(root, RUN_DIR, f"work-{args.workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # every temporary file, the JVMs' and the Python workers', stays in work;
    # the spark-submit launcher JVM would write its perf data to /tmp
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    cores = len(os.sched_getaffinity(0))

    from perfbench import harness, sdj, stream

    run = {"sdj_envelopes": sdj.run, "enriched_stream": stream.run}[args.workload]
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(TIME_LIMIT_S)
    try:
        res = run(
            args.seed, args.seconds, bool(args.trace), work, cores,
            workloads[args.workload]["params"],
        )
    except Exception:  # noqa: BLE001 - report, clean up, exit non-zero
        traceback.print_exc()
        return 1
    finally:
        try:
            harness.stop_session()
        finally:
            signal.alarm(0)
            shutil.rmtree(work, ignore_errors=True)

    print(f"workload {args.workload}  seed {args.seed}  cores {cores}  trace {args.trace}")
    for m in wanted:
        if m["name"] in res.values:
            print(
                f"  {m['name']:<45} {res.values[m['name']]:>14.6g} {m['unit']:<6}"
                f" n={res.samples[m['name']]}"
            )
    for n in res.notes:
        print(f"  {n}")
    print(f"  error_rate {res.failed}/{res.attempted} batches failed")
    for e in res.errors:
        print(f"  CHECK FAILED: {e}")
    missing = [m["name"] for m in wanted if m["name"] not in res.values]
    if missing:
        print(f"no value for {', '.join(missing)}", file=sys.stderr)
        return 1
    correct = not res.errors
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": {
                    m["name"]: {"value": res.values[m["name"]], "unit": m["unit"]} for m in wanted
                },
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
