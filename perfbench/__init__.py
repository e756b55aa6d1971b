"""Loader benchmark: `python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`, run from the repository root. See README.md."""
