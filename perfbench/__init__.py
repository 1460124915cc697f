"""CDC apply benchmark: three workloads, a DuckDB correctness oracle and a
traced per-layer run. Entry point: `python3 perfbench/run.py`."""
