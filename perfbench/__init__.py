"""Benchmark for the lake write path, the backtest read path and the
registry analytics queries.  Entry point: `python3 perfbench/run.py`."""
