"""Benchmark of hpctoolkit_dataframe_spark; run ``python3 perfbench/run.py --help``."""
