"""Layered benchmark for duckdb_nsql_spark.

One command runs one named workload on ``local[nproc]``, times each op
from outside the engine, checks every result against DuckDB and prints
one JSON line (see ``perfbench/run.py`` and ``BENCHMARK.json``).
"""
