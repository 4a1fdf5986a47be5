"""Benchmark for the sql_engine_triangle_spark engine.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root. ``BENCHMARK.json`` names the
workloads and metrics; ``perfbench/NOTES.md`` explains them.
"""
