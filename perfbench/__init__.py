"""Benchmark of record for fossa_spark: seeded Engine job streams.

Entry point: ``python3 perfbench/run.py --workload W --seed N --seconds S
--trace 0|1``.  See perfbench/README.md.
"""
