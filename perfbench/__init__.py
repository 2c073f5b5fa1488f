"""Benchmark of the debias_spark CLI pipeline and registry keys; see README.md."""
