"""Benchmark of the pii_redactor_spark program: see perfbench/run.py."""
