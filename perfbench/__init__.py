"""Benchmark for broadway_kinesis_spark: see run.py and NOTES.md."""
