"""Benchmark for hive_reflex_spark: see README.md in this directory."""
