"""Benchmark of the dozer_spark engine (see README.md)."""
