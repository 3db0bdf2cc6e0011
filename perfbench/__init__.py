"""Benchmark for the dbsyncer_spark engine: build, serving and CDC
workloads driven through the public API (see README.md)."""
