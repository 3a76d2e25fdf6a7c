"""Benchmark for edspdf_spark: see perfbench/README.md."""
