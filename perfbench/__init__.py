"""Benchmark for beam_spark; see perfbench/README.md."""
