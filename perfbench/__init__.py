"""Benchmark for naru_spark: see README.md."""
