"""Benchmark for ictspark; entry point perfbench/run.py."""
