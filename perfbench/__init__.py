"""Benchmark for the engine: workloads, tracing and oracle checks (see README.md)."""
