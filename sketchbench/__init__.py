"""Benchmark of bloomspark: seeded workloads, end-to-end and per-layer metrics."""
