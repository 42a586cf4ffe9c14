"""Benchmark of the lakehouse engine: workloads, generators and tracing."""
