"""Engine benchmark: seeded workloads, DuckDB correctness gates, per-layer tracing."""
