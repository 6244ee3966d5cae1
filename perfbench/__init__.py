"""Survey-engine benchmark: seeded inputs, workloads, DuckDB oracle, tracer."""
