"""Repository benchmark: seeded workloads, output checks and tracing."""
