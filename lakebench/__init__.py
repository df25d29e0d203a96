"""Lakehouse benchmark: seeded workloads, checks, metrics and traces."""
