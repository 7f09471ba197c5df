"""Seeded, closed-loop benchmark of crawlee_spark (see README.md)."""
