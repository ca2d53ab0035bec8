"""Seeded, closed-loop benchmark of the datapipelineetl_spark engine (see README.md)."""
