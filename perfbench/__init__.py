"""Seeded workload benchmark for the engine; see ``run.py``."""
