"""Seeded closed-loop benchmark for the engine; run ``perfbench/run.py``."""
