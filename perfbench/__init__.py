"""Seeded end-to-end and per-layer benchmark of courlan_spark (see run.py)."""
