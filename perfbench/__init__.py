"""Seeded end-to-end benchmark for the zonal/spatial engine (see run.py)."""
