"""Seeded end-to-end and per-layer benchmark of the spatial engine (see README.md)."""
