"""Seeded end-to-end and per-layer benchmark of the a5spark engine."""
