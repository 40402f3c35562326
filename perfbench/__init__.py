"""Seeded end-to-end benchmark of the feature engine (see README.md)."""
