"""Seeded end-to-end benchmark of the sentiment engine (see README.md)."""
