"""Seeded end-to-end benchmark of the CDC pipeline; see README.md."""
