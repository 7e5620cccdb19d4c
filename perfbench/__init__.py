"""Seeded end-to-end and per-layer benchmark for punt_spark (see NOTES.md)."""
