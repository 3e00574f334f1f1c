"""Seeded end-to-end benchmark for mapshaper_spark (see README.md)."""
