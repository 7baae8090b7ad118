"""Seeded end-to-end and per-layer benchmark for the map-ETL engine."""
