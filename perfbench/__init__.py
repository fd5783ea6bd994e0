"""Seeded end-to-end benchmark of the geokit_spark engine (see README.md)."""
