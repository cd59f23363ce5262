"""Seeded end-to-end benchmark of the geomesa_spark engine (see README.md)."""
