"""Seeded end-to-end benchmark for neurondb-spark (see README.md)."""
