"""Seeded end-to-end benchmark of ult_spark (entry point: perfbench/run.py)."""
