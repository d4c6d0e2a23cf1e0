"""Seeded end-to-end and per-layer benchmark of the extraction engine.

Entry point: ``python3 perfbench/run.py`` (see run.py and NOTES.md).
"""
