"""Seeded end-to-end and per-layer benchmark of the RAG engine; run
``python3 perfbench/run.py --help``."""
