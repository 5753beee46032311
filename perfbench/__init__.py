"""Benchmark of the engine: encrypted scan, encrypted ingest and the dedup
pipeline, measured end to end and per layer. Entry point: ``run.py``."""
