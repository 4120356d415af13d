"""Benchmark of the engine's search, ETL and curation paths (see run.py)."""
