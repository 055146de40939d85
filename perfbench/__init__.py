"""Benchmark of the KG-construction and curation pipelines (see run.py)."""
