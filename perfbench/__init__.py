"""Benchmark of the engine: reference ETL pipeline, relational scans and
LLM curation, measured end to end and per layer. See ``run.py``."""
