"""Benchmark of the ingest, query and CDC-maintenance paths; see run.py."""
