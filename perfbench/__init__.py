"""Benchmark of the extraction and curation engine (see README.md)."""
