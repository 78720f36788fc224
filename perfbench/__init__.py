"""Benchmark of the KG-construction and incremental-ingest paths (see README.md)."""
