"""Operators: admission filter, ingest projection, dedup, similarity
search and text statistics."""
