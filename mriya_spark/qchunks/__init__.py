"""Chunk modules of the query registry, imported by queries.py.
Import order = registration order = SURVEY §2 order; do not
reorder."""
