"""Seeded benchmark of the library: see run.py."""
