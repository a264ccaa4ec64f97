"""Seeded, self-checking benchmark of the package (see README.md)."""
