"""Benchmark of the scrape loop and the query layers (see README.md)."""
