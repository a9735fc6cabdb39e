"""Benchmark of the OSM wrangle pipeline; see run.py."""
