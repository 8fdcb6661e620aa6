"""Benchmark of the KG build, stream refresh and query paths (see README.md)."""
