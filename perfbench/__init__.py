"""Benchmark of the Spark engine's dashboard, sync and corpus-prep paths."""
