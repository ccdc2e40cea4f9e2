"""Benchmark for oni_indexer_spark; see README.md."""
