"""Benchmark of the eth_indexer_spark indexer (see README.md)."""
