"""Benchmark of the firehose engine; see README.md."""
