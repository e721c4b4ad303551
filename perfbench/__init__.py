"""Benchmark of the FlashML pipeline; see README.md."""
