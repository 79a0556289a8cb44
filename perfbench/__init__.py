"""Regression benchmark for the wopen_spark daily batches (see README.md)."""
