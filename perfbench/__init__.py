"""Layered benchmark for iceberg_core_spark (see README.md)."""
