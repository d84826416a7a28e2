"""Standalone benchmark for the market-data engine (see perfbench/README.md)."""
