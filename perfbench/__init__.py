"""Benchmark of the opennre_spark KG engine (see perfbench/README.md)."""
