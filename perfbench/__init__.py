"""Repository benchmark for ivory_spark: see perfbench/README.md."""
