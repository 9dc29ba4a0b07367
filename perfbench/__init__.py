"""The repository's benchmark: workloads, checks and per-layer tracing
around the spatialsketch_spark engine. Entry point: ``perfbench/run.py``."""
