"""Per-change benchmark harness: seeded workloads over the engine,
measured end to end and per layer. Entry point: ``perfbench/run.py``."""
