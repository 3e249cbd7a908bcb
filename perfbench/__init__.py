"""KG-construction benchmark: seeded workloads through ``run_kg`` and
``ops.dedup``, end-to-end metrics with tracing off and a traced
per-layer breakdown.  Entry point: ``python3 perfbench/run.py``."""
