"""Seeded end-to-end and per-layer benchmark for the social-graph engine.

Run one workload with::

    python3 perfbench/run.py --workload powerlaw-warm --seed 1 --seconds 10 --trace 0

See ``perfbench/NOTES.md`` for the workloads and the metric map.
"""
