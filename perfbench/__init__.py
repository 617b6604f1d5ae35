"""Seeded end-to-end and per-layer benchmark for the spatial-tiles engine.

Run it from the repository root:

    python3 perfbench/run.py --workload tile_pip --seed 1 --seconds 10 --trace 0

See perfbench/README.md for the workloads, metrics and record format.
"""
