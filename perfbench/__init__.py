"""Seeded benchmark of the engine: workloads, end-to-end metrics, and a
traced run that splits each workload's wall time by layer.

Run one workload from the repository root:

    python3 perfbench/run.py --workload cdc_delta --seed 1 --seconds 10 --trace 0

See perfbench/LAYERS.md for the workloads, their input sizes and the
pairing of each per-layer metric with the end-to-end metric it moves.
"""
