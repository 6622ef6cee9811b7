"""Seeded end-to-end and per-layer benchmark of the DWRF engine.

Run ``python3 perfbench/run.py --workload <scan|ingest|lookup|curate>``
from the repository root; see ``perfbench/README.md``.
"""
