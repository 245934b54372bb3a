"""Seeded end-to-end and per-layer benchmark of the engine.

Run ``python3 perfbench/run.py --workload <catalog|dashboard|ingest_fetch>
--seed <n> --seconds <s> --trace <0|1>`` from the repository root; the
last line of standard output is the JSON result.  See run.py.
"""
