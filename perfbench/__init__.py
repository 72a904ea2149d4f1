"""End-to-end and per-layer benchmark for deidentify_spark (see run.py)."""
