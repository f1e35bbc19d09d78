"""End-to-end and per-layer benchmark for the index engine (see run.py)."""
