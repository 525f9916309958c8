"""Closed-loop, layer-by-layer benchmark of the pipeline; see ``run.py``."""
