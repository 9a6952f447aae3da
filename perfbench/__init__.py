"""Per-change benchmark of quiver-spark (see run.py)."""
