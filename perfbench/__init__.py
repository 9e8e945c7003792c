"""pdfspark benchmark (see run.py)."""
