"""End-to-end benchmark of the restructure engine (see run.py)."""
