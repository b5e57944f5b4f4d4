"""movingspark benchmark (see perfbench/run.py)."""
