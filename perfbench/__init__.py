"""spark-extract benchmark (see run.py)."""
