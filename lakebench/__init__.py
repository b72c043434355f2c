"""Lakehouse-path benchmark (see run.py)."""
