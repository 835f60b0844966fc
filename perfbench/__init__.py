"""Standalone benchmark of the streaming engine; see ``perfbench/run.py``."""
