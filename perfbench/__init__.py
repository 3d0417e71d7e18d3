"""Extraction benchmark (see README.md): ``python3 perfbench/run.py``."""
