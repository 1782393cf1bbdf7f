"""Pipeline benchmark: see README.md. Entry point: ``python3 perfbench/run.py``."""
