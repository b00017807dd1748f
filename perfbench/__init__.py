"""Layered benchmark for the loader engine; run ``python3 perfbench/run.py --help``."""
