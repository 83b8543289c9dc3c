"""Layered benchmark of the deploy path; run ``perfbench/run.py``."""
