"""Workload benchmark for the cfs-engine package (see run.py)."""
