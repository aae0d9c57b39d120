"""Workload benchmark for the repository: see README.md."""
