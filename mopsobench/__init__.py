"""Closed-loop benchmark of the MOPSO fit: ``python3 mopsobench/run.py``."""
