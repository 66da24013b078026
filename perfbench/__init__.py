"""Closed-loop benchmark harness for the spark-graft engine (see run.py)."""
