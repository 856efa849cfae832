"""Repository benchmark: workloads, tracing and metrics (see run.py)."""
