"""Repository benchmark: the reference job chain plus two registry-seat
workloads, timed from outside the package (see run.py)."""
