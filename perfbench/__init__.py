"""The repository's benchmark: event-loop and query-surface workloads.

Run ``python3 perfbench/run.py --help`` from the repository root.
"""
