"""Standalone benchmark of the RBAC vector-search serving path.

See ``perfbench/README.md`` for the workloads, metrics and how to run it.
"""
