"""Layered benchmark of the encode engine and the toolkit verbs at local[4].

Entry point: perfbench/run.py. Workloads, metrics and what each workload
bypasses are described in perfbench/DESIGN.md.
"""
