"""Layered benchmark for the etl_loading_scripts_spark engine.

``perfbench/run.py`` is the one command; this package holds its parts:
seeded inputs (:mod:`.inputs`), the oracle hash (:mod:`.oracle`), Spark
status-store counters (:mod:`.counters`), spans and per-layer metrics
(:mod:`.trace`) and the workloads (:mod:`.workloads`).
"""
