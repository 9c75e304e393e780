"""Layered benchmark for pq_vector_spark; entry point ``perfbench/run.py``."""
