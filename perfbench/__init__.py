"""Closed-loop benchmark of lab_etl_spark (see run.py)."""
