"""Closed-loop benchmark for erpl_web_spark; see run.py."""
