"""Closed-loop benchmark of sdlt_spark; see README.md."""
