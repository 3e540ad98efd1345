"""Layered benchmark of hdfe_spark; see run.py."""
