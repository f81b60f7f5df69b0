"""Extraction benchmark of tika_wrap_spark: see run.py."""
