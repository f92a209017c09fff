"""Benchmark of the libpdf_spark extraction pipeline and operators (see README.md)."""
