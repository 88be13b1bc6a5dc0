"""Layered product benchmark for openaq_lcs_fetch_spark (see README.md)."""
