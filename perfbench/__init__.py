"""Layered benchmark for the ingest engine and the query registry."""
