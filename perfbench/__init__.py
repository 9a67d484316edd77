"""Standalone benchmark for the ingestion engine (see README.md)."""
