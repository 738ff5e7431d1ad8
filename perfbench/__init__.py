"""Standalone benchmark for the sparkhealth engine (see README.md)."""
