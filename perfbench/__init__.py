"""Standalone performance benchmark for the engine (see README.md)."""
