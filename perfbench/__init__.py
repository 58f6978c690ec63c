"""Layered extraction benchmark (see README.md)."""
