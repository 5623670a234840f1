"""Layered benchmark for the CDC lake engine (see README.md)."""
