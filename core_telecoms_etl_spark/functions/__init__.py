"""Shared column-expression helpers (`functions.expressions`)."""
