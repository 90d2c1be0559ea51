"""Incremental and windowed operators (SURVEY.md §2.9)."""
