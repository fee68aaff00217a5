"""Benchmark of record for the time-series engine; see NOTES.md."""
