"""Streaming refresh of a rollup_job output (rollup_stream.py)."""
