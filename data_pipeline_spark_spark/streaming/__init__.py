"""Structured Streaming surface: event-time windowed aggregation."""
