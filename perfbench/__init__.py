"""Benchmark harness for the realtime analytics engine; see METRICS.md."""
