"""Structured Streaming surface: continuous 1m tier with watermarked late
data, committed to icelite per micro-batch (optional engine surface,
SURVEY.md §2.10)."""
