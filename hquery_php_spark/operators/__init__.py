"""Spark operators: extraction pipeline, dedup, similarity, skew handling."""
