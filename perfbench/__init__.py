"""Extraction benchmark: seeded corpora, closed-loop workloads, traced layers."""
