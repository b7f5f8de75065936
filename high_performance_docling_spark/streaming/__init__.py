"""Structured Streaming surface (SURVEY.md §2.9).

The reference pipeline is batch-only; ``extract`` runs the batch
extraction over a document feed.
"""
