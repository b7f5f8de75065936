"""Structured Streaming surface (SURVEY.md §2.9).

The reference pipeline is batch-only; these modules run the batch
extraction over a document feed (``extract``) and screen an incoming
document stream against a static content index (``incremental``).
"""

from .incremental import (  # noqa: F401
    build_content_index,
    stream_screen_incoming,
)
