"""Structured Streaming extensions (SURVEY §7.2 M7).

The reference is batch-only (§2.10): late/offline data is handled inside
batch via the is_cache flag and the dedup window.  These modules add the
streaming ingest variant the build plan calls for — a file-source stream
through the SAME silver transform via foreachBatch — plus watermarked
event-time analytics over the events stream.
"""

from .ingest import stream_silver  # noqa: F401
from .events import (  # noqa: F401
    stream_curate,
    stream_dedup_against_corpus,
    stream_funnel_progress,
    stream_dedup_within_watermark,
    stream_hopping_counts,
    stream_interval_enrich,
    stream_interval_join,
    stream_semantic_dedup,
    stream_session_windows,
    stream_sketch_rollup,
    stream_tumbling_counts,
)
