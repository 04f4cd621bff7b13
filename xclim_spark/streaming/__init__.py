"""Structured Streaming variants of the engine's operator families.

The reference is batch-only; these extend the same semantics to
unbounded inputs (SURVEY §2 streaming section): tumbling-window
threshold counts with watermarked late-data handling, and the spell/event
family as a per-cell state machine over ``applyInPandasWithState`` —
the streaming twin of the batch sessionization compiler.  :func:`run`
drives any of them to a batch frame under ``Trigger.AvailableNow``.
"""

from .dedup import streaming_dedup_keys, streaming_near_dedup
from .fire import streaming_cffwis
from .runner import run
from .spells import (
    streaming_threshold_count,
    streaming_resample_op,
    streaming_spell_events,
)

__all__ = [
    "streaming_threshold_count",
    "streaming_resample_op",
    "streaming_spell_events",
    "streaming_cffwis",
    "streaming_dedup_keys",
    "streaming_near_dedup",
    "run",
]
