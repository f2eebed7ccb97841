from .jobs import (
    session_window_agg,
    stream_dedup,
    windowed_event_agg,
)

__all__ = [
    "windowed_event_agg",
    "session_window_agg",
    "stream_dedup",
]
