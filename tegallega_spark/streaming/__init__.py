"""Structured Streaming surface (SURVEY.md §2.10 stance + north star).

The reference has no streaming — its incrementality is CI path-filtered
triggers.  The idiomatic Spark mirror is a file-source stream with
Trigger.AvailableNow: drop new files into a watched directory, run one
incremental batch, stop.  The same transform chain as the batch queries
applies; watermarks handle late data.
"""

from tegallega_spark.streaming.events import (  # noqa: F401
    read_events_stream,
    tumbling_counts,
    session_counts,
    run_available_now,
)
from tegallega_spark.streaming.dedup_stream import dedup_stream  # noqa: F401
from tegallega_spark.streaming.neardup_stream import (  # noqa: F401
    neardup_candidates_stream,
)
