"""Structured Streaming operators (SURVEY.md §2-B q70–q74).

The reference is a push-based streaming framework with processing-time
semantics only; here streams get real event time: watermarks, late
data handling, tumbling/sliding/session windows, stateful dedup, and
per-key state machines.
"""

from dataflowex_spark.streaming.ops import (
    file_replay_stream,
    tumbling_counts,
    sliding_counts,
    session_counts,
    dedup_stream,
    run_to_memory,
    run_foreach_batch,
)

__all__ = [
    "file_replay_stream",
    "tumbling_counts",
    "sliding_counts",
    "session_counts",
    "dedup_stream",
    "run_to_memory",
    "run_foreach_batch",
]
