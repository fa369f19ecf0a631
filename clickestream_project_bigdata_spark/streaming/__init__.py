from .driver import (
    run_all_analyses,
    run_pipeline,
    start_stateful_sessions,
    start_stream,
)
from .sessions import (
    dedup_events_stream,
    stateful_session_flags,
    stateful_session_metrics,
    stateful_user_paths,
    windowed_funnel,
)
from .joins import (
    attribution_join,
    attribution_join_outer,
    conversion_rate_by_item,
    windowed_conversion_rate,
)
from .sinks import ConsoleSink, JdbcSink, MemorySink, NoopSink, ParquetSink, Sink
from .stateful import decayed_item_counts, stateful_funnel

__all__ = [
    "run_all_analyses",
    "run_pipeline",
    "start_stateful_sessions",
    "start_stream",
    "decayed_item_counts",
    "stateful_funnel",
    "stateful_session_metrics",
    "stateful_session_flags",
    "stateful_user_paths",
    "windowed_funnel",
    "attribution_join",
    "attribution_join_outer",
    "conversion_rate_by_item",
    "windowed_conversion_rate",
    "dedup_events_stream",
    "Sink",
    "JdbcSink",
    "NoopSink",
    "ParquetSink",
    "ConsoleSink",
    "MemorySink",
]
