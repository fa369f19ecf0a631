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
from .sinks import ConsoleSink, JdbcSink, MemorySink, NoopSink, ParquetSink, Sink

__all__ = [
    "run_all_analyses",
    "run_pipeline",
    "start_stateful_sessions",
    "start_stream",
    "stateful_session_metrics",
    "stateful_session_flags",
    "stateful_user_paths",
    "windowed_funnel",
    "dedup_events_stream",
    "Sink",
    "JdbcSink",
    "NoopSink",
    "ParquetSink",
    "ConsoleSink",
    "MemorySink",
]
