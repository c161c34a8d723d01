from etl_sql_and_pyspark_developement__spark.streaming.pipeline import (
    read_event_stream,
    session_window_agg,
    streaming_dedup,
    windowed_event_counts,
)

__all__ = [
    "read_event_stream",
    "windowed_event_counts",
    "session_window_agg",
    "streaming_dedup",
]
