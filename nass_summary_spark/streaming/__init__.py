from nass_summary_spark.streaming.events import (
    sessionize_batch,
    sessionize_stream,
    stream_dedup,
    windowed_agg,
)

__all__ = [
    "windowed_agg",
    "sessionize_batch",
    "sessionize_stream",
    "stream_dedup",
]
