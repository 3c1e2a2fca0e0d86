from flink_example_spark.streaming.pipeline import (
    run_streaming_features,
    stream_events,
)

__all__ = ["stream_events", "run_streaming_features"]
