from monasca_aggregator_spark.streaming.pipeline import run_events_stream_to_memory

__all__ = ["run_events_stream_to_memory"]
