"""Structured Streaming shell around the batch pipeline."""

from cdc_data_lake_pyspark_spark.streaming.runner import (
    start_cdc_stream,
    start_foreach_batch_stream,
)

__all__ = ["start_cdc_stream", "start_foreach_batch_stream"]
