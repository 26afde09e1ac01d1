"""Continuous aggregates: a streaming windowed aggregation maintained as
an up-to-date lakehouse table — the "hypertable rollup" / materialized-
view-over-a-stream pattern.

The composition is deliberately boring Spark:

* the ENGINE owns the aggregate state — ``update`` output mode means each
  micro-batch emits the rows whose TOTALS changed (full values, not
  deltas), with the watermark bounding state and admitting late events;
* ``foreachBatch`` then upserts exactly those changed rows into any
  :class:`~cdc_data_lake_pyspark_spark.apply.TableSink` keyed by
  (window_start, key) — a plain MERGE, no read-modify-write, because the
  emitted rows already carry the merged totals;
* replay after a crash re-merges the same totals — idempotent, the
  exactly-once story identical to the CDC path.

At scale the cost profile is a streaming agg (shuffle on the window/key,
RocksDB state) plus per-batch MERGEs that touch only changed keys.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from cdc_data_lake_pyspark_spark.apply import TableSink
from cdc_data_lake_pyspark_spark.config import TableConfig
from cdc_data_lake_pyspark_spark.streaming.runner import start_foreach_batch_stream


def windowed_rollup(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    window_duration: str = "1 minute",
    watermark_delay: str = "2 minutes",
) -> DataFrame:
    """The maintained aggregate: per (tumbling window, key) event count +
    exact decimal value sum.  Columns are flat (window_start, window_end)
    so the frame merges on ordinary equality keys."""
    return (
        events.withWatermark(ts_col, watermark_delay)
        .groupBy(
            F.window(F.col(ts_col), window_duration).alias("win"),
            F.col(key_col),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col(value_col).cast("decimal(18,2)")).alias("value_sum"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            key_col,
            "n_events",
            "value_sum",
        )
    )


def start_continuous_rollup(
    events: DataFrame,
    sink: TableSink,
    cfg: Optional[TableConfig] = None,
    checkpoint_location: str = "",
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    window_duration: str = "1 minute",
    watermark_delay: str = "2 minutes",
    available_now: bool = False,
    trigger_seconds: Optional[int] = None,
    query_name: str = "continuous_rollup",
) -> StreamingQuery:
    """Maintain ``windowed_rollup`` as a sink table, continuously."""
    cfg = cfg or TableConfig(
        db="rollup",
        table=f"{key_col}_by_window",
        primary_key=f"window_start,{key_col}",
    )
    agg = windowed_rollup(
        events,
        ts_col=ts_col,
        key_col=key_col,
        value_col=value_col,
        window_duration=window_duration,
        watermark_delay=watermark_delay,
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sink.merge(cfg, batch_df)
        sink.flush(cfg)

    return start_foreach_batch_stream(
        agg,
        apply_batch,
        checkpoint_location,
        query_name=query_name,
        available_now=available_now,
        trigger_seconds=trigger_seconds,
        output_mode="update",
    )
