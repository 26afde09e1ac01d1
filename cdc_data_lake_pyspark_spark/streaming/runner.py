"""Stream → ``foreachBatch`` wiring (SURVEY §2.1 S3, §2.5).

:func:`start_foreach_batch_stream` is the one stream starter in the
package: every micro-batch consumer — the CDC pipeline, each streaming
gate, the continuous rollup — hands it a source, a ``(batch_df,
batch_id)`` callable and a checkpoint, and gets back the running query.
It is the reference's ``writeStream.outputMode('append')
.trigger(processingTime='60 seconds').foreachBatch(process.processBatch)
.option('checkpointLocation', ...)`` —
``kafka-iceberg-streaming-emrserverless-v2.py:218-225`` — with the
trigger and output mode as arguments.  :func:`start_cdc_stream` builds
the CDC pipeline's callable (optionally behind the dead-letter
quarantine) on top of it.

Exactly-once story (same as reference): source offsets + checkpoint give
at-least-once batch replay; MERGE-on-PK application converges on replay,
appends are the non-idempotent edge (documented, as in the reference).
The streaming gates close that edge for their own stores with
:mod:`~cdc_data_lake_pyspark_spark.store`'s batch-commit rule; the CDC
sinks do not yet, because direct callers of ``CdcPipeline.process_batch``
reuse its default ``batch_id=0`` across batches, and a marker keyed on
the batch id would silently skip every batch after their first.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from cdc_data_lake_pyspark_spark.pipeline import CdcPipeline

DEFAULT_TRIGGER_SECONDS = 60  # reference: emrserverless-v2.py:221


def envelope_checks():
    """Default dead-letter validations for a CDC envelope stream: a row
    whose ``value`` is missing/blank or is not parseable JSON can never
    apply and would otherwise fail the whole batch (or silently produce
    an all-null parse).  ``get_json_object(value, '$')`` returns NULL for
    malformed JSON — a map-only validity probe.  It ALSO returns NULL for
    the well-formed JSON literal ``null``, which is valid JSON but still
    cannot apply (no envelope fields); that case gets its own
    ``json_null_literal`` check so the quarantine label is honest, and is
    excluded from ``unparseable_json``."""
    from pyspark.sql import functions as F

    return [
        (
            "null_or_empty_value",
            F.col("value").isNull() | (F.trim(F.col("value")) == ""),
        ),
        (
            "json_null_literal",
            F.col("value").isNotNull() & (F.trim(F.col("value")) == "null"),
        ),
        (
            "unparseable_json",
            F.col("value").isNotNull()
            & ~F.trim(F.col("value")).isin("", "null")
            & F.get_json_object(F.col("value"), "$").isNull(),
        ),
    ]


def start_cdc_stream(
    source: DataFrame,
    pipeline: CdcPipeline,
    checkpoint_location: str,
    trigger_seconds: Optional[int] = DEFAULT_TRIGGER_SECONDS,
    query_name: str = "cdc_pipeline",
    available_now: bool = False,
    quarantine_dir: Optional[str] = None,
) -> StreamingQuery:
    """Start the micro-batch stream feeding ``pipeline.process_batch``.

    ``available_now=True`` drains everything currently available then
    stops — the testing/backfill trigger.

    ``quarantine_dir`` routes rows failing :func:`envelope_checks` to a
    dead-letter parquet store (stamped with check name + batch id) while
    the clean remainder applies — the reference's log-and-continue J3
    policy with data RETENTION instead of data loss
    (``streaming/quarantine.py``).
    """
    process = pipeline.process_batch
    if quarantine_dir:
        from cdc_data_lake_pyspark_spark.streaming.quarantine import (
            with_quarantine,
        )

        process = with_quarantine(
            pipeline.process_batch, envelope_checks(), quarantine_dir
        )
    return start_foreach_batch_stream(
        source,
        process,
        checkpoint_location,
        query_name=query_name,
        available_now=available_now,
        trigger_seconds=trigger_seconds,
    )


def start_foreach_batch_stream(
    source: DataFrame,
    fn: Callable[[DataFrame, int], None],
    checkpoint_location: str,
    *,
    query_name: Optional[str] = None,
    available_now: bool = False,
    trigger_seconds: Optional[int] = None,
    output_mode: str = "append",
) -> StreamingQuery:
    """Start a micro-batch stream calling ``fn(batch_df, batch_id)`` for
    every batch of ``source``, checkpointed at ``checkpoint_location``.

    ``available_now=True`` drains everything currently available then
    stops — the testing/backfill trigger; otherwise ``trigger_seconds``
    sets a processing-time trigger, and ``None`` runs batches back to
    back (Spark's default).  ``output_mode`` is ``"update"`` for a
    stateful aggregate that emits changed rows (the continuous rollup).
    """
    writer = (
        source.writeStream.outputMode(output_mode)
        .foreachBatch(fn)
        .option("checkpointLocation", checkpoint_location)
    )
    if query_name:
        writer = writer.queryName(query_name)
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
