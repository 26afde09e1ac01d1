"""Dead-letter quarantine for streaming micro-batches.

The reference's error story is coarse (skip-and-log per table,
``continue_on_error``); real CDC pipelines route BAD ROWS — not whole
batches — to a quarantine store and apply the clean remainder.  This
module wraps any ``foreachBatch`` target with row-level validation:

    gate = with_quarantine(pipeline_fn, checks=[...], quarantine_dir=...)
    start_foreach_batch_stream(stream, gate, checkpoint)

Per micro-batch: rows matching ANY violation condition are appended to
the quarantine parquet (with the check name and batch id stamped for
triage/replay), and only clean rows reach the wrapped target.  The
split is one pass — the violation predicate is a single OR column, and
the quarantine write reuses the same staged batch (eager local
checkpoint) the clean path reads.

Scale: validation is a map-only predicate; the quarantine store grows
by appends of bad rows only.  Exactly-once: the wrapped target keeps
its own idempotence story (MERGE-on-PK, novelty index, ...).  The bad
rows are appended BEFORE the target runs, so a batch whose target
fails appends them again on replay, under the same ``_batch_id``;
:func:`read_quarantine` folds those copies with a distinct.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cdc_data_lake_pyspark_spark.store import read_store, tag_writer


def with_quarantine(
    process: Callable[[DataFrame, int], None],
    checks: Sequence[tuple[str, Column]],
    quarantine_dir: str,
) -> Callable[[DataFrame, int], None]:
    """Wrap a ``foreachBatch`` target with row-level quarantine.

    ``checks`` are ``(name, violation_condition)`` pairs (the
    :func:`~cdc_data_lake_pyspark_spark.operators.quality.dq_report`
    convention): a row matching any condition is quarantined with the
    comma-joined names of every check it failed in a ``_violations``
    column plus the ``_batch_id``."""
    if not checks:
        raise ValueError("checks must be non-empty")

    def _gate(batch_df: DataFrame, batch_id: int = -1) -> None:
        staged = batch_df.localCheckpoint(eager=True)
        labels = F.array_compact(
            F.array(
                *[
                    F.when(cond, F.lit(name)).otherwise(F.lit(None))
                    for name, cond in checks
                ]
            )
        )
        labeled = staged.withColumn("_viol", labels)
        bad = labeled.filter(F.size("_viol") > 0).select(
            *staged.columns, F.array_join("_viol", ",").alias("_violations")
        )
        tag_writer(bad, batch_id, "_batch_id").write.mode("append").parquet(
            quarantine_dir
        )
        clean = labeled.filter(F.size("_viol") == 0).select(*staged.columns)
        process(clean, batch_id)

    return _gate


def read_quarantine(spark, quarantine_dir: str) -> DataFrame:
    """Quarantined rows so far (an absent store reads as empty; the
    columns are the quarantined stream's own, so the read is untyped).
    Distinct: a replayed batch re-appends the same ``(row, _batch_id)``
    rows, so exact duplicates fold — two identical bad rows in one batch
    also read once."""
    return read_store(
        spark, quarantine_dir, "_violations string, _batch_id long", typed=False
    ).distinct()
