"""Within-batch latest-change-per-primary-key dedup (SURVEY §2.3 A2).

Reference parity: the reference dedups multiple changes to the same key
within one micro-batch with

    row_number() OVER (PARTITION BY <pk...> ORDER BY ts_ms DESC) AS _rank
    ... WHERE _rank = 1

built as SQL text (``transaction_log_process/transaction_log_util.py:
267-273``; ``WriteIcebergTable.py:146-152``), to avoid
``MERGE_CARDINALITY_VIOLATION`` (rationale comment ``:142-145``).  Composite
keys come from a comma-split config value (``:233-239``).

Scale: a ranking window shuffles EVERY row and sorts whole partitions by
(key, ts) with no pre-aggregation.  The default implementation here instead
aggregates ``max_by(struct(all columns), struct(order columns))`` — same
"latest row per key" semantics with MAP-SIDE partial combine: each mapper
pre-collapses its duplicates before the shuffle, so shuffle volume ≈ one
row per distinct key per mapper instead of every row.  (Because the
aggregation buffer is a struct, Spark plans SortAggregate rather than
HashAggregate — both sides sort by the grouping key — but the partial
combine is what matters at 100 TB: the window variant ships and sorts the
full data set.)  The window variant is kept for parity / when rank>1 rows
are also needed.

Determinism: ties on the ordering column are broken by explicit tiebreaker
columns; callers that need byte-stable output should pass a unique column
(the reference leaves ties arbitrary — SURVEY §8).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_change_per_key(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str] = ("ts_ms",),
    method: str = "max_by",
) -> DataFrame:
    """Keep the latest row per key; schema is preserved (no helper cols).

    ``order_by`` columns are compared lexicographically, all descending —
    pass e.g. ``("ts_ms", "event_id")`` to make ties deterministic.

    ``method='max_by'`` (default): groupBy + ``max_by`` — partial-aggregates
    map-side, no sort; the scale-correct plan.
    ``method='window'``: reference-shaped ``row_number`` window.
    """
    keys = list(keys)
    order_by = list(order_by)
    if not keys:
        raise ValueError("dedup requires at least one key column")
    if method == "window":
        w = Window.partitionBy(*keys).orderBy(
            *[F.col(c).desc_nulls_last() for c in order_by]
        )
        return (
            df.withColumn("_rank", F.row_number().over(w))
            .filter(F.col("_rank") == 1)
            .drop("_rank")
        )
    if method != "max_by":
        raise ValueError(f"unknown dedup method: {method!r}")
    payload = F.struct(*[F.col(c) for c in df.columns]).alias("_row")
    ordering = F.struct(*[F.col(c) for c in order_by])
    # the keys come from the grouping columns, not from the winning row:
    # a projection of the keys alone then prunes to a keys-only aggregate
    # instead of planning the whole dedup a second time
    return (
        df.groupBy(*[F.col(k) for k in keys])
        .agg(F.max_by(payload, ordering).alias("_row"))
        .select(
            *[F.col(c) if c in keys else F.col("_row").getField(c).alias(c) for c in df.columns]
        )
    )
