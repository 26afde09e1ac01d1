"""Insert / upsert / delete routing and multi-table fan-out.

Reference parity (``transaction_log_process/transaction_log_util.py``):

* route predicates — ``op in ('r','c') AND after IS NOT NULL`` (insert),
  ``op = 'u' AND after IS NOT NULL`` (upsert), ``op = 'd' AND before IS NOT
  NULL`` (delete) — ``transaction_log_util.py:80-84``; DMS equivalents
  ``transcation_log_dms.py:145-149``.
* per-(db, table) fan-out via ``select(db, table).distinct().collect()``
  then per-table ``filter`` — ``transaction_log_util.py:93-103``.

Scale fix vs the reference (SURVEY §4.2.1): the reference runs
``distinct().collect()`` + ``first()`` separately per route (~6-9 Spark jobs
per table per batch).  Here :func:`table_op_inventory` computes ONE tiny
distinct over ``(db, table, op-route)`` for the whole batch — a single
map-side-combined aggregation whose result is at most (#tables × 3) rows —
and the per-table slices are plain filters over the cached batch.  Equality
filters are built with Column expressions, never string-spliced SQL
(§4.2.3), so exotic table names can't inject.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

INSERT_OPS = ("r", "c")
UPSERT_OPS = ("u",)
DELETE_OPS = ("d",)

ROUTE_INSERT = "insert"
ROUTE_UPSERT = "upsert"
ROUTE_DELETE = "delete"


def _route_col():
    op = F.col("op")
    return (
        F.when(op.isin(*INSERT_OPS) & F.col("after").isNotNull(), ROUTE_INSERT)
        .when(op.isin(*UPSERT_OPS) & F.col("after").isNotNull(), ROUTE_UPSERT)
        .when(op.isin(*DELETE_OPS) & F.col("before").isNotNull(), ROUTE_DELETE)
    )


def with_route(changes: DataFrame) -> DataFrame:
    """Annotate canonical change events with their route (null = dropped)."""
    return changes.withColumn("route", _route_col())


def route_changes(changes: DataFrame) -> dict[str, DataFrame]:
    """Split a canonical change-event frame into the three routes.

    Pure filters on :func:`with_route`'s column — no shuffle; Catalyst
    pushes them into the (cached) batch scan.
    """
    routed = with_route(changes)
    return {
        r: routed.filter(F.col("route") == r).drop("route")
        for r in (ROUTE_INSERT, ROUTE_UPSERT, ROUTE_DELETE)
    }


@dataclass(frozen=True)
class TableRoutes:
    """Which routes carry data for one (db, table) in this batch."""

    db: str
    table: str
    routes: frozenset[str]


def table_op_inventory(changes: DataFrame) -> list[TableRoutes]:
    """One aggregation for the whole batch: which (db, table) pairs appear,
    and on which routes.

    Replaces the reference's 3×(distinct+collect) with a single
    ``groupBy(db, table).agg(collect_set(route))`` — partial aggregation
    map-side, then a tiny (#tables-row) result collected to the driver to
    steer the per-table apply loop.
    """
    routed = changes if "route" in changes.columns else with_route(changes)
    inv = (
        routed.filter(F.col("route").isNotNull())
        .groupBy("db", "table")
        .agg(F.collect_set("route").alias("routes"))
        .collect()
    )
    return [
        TableRoutes(db=r["db"], table=r["table"], routes=frozenset(r["routes"]))
        for r in inv
    ]


def slice_table(changes: DataFrame, db: str, table: str) -> DataFrame:
    """Per-table slice via parameterized equality filter (reference builds
    this with f-string SQL, ``transaction_log_util.py:101-103``)."""
    return changes.filter((F.col("db") == F.lit(db)) & (F.col("table") == F.lit(table)))
