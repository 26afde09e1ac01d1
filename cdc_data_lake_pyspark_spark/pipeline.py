"""The CDC batch pipeline: parse → route → per-table → dedup → apply.

This is the engine's equivalent of the reference's ``processBatch``
(``transaction_log_process/transaction_log_util.py:55-168``), rebuilt as a
library:

* ONE logical pipeline behind all entry points (the reference has 6 thin
  scripts around the same flow — SURVEY §3 takeaway);
* batch is cached once and re-used across routes (reference ``cache()`` at
  ``transaction_log_util.py:58``);
* empty-batch short-circuit (``isEmpty()``, ``:56,86,115,150``);
* single driver round-trip for the (db, table, route) inventory instead of
  the reference's per-route distinct/collect/first storm (SURVEY §4.2.1);
* per-table: the target's schema read once, payload schema (inferred over
  the whole slice, or the sink's authoritative schema for upserts —
  ``:138-145``), timestamp-field casts (``:195-200``), PK dedup
  (``:267-273``), then ONE ``TableSink.apply_batch`` call with the
  table's inserts, upserts and delete keys, and a ``flush``.

Delete-route key extraction parses the ``before`` image
(``transaction_log_util.py:161-167``) and projects only the PK columns.

Order of application within a batch follows the reference: inserts, then
upserts, then deletes (``transaction_log_util.py:78-168``).  That order is
``apply_batch``'s contract: the default runs the three statements in it,
and the DataFrame sinks fuse them into one plan with the same result.
"""

from __future__ import annotations

import functools
import logging
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from cdc_data_lake_pyspark_spark.concurrency import overlap_jobs
from cdc_data_lake_pyspark_spark.config import TablesConfig, load_tables_config
from cdc_data_lake_pyspark_spark.dedup import latest_change_per_key
from cdc_data_lake_pyspark_spark.envelope import parse_debezium, parse_dms
from cdc_data_lake_pyspark_spark.router import (
    ROUTE_DELETE,
    ROUTE_INSERT,
    ROUTE_UPSERT,
    slice_table,
    table_op_inventory,
    with_route,
)
from cdc_data_lake_pyspark_spark.schema import (
    align_to_schema,
    cast_timestamp_fields,
    infer_and_parse_json,
    infer_json_schema,
    merge_schemas,
    parse_payload,
)
from cdc_data_lake_pyspark_spark.apply import TableSink

logger = logging.getLogger(__name__)

_PARSERS = {"debezium": parse_debezium, "dms": parse_dms}


@dataclass
class CdcPipeline:
    """Wire-format-agnostic CDC micro-batch processor.

    Parameters
    ----------
    config : per-table config (tables.json shape) — see ``config.py``
    sink : TableSink receiving one ``apply_batch`` and one ``flush`` per
        table per batch
    cdc_format : 'debezium' | 'dms'
    ts_guard : optional column name for the cross-batch out-of-order merge
        guard (``None`` reproduces reference behavior; ``'_cdc_ts_ms'``
        enables the guard using the envelope timestamp, which is then
        retained in the sink table — fixing the reference's silent
        last-batch-wins bug, SURVEY §2.5).
    """

    config: TablesConfig
    sink: TableSink
    cdc_format: str = "debezium"
    ts_guard: Optional[str] = None
    # Tables in a batch are independent — apply them concurrently from a
    # small thread pool so per-table sink flushes overlap instead of
    # paying serial job-submission latency (1 = sequential).  Threads only
    # drive job submission; the cluster still schedules the work.
    max_parallel_tables: int = 8

    def __post_init__(self):
        self.config = load_tables_config(self.config)
        if self.cdc_format not in _PARSERS:
            raise ValueError(f"cdc_format must be one of {sorted(_PARSERS)}")

    # -- entry point ----------------------------------------------------

    def process_batch(self, batch_df: DataFrame, batch_id: int = 0) -> None:
        """``foreachBatch`` callback: apply one micro-batch of raw envelope
        strings (column ``value``) to the sink."""
        if batch_df.isEmpty():
            return
        # A batch inherits the source's partitioning (e.g. #Kafka
        # partitions), which can be far below the cluster's core count.
        # Everything downstream — parse, cache build, per-route scans —
        # runs at the batch's parallelism, so spread thin batches across
        # all cores first (raw strings shuffle cheaply; the expensive
        # parse then runs wide).
        target = batch_df.sparkSession.sparkContext.defaultParallelism
        if batch_df.rdd.getNumPartitions() < target:
            batch_df = batch_df.repartition(target)
        changes = _PARSERS[self.cdc_format](batch_df)
        self.apply_changes(changes, batch_id)

    def apply_changes(self, changes: DataFrame, batch_id: int = 0) -> None:
        """Apply a canonical change-event frame (db/table/op/ts_ms/before/
        after) to the sink."""
        routed = with_route(changes).filter(F.col("route").isNotNull())
        # Serialized cache: the batch is dominated by long JSON payload
        # strings, where building the default deserialized columnar cache
        # costs ~40% more than the serialized form (measured at sf0.1);
        # spills to disk instead of recomputing under memory pressure.
        routed = routed.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            inventory = sorted(
                table_op_inventory(routed), key=lambda e: (e.db, e.table)
            )
            # a failed table fails the batch: tables not yet started are
            # cancelled (checkpoint replay is the recovery path), and the
            # join guarantees none is still running when the finally
            # unpersists the batch cache.  The table workers do not
            # inherit the foreachBatch thread's local properties (its
            # running SQL execution, job group and SQL confs): each
            # table's writes stay root executions of their own.
            overlap_jobs(
                routed.sparkSession,
                [functools.partial(self._apply_table, e, routed) for e in inventory],
                max_workers=self.max_parallel_tables,
                inherit_local_properties=False,
            )
        finally:
            routed.unpersist()

    def _apply_table(self, entry, routed: DataFrame) -> None:
        """Apply one table's routes as one sink call and flush — the unit
        of per-table parallelism.  The target's schema is read once; each
        route's frame evolves it in the reference's order (insert →
        upsert → delete), so the upserts align to the inserts' columns and
        the delete keys take the types the table will have."""
        cfg = self.config.get(entry.db, entry.table)
        tbl = slice_table(routed, entry.db, entry.table)
        schema = None
        if self.sink.exists(cfg.db, cfg.table):
            schema = self.sink.read(routed.sparkSession, cfg.db, cfg.table).schema
        routes = {}
        if ROUTE_INSERT in entry.routes:
            routes["inserts"] = self._inserts(cfg, tbl)
            schema = _evolve(schema, routes["inserts"].schema)
        if ROUTE_UPSERT in entry.routes:
            routes["upserts"], routes["upsert_keys"] = self._upserts(cfg, tbl, schema)
            schema = _evolve(schema, routes["upserts"].schema)
        if ROUTE_DELETE in entry.routes:
            if schema is None:
                # nothing to delete from — and catalog sinks can't run
                # DELETE against a missing table
                logger.info("delete skipped (no table): %s", cfg.qualified_name)
            else:
                routes["deletes"] = self._delete_keys(cfg, tbl, schema)
        if routes:
            self.sink.apply_batch(cfg, ts_guard=self.ts_guard, **routes)
            logger.info("batch applied: %s", cfg.qualified_name)
        # one materialization point per table per batch (lazy sinks
        # checkpoint here, while the batch cache is still alive)
        self.sink.flush(cfg)

    # -- route frames ---------------------------------------------------

    def _inserts(self, cfg, tbl: DataFrame) -> DataFrame:
        sliced = tbl.filter(F.col("route") == ROUTE_INSERT)
        keep = ["ts_ms"] if self.ts_guard else []
        # ONE distributed JSON pass: fused infer+parse, with the envelope
        # columns riding inside the same pass
        payload = infer_and_parse_json(sliced, "after", keep_cols=keep)
        payload = cast_timestamp_fields(payload, cfg.timestamp_fields)
        if self.ts_guard:
            payload = payload.withColumnRenamed("ts_ms", self.ts_guard)
        return payload

    def _upserts(self, cfg, tbl: DataFrame, schema) -> tuple[DataFrame, DataFrame]:
        """The upsert route, latest change per key, and its keys before
        the dedup.  ``schema`` is the table's as this batch's inserts leave
        it (``None``: no table)."""
        sliced = tbl.filter(F.col("route") == ROUTE_UPSERT)
        # ONE JSON pass: fused infer+parse with ts_ms carried through.
        # When the target exists, its schema stays authoritative for
        # existing columns (reference REFRESH TABLE + spark.table().schema,
        # :138-145) via a post-parse projection/cast — NOT a second parse;
        # columns first appearing in an update still evolve (the
        # reference's MERGE path silently drops them — SURVEY §1.3/§8).
        payload = infer_and_parse_json(sliced, "after", keep_cols=["ts_ms"])
        if schema is not None:
            evolved = merge_schemas(
                _strip_fields(schema, {self.ts_guard, "ts_ms"}),
                _strip_fields(payload.schema, {"ts_ms"}),
            )
            payload = align_to_schema(payload, evolved)
        payload = cast_timestamp_fields(payload, cfg.timestamp_fields)
        # precombine: the configured payload column decides which of several
        # changes to one key wins (reference tables.json `precombine_key`,
        # readme "table 配置参数"); envelope ts_ms breaks ties / is the
        # fallback when the column isn't present in this batch.
        order_by = ["ts_ms"]
        if cfg.precombine_key != "ts_ms":
            if cfg.precombine_key in payload.columns:
                order_by = [cfg.precombine_key, "ts_ms"]
            else:
                logger.warning(
                    "precombine_key %r not in %s payload; ordering by ts_ms",
                    cfg.precombine_key,
                    cfg.qualified_name,
                )
        deduped = latest_change_per_key(payload, cfg.primary_keys, order_by=order_by)
        keys = payload.select(*cfg.primary_keys)
        if self.ts_guard:
            return deduped.withColumnRenamed("ts_ms", self.ts_guard), keys
        # reference drops ts_ms before MERGE (:273)
        return deduped.drop("ts_ms"), keys

    def _delete_keys(self, cfg, tbl: DataFrame, schema) -> DataFrame:
        """The delete route's keys, typed by ``schema`` (the table's as
        this batch's inserts and upserts leave it)."""
        sliced = tbl.filter(F.col("route") == ROUTE_DELETE)
        # DELETE only needs the PK columns: give from_json a PK-only schema
        # — one narrow extraction instead of infer-everything +
        # parse-everything (a full extra scan of the batch JSON at scale).
        pk_fields = [f for f in schema.fields if f.name in cfg.primary_keys]
        if len(pk_fields) == len(cfg.primary_keys):
            pk_schema = T.StructType(pk_fields)
        else:
            pk_schema = infer_json_schema(sliced, "before")
        if not self.ts_guard:
            # a key set: duplicates and order don't change which rows a
            # DELETE ... WHERE EXISTS removes
            payload = parse_payload(sliced, "before", pk_schema)
            return payload.select(*cfg.primary_keys)
        # Guarded delete: the delete's envelope timestamp rides along and
        # the sink removes only rows whose guard column is at or before it
        # — a stale delete can't remove a newer image, either cross-batch
        # or within this batch (inserts/upserts apply first, carrying
        # their own guard values).
        payload = parse_payload(sliced, "before", pk_schema, keep_cols=["ts_ms"])
        keys_df = latest_change_per_key(payload, cfg.primary_keys, order_by=["ts_ms"])
        return keys_df.select(*cfg.primary_keys, F.col("ts_ms").alias(self.ts_guard))


def _evolve(schema, incoming):
    return incoming if schema is None else merge_schemas(schema, incoming)


def _strip_fields(schema, names):
    names = {n for n in names if n}
    return T.StructType([f for f in schema.fields if f.name not in names])
