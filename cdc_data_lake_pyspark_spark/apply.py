"""Applying routed CDC changes: append / merge (upsert) / delete.

Reference parity (SURVEY §2.4):

* J1 MERGE INTO — equi-join target×source on the PK (single or composite),
  ``WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`` —
  SQL text at ``transaction_log_util.py:279-284``, composite ON built at
  ``:233-239``, shared writer ``WriteIcebergTable.py:158-163``.
* J2 DELETE via EXISTS (left-semi) — ``DELETE FROM t WHERE EXISTS (SELECT
  pk FROM tmp u WHERE t.pk = u.pk)`` — ``transaction_log_util.py:326-327``.
* S4 append with schema evolution — ``writeTo(...).option('merge-schema',
  'true').append()`` — ``transaction_log_util.py:216-218``.
* S5 CREATE TABLE IF NOT EXISTS with table properties —
  ``transaction_log_util.py:202-214``; with LOCATION
  ``WriteIcebergTable.py:91-104``.
* J3 error-tolerant execution — MERGE/DELETE wrapped in try/except
  log-and-continue (``transaction_log_util.py:291-298,328-333``) — exposed
  here as a sink policy flag, default FAIL-FAST.

Spark-first design: merge/delete are pure DataFrame transforms —

    merged  = updates ∪ (target ⟕anti updates on keys)
    deleted = target ⟕anti deletes on keys

not a full-outer join with per-column coalesce.  As measured, the merge
SHUFFLES THE TARGET on the PK even when the update side is small: AQE
does not turn the anti-join into a broadcast in time (cdcbench
``fanout_many_tables``: about 5.5 MB shuffle write per batch; 0.57 MB
with an explicit broadcast of the key side).  :class:`FrameTableSink`
applies these transforms for the in-memory and parquet sinks;
:class:`SqlTableSink` runs the generated Iceberg/Delta SQL text instead.
"""

from __future__ import annotations

import itertools
import logging
import os
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdc_data_lake_pyspark_spark.config import TableConfig
from cdc_data_lake_pyspark_spark.localrel import empty_frame
from cdc_data_lake_pyspark_spark.schema import align_to_schema, merge_schemas
from cdc_data_lake_pyspark_spark.store import recover_halfswap, replace_store

logger = logging.getLogger(__name__)


# --------------------------------------------------------------------------
# Pure DataFrame semantics (the oracle-testable core)
# --------------------------------------------------------------------------


def merge_into(
    target: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    ts_guard: Optional[str] = None,
) -> DataFrame:
    """Upsert ``updates`` into ``target`` on ``keys`` (J1).

    Equivalent to ``MERGE ... WHEN MATCHED THEN UPDATE SET * WHEN NOT
    MATCHED THEN INSERT *`` for a deduped source.  ``updates`` must already
    be unique per key (use :func:`dedup.latest_change_per_key`), matching
    the reference's MERGE_CARDINALITY_VIOLATION guard.

    ``ts_guard``: optional column name; when set, a matched target row is
    only replaced if ``update.ts_guard >= target.ts_guard`` — the
    cross-batch out-of-order protection the reference lacks (SURVEY §2.5
    "late/out-of-order data").  Both frames must carry the column.
    """
    keys = list(keys)
    if ts_guard is None:
        kept_target = target.join(updates.select(*keys), on=keys, how="left_anti")
        return updates.unionByName(kept_target, allowMissingColumns=True)
    # Guarded path: a matched-but-older update must LOSE — keep the target
    # row instead. Resolve per key with latest-wins on (guard, is_update).
    u = updates.withColumn("_src", F.lit(1))
    t = target.withColumn("_src", F.lit(0))
    both = u.unionByName(t, allowMissingColumns=True)
    payload = F.struct(*[F.col(c) for c in both.columns]).alias("_row")
    # updates win ties (>=): order by (guard, _src)
    ordering = F.struct(F.col(ts_guard), F.col("_src"))
    return (
        both.groupBy(*keys)
        .agg(F.max_by(payload, ordering).alias("_row"))
        .select("_row.*")
        .drop("_src")
    )


def delete_matching(
    target: DataFrame,
    deletes: DataFrame,
    keys: Sequence[str],
    ts_guard: Optional[str] = None,
) -> DataFrame:
    """Remove target rows whose key appears in ``deletes`` (J2) — the
    DataFrame form of ``DELETE FROM t WHERE EXISTS (...)``: a left
    anti-join, broadcast when the delete set is small.

    ``ts_guard``: optional column name carried by BOTH frames; when set, a
    matching key only deletes rows whose guard value is ``<=`` the delete's
    — the out-of-order protection for deletes (a stale delete arriving
    after a newer upsert must not remove the newer row).  Plan shape is
    unchanged: a left join on the key with a residual guard predicate, the
    (small, deduped) delete side still broadcasts.
    """
    keys = list(keys)
    if ts_guard is None:
        return target.join(deletes.select(*keys).distinct(), on=keys, how="left_anti")
    d = (
        deletes.select(*keys, F.col(ts_guard).alias("_del_ts"))
        .groupBy(*keys)
        .agg(F.max("_del_ts").alias("_del_ts"))
    )
    return (
        target.join(d, on=keys, how="left")
        .filter(F.col("_del_ts").isNull() | (F.col("_del_ts") < F.col(ts_guard)))
        .drop("_del_ts")
    )


# --------------------------------------------------------------------------
# SQL-text generation for lakehouse sinks (Iceberg/Delta parity)
# --------------------------------------------------------------------------


def _quote(ident: str) -> str:
    return "`" + ident.replace("`", "``") + "`"


def build_on_condition(keys: Sequence[str], t: str = "t", u: str = "u") -> str:
    """Composite-key ON clause (reference comma-split builder,
    ``transaction_log_util.py:233-239``) with quoted identifiers."""
    return " AND ".join(f"{t}.{_quote(k)} = {u}.{_quote(k)}" for k in keys)


def build_merge_sql(
    target_table: str,
    source_view: str,
    keys: Sequence[str],
    ts_guard: Optional[str] = None,
) -> str:
    """``MERGE INTO`` text (reference ``transaction_log_util.py:279-284``),
    plus the optional timestamp guard on the MATCHED branch."""
    on = build_on_condition(keys)
    matched = "WHEN MATCHED"
    if ts_guard:
        matched += f" AND u.{_quote(ts_guard)} >= t.{_quote(ts_guard)}"
    return (
        f"MERGE INTO {target_table} t USING {source_view} u ON {on} "
        f"{matched} THEN UPDATE SET * "
        f"WHEN NOT MATCHED THEN INSERT *"
    )


def build_delete_sql(
    target_table: str,
    source_view: str,
    keys: Sequence[str],
    ts_guard: Optional[str] = None,
) -> str:
    """``DELETE FROM ... WHERE EXISTS`` text (reference
    ``transaction_log_util.py:326-327`` — the correct two-alias form, not
    the broken self-comparison in ``WriteIcebergTable.py:197``).  With
    ``ts_guard``, only target rows at-or-before the delete's timestamp
    match (stale deletes are inert)."""
    cond = build_on_condition(keys, t="t1", u="u")
    if ts_guard:
        cond += f" AND u.{_quote(ts_guard)} >= t1.{_quote(ts_guard)}"
    key_list = ", ".join(f"u.{_quote(k)}" for k in keys)
    return (
        f"DELETE FROM {target_table} t1 WHERE EXISTS "
        f"(SELECT {key_list} FROM {source_view} u WHERE {cond})"
    )


def build_merge_statement_sequence(
    target_table: str,
    source_view: str,
    keys: Sequence[str],
    ts_guard: Optional[str] = None,
    using: str = "iceberg",
) -> list[str]:
    """The statements an upsert actually executes against a lakehouse
    catalog.

    On Iceberg, ``'write.spark.accept-any-schema'='true'`` (set at CREATE
    for append-path schema evolution) makes MERGE INTO fail analysis with
    UNRESOLVED_COLUMN on Spark 3.5+ (apache/iceberg#9827); the reference
    works around it by unsetting the property before the MERGE and
    restoring it after (``transaction_log_util.py:287-298``).  Delta has no
    such property, so the sequence is just the MERGE there.
    """
    merge = build_merge_sql(target_table, source_view, keys, ts_guard=ts_guard)
    if using != "iceberg":
        return [merge]
    prop = "'write.spark.accept-any-schema'"
    return [
        f"ALTER TABLE {target_table} UNSET TBLPROPERTIES ({prop})",
        merge,
        f"ALTER TABLE {target_table} SET TBLPROPERTIES ({prop}='true')",
    ]


def build_compaction_sql(catalog: str, db: str, table: str, using: str = "iceberg") -> str:
    """Small-file compaction statement for the lakehouse sink — the
    maintenance the reference leaves to the platform: Iceberg's
    ``rewrite_data_files`` procedure, Delta's ``OPTIMIZE``.  The parquet
    sink's equivalent is :meth:`ParquetTableSink.compact` (executed +
    tested); catalog procedures need the respective runtime, so this text
    is generated/unit-tested and run by :meth:`SqlTableSink.compact`."""
    if using == "delta":
        return f"OPTIMIZE {catalog}.{_quote(db)}.{_quote(table)}"
    # Iceberg stored procedure: table arg is a quoted string literal
    ident = f"{db}.{table}".replace("'", "''")
    return f"CALL {catalog}.system.rewrite_data_files(table => '{ident}')"


def build_create_table_sql(
    cfg: TableConfig,
    catalog: str,
    schema_ddl: str,
    using: str = "iceberg",
    location: Optional[str] = None,
) -> str:
    """``CREATE TABLE IF NOT EXISTS`` with the reference's table properties
    (``transaction_log_util.py:202-214``): v2 format, hash distribution,
    COW/MOR write modes, bounded metadata retention, accept-any-schema."""
    props = {
        "format-version": str(cfg.format_version),
        "write.distribution-mode": "hash",
        "write.merge.mode": cfg.merge_mode,
        "write.update.mode": cfg.update_mode,
        "write.delete.mode": cfg.delete_mode,
        "write.metadata.delete-after-commit.enabled": "true",
        "write.metadata.previous-versions-max": "10",
        "write.spark.accept-any-schema": "true",
    }
    props_sql = ", ".join(f"'{k}'='{v}'" for k, v in sorted(props.items()))
    loc = f" LOCATION '{location}'" if location else ""
    # identifier quoting matches SqlTableSink._qualified — a name needing
    # quoting must resolve to the SAME table at create and merge time
    return (
        f"CREATE TABLE IF NOT EXISTS {catalog}.{_quote(cfg.db)}.{_quote(cfg.table)} "
        f"({schema_ddl}) USING {using}{loc} TBLPROPERTIES ({props_sql})"
    )


# --------------------------------------------------------------------------
# TableSink protocol + local implementations
# --------------------------------------------------------------------------


class TableSink:
    """Minimal sink protocol the pipeline drives.

    Implementations must make ``append``/``merge``/``delete`` idempotent at
    the batch level where possible (merge-on-PK re-application converges,
    which is the reference's exactly-once story — SURVEY §2.5).

    A write creates a missing table: ``append`` and ``merge`` create it
    from the incoming frame, so callers never call
    :meth:`create_if_not_exists` first.
    """

    #: J3 policy — ``True`` mirrors the reference's log-and-continue.
    continue_on_error: bool = False

    def exists(self, db: str, table: str) -> bool:
        raise NotImplementedError

    def read(self, spark: SparkSession, db: str, table: str) -> DataFrame:
        raise NotImplementedError

    def create_if_not_exists(self, cfg: TableConfig, schema: T.StructType) -> None:
        raise NotImplementedError

    def append(self, cfg: TableConfig, df: DataFrame) -> None:
        raise NotImplementedError

    def merge(self, cfg: TableConfig, df: DataFrame, ts_guard=None) -> None:
        raise NotImplementedError

    def delete(self, cfg: TableConfig, keys_df: DataFrame, ts_guard=None) -> None:
        """Delete rows matching ``keys_df``'s keys.  With ``ts_guard``,
        ``keys_df`` also carries the guard column and only target rows
        at-or-before the delete's timestamp are removed."""
        raise NotImplementedError

    def flush(self, cfg: TableConfig) -> None:
        """Called once per table at the end of a batch, after all of that
        batch's mutations.  Sinks that write eagerly (files, catalogs)
        ignore it; lazy sinks materialize here so a batch costs ONE
        materialization instead of one per mutation."""

    def _guard(self, action: str, fn) -> None:
        try:
            fn()
        except Exception:
            if not self.continue_on_error:
                raise
            logger.exception("sink %s failed (continue_on_error)", action)


class FrameTableSink(TableSink):
    """The apply step written once as frame transforms: append with schema
    evolution (S4), merge via :func:`merge_into` (J1), delete via
    :func:`delete_matching` (J2).  Subclasses supply only storage —
    :meth:`exists`, :meth:`read`, :meth:`_save` and :meth:`flush`.  Each op
    reads the base table at most once; a missing table is saved straight
    from the incoming frame, with no empty table written first.
    """

    def _save(self, cfg: TableConfig, df: DataFrame, add: bool = False) -> None:
        """Replace the table with ``df`` or, with ``add``, add ``df``'s rows
        (already aligned to the table's schema) to it."""
        raise NotImplementedError

    def create_if_not_exists(self, cfg, schema):
        if not self.exists(cfg.db, cfg.table):
            self._save(cfg, empty_frame(SparkSession.getActiveSession(), schema))

    def append(self, cfg, df):
        def _do():
            if not self.exists(cfg.db, cfg.table):
                return self._save(cfg, df)
            base = self.read(df.sparkSession, cfg.db, cfg.table)
            evolved = merge_schemas(base.schema, df.schema)
            if len(evolved) == len(base.schema):
                return self._save(cfg, align_to_schema(df, evolved), add=True)
            # schema evolution: rewrite the base with the union schema
            base = align_to_schema(base, evolved)
            self._save(cfg, base.unionByName(align_to_schema(df, evolved)))

        self._guard("append", _do)

    def merge(self, cfg, df, ts_guard=None):
        def _do():
            if not self.exists(cfg.db, cfg.table):
                return self._save(cfg, df)
            base = self.read(df.sparkSession, cfg.db, cfg.table)
            evolved = merge_schemas(base.schema, df.schema)
            merged = merge_into(
                align_to_schema(base, evolved),
                align_to_schema(df, evolved),
                cfg.primary_keys,
                ts_guard=ts_guard,
            )
            self._save(cfg, merged)

        self._guard("merge", _do)

    def delete(self, cfg, keys_df, ts_guard=None):
        def _do():
            if not self.exists(cfg.db, cfg.table):
                return
            base = self.read(keys_df.sparkSession, cfg.db, cfg.table)
            self._save(
                cfg, delete_matching(base, keys_df, cfg.primary_keys, ts_guard=ts_guard)
            )

        self._guard("delete", _do)


class MemoryTableSink(FrameTableSink):
    """In-memory sink: tables are DataFrames in a dict.

    The shared :class:`FrameTableSink` ops only chain LAZY plans here (a
    first append or merge stores its frame as the table); :meth:`flush`
    (called by the pipeline once per table per batch) checkpoints the
    final state, so a batch of append+merge+delete costs one
    materialization instead of three.  Reading an unflushed table is
    still correct — just lazy.
    """

    def __init__(self, continue_on_error: bool = False):
        self.tables: dict[tuple[str, str], DataFrame] = {}
        self.continue_on_error = continue_on_error

    def exists(self, db, table):
        return (db, table) in self.tables

    def read(self, spark, db, table):
        return self.tables[(db, table)]

    def _save(self, cfg, df, add=False):
        key = (cfg.db, cfg.table)
        self.tables[key] = self.tables[key].unionByName(df) if add else df

    def flush(self, cfg):
        key = (cfg.db, cfg.table)
        if key in self.tables:
            # eager: the batch's source may be unpersisted right after
            self.tables[key] = self.tables[key].localCheckpoint()


class SqlTableSink(TableSink):
    """Catalog-backed sink driving real row-level SQL (Iceberg/Delta).

    Uses the tested SQL generators: ``CREATE TABLE IF NOT EXISTS`` with the
    reference's table properties (``transaction_log_util.py:202-214``),
    DataFrameWriterV2 append with ``merge-schema`` (``:216-218``),
    ``MERGE INTO`` (``:279-284``) from a temp view, and ``DELETE ... WHERE
    EXISTS`` (``:326-327``).  Views are session-scoped temp views named
    ``tmp_<table>_{u|d}_<batch-part>`` like the reference's ephemeral
    relations (``:257-260``) and dropped after use (``:299-301``).
    ``append`` and ``merge`` run the CREATE first.

    Requires a MERGE-capable catalog on the classpath (Iceberg runtime,
    delta-spark, or the tests' LocalLake catalog); the DataFrame semantics
    it must produce are :class:`FrameTableSink`'s, which the oracle gate
    verifies.
    """

    def __init__(
        self,
        catalog: str,
        using: str = "iceberg",
        location_root: Optional[str] = None,
        continue_on_error: bool = False,
    ):
        self.catalog = catalog
        self.using = using
        self.location_root = location_root
        self.continue_on_error = continue_on_error
        # itertools.count: atomic under the GIL, so concurrent per-table
        # threads (pipeline.max_parallel_tables) never mint the same view id
        self._seq = itertools.count(1)

    def _qualified(self, db: str, table: str) -> str:
        return f"{self.catalog}.{_quote(db)}.{_quote(table)}"

    def exists(self, db, table):
        spark = SparkSession.getActiveSession()
        return spark.catalog.tableExists(self._qualified(db, table))

    def read(self, spark, db, table):
        return spark.table(self._qualified(db, table))

    def create_if_not_exists(self, cfg, schema):
        spark = SparkSession.getActiveSession()
        ddl = ", ".join(
            f"{_quote(f.name)} {f.dataType.simpleString()}" for f in schema.fields
        )
        location = None
        if self.location_root:
            location = f"{self.location_root}/{cfg.db}/{cfg.table}"
        spark.sql(
            build_create_table_sql(
                cfg, self.catalog, ddl, using=self.using, location=location
            )
        )

    def append(self, cfg, df):
        def _do():
            self.create_if_not_exists(cfg, df.schema)
            df.writeTo(self._qualified(cfg.db, cfg.table)).option(
                "merge-schema", "true"
            ).option("check-ordering", "false").append()

        self._guard("append", _do)

    def _with_view(self, df: DataFrame, suffix: str, fn) -> None:
        view = f"tmp_{suffix}_{next(self._seq)}"
        df.createOrReplaceTempView(view)
        try:
            fn(view)
        finally:
            df.sparkSession.catalog.dropTempView(view)

    def merge(self, cfg, df, ts_guard=None):
        target = self._qualified(cfg.db, cfg.table)

        def _run(view):
            # Iceberg needs the accept-any-schema UNSET/SET dance around
            # MERGE (apache/iceberg#9827; reference
            # transaction_log_util.py:287-298) — see
            # build_merge_statement_sequence.
            for stmt in build_merge_statement_sequence(
                target, view, cfg.primary_keys, ts_guard=ts_guard, using=self.using
            ):
                df.sparkSession.sql(stmt)

        def _do():
            # the reference creates before MERGE
            # (transaction_log_util.py:202-214): a catalog can't merge
            # into a missing table
            self.create_if_not_exists(cfg, df.schema)
            self._with_view(df, f"{cfg.table}_u", _run)

        self._guard("merge", _do)

    def delete(self, cfg, keys_df, ts_guard=None):
        target = self._qualified(cfg.db, cfg.table)

        def _do():
            self._with_view(
                keys_df,
                f"{cfg.table}_d",
                lambda view: keys_df.sparkSession.sql(
                    build_delete_sql(target, view, cfg.primary_keys, ts_guard=ts_guard)
                ),
            )

        self._guard("delete", _do)

    def compact(self, db: str, table: str) -> None:
        """Run the lakehouse maintenance statement (Iceberg
        ``rewrite_data_files`` / Delta ``OPTIMIZE``).  Requires the
        respective runtime's stored-procedure support; see
        :func:`build_compaction_sql`."""
        spark = SparkSession.getActiveSession()
        spark.sql(build_compaction_sql(self.catalog, db, table, using=self.using))


class ParquetTableSink(FrameTableSink):
    """Parquet-directory sink: each table is ``<root>/<db>/<table>``.

    Locally stands in for the Iceberg/Delta table; the shared
    :class:`FrameTableSink` merge/delete are read-modify-overwrite here
    (copy-on-write — the reference's default ``write.merge.mode``,
    ``tables.json:6-8``), an append adding no column writes only the new
    rows, and a first append or merge writes the table's directory.

    Each rewrite swaps the table by rename-aside
    (:func:`~cdc_data_lake_pyspark_spark.store.replace_store`), Iceberg's
    atomic snapshot swap in miniature: a crash at any point leaves the
    full old or the full new table, and :meth:`exists`/:meth:`read`
    repair a half-finished swap before they answer, so a replayed merge
    or delete converges.  Appends are not guarded: replaying a batch
    whose append already landed appends its rows again, so the insert
    route stays at-least-once (as in the reference).
    """

    def __init__(self, root: str, continue_on_error: bool = False):
        self.root = root
        self.continue_on_error = continue_on_error

    def _path(self, db: str, table: str) -> str:
        return os.path.join(self.root, db, table)

    def exists(self, db, table):
        path = self._path(db, table)
        recover_halfswap(path)
        return os.path.isdir(path)

    def read(self, spark, db, table):
        path = self._path(db, table)
        recover_halfswap(path)
        return spark.read.parquet(path)

    def _save(self, cfg, df, add=False):
        path = self._path(cfg.db, cfg.table)
        if add:
            df.write.mode("append").parquet(path)
        else:
            # copy-on-write without self-read hazard: write beside, then swap
            replace_store(path, df.write.mode("overwrite").parquet)

    def compact(self, db: str, table: str, target_files: int = 1) -> int:
        """Rewrite the table into ``target_files`` files and return the
        small-file count removed.  Streaming appends accumulate one file
        per batch per partition; periodic compaction is the parquet-sink
        stand-in for Iceberg's ``rewrite_data_files`` / Delta's
        ``OPTIMIZE`` (the reference leaves this to the lakehouse).
        """
        if not self.exists(db, table):
            return 0
        path = self._path(db, table)
        before = _parquet_files(path)
        df = SparkSession.getActiveSession().read.parquet(path).coalesce(target_files)
        replace_store(path, df.write.mode("overwrite").parquet)
        return max(before - _parquet_files(path), 0)


def _parquet_files(path: str) -> int:
    return sum(f.endswith(".parquet") for f in os.listdir(path))
