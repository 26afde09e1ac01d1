"""One policy for a persisted parquet directory (SCALE.md §27).

Every store the engine keeps on disk — the parquet sink's tables, the
streaming gates' append stores, the batch index artifacts — follows the
same rules, defined once here:

* **Replace by rename-aside** (:func:`replace_store`): the new copy is
  fully written at ``<d>__new``, the old one is parked at ``<d>__old``,
  the new one is renamed into place, and only then is the old one
  deleted.  A crash at any point leaves either ``<d>`` or ``<d>__old``
  holding a complete store — never nothing.
* **Repair before use** (:func:`recover_halfswap`): a swap that died
  between its two renames (``<d>`` missing, ``<d>__old`` present) is
  rolled back before anything reads or rewrites the store.
* **Absent is empty, anything else raises** (:func:`read_store`): only a
  directory that does not exist reads as an empty frame.  A corrupt or
  unreadable store fails loudly — a gate that read it as "no state"
  would silently re-admit everything.
* **Compact by folding** (:func:`compact_store`): an append store's
  small per-batch files are rewritten as a few files, duplicate rows
  folded, through the same rename-aside swap.

**The batch-commit rule.**  A batch — a stream micro-batch, or one day
of the daily refresh loop — that writes to several append stores
commits with a one-row marker (:func:`commit`), appended as its LAST
write, and is skipped when its marker is already there
(:func:`committed`).  A replay re-runs a batch under the same id (the
Structured Streaming checkpoint contract), so a crash anywhere before
the marker makes the replay run the whole batch again.  For the re-run
to reach the first attempt's verdicts, every row a batch appends
carries its writer id (:func:`tag_writer`), and the batch's reads of
its own stores drop the rows its dead attempt leaked
(:func:`without_writer`).  That filter is null-safe: a row with no
writer id (a store seeded by a batch save, or written before the tags)
is history and stays visible.  The re-run appends the same rows again,
so every reader of such a store must give the same answer with or
without exact duplicate rows; each store states its own fold argument.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable, Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_data_lake_pyspark_spark.localrel import SchemaLike, empty_frame, tiny_frame


def recover_halfswap(d: str) -> None:
    """Repair a :func:`replace_store` swap that died between its two
    renames: the old store is parked at ``<d>__old`` and ``<d>`` is
    missing.  A reader that treated the gap as an EMPTY store would
    silently forget the whole store — and the next compaction, seeing
    ``<d>`` recreated by appends, would delete the parked full copy for
    good."""
    old = f"{d}__old"
    if os.path.isdir(old) and not os.path.isdir(d):
        os.rename(old, d)


def replace_store(d: str, write: Callable[[str], None]) -> None:
    """Replace the store at ``d`` with what ``write(path)`` writes, via
    the crash-recoverable swap.  ``write`` may read the current ``d``
    (copy-on-write): the old copy stays in place until the new one is
    complete.  Leftovers of an earlier crash are cleared first — a
    parked ``__old`` is only deleted once ``<d>`` is known to exist."""
    recover_halfswap(d)
    old, new = f"{d}__old", f"{d}__new"
    shutil.rmtree(old, ignore_errors=True)
    shutil.rmtree(new, ignore_errors=True)
    write(new)
    if os.path.isdir(d):
        os.rename(d, old)
    os.rename(new, d)
    shutil.rmtree(old, ignore_errors=True)


def read_store(
    spark: SparkSession, d: str, schema: SchemaLike, *, typed: bool = True
) -> DataFrame:
    """The store at ``d`` as a frame.  A half-finished swap is repaired
    first; only an absent directory reads as an empty frame of
    ``schema``, and every other failure raises.  ``typed=False`` reads
    the files' own schema, for stores whose columns the caller sets —
    ``schema`` then only types the empty frame."""
    recover_halfswap(d)
    if not os.path.isdir(d):
        return empty_frame(spark, schema)
    reader = spark.read.schema(schema) if typed else spark.read
    return reader.parquet(d)


def compact_store(
    spark: SparkSession,
    d: str,
    schema: SchemaLike,
    target_files: int,
    partition_col: Optional[str] = None,
    fold: Optional[Callable[[DataFrame], DataFrame]] = None,
) -> None:
    """Rewrite the append store at ``d`` as ``target_files`` files with
    duplicate rows folded, behind :func:`replace_store`'s swap.  An
    absent store is left alone.

    ``fold`` is the rewrite's reduction; the default folds EXACT
    duplicate rows (``distinct``), which is right for a store whose
    readers ignore duplicates (signatures, buckets, digests, kept sets,
    markers).  A store of per-period sufficient statistics, where every
    row must count, passes an aggregating fold instead (the daily
    loop's host statistics)."""
    recover_halfswap(d)
    if not os.path.isdir(d):
        return
    df = spark.read.schema(schema).parquet(d)
    df = (fold(df) if fold is not None else df.distinct()).coalesce(target_files)
    writer = df.write.mode("overwrite")
    if partition_col is not None:
        writer = writer.partitionBy(partition_col)
    replace_store(d, writer.parquet)


# -- the batch-commit rule ----------------------------------------------------


def _key_type(key: str) -> str:
    # the daily loop numbers its days with an INT; stream batch ids are BIGINT
    return "int" if key == "_day" else "bigint"


def _writer_lit(writer: int, key: str) -> Column:
    return F.lit(int(writer)).cast(_key_type(key))


def _marker_schema(key: str, extra) -> str:
    return ", ".join([f"{key} {_key_type(key)}"] + [f"{c} bigint" for c in extra])


#: the streaming gates' processed-batch marker store (``batches/``, ``ledger/``)
MANIFEST_SCHEMA = _marker_schema("batch_id", ())


def markers(
    spark: SparkSession, d: str, key: str = "batch_id", extra=()
) -> DataFrame:
    """Every marker committed to ``d``: the ``key`` column plus the
    BIGINT ``extra`` columns :func:`commit` was given."""
    return read_store(spark, d, _marker_schema(key, extra))


def committed(
    spark: SparkSession, d: str, batch_id: int, key: str = "batch_id"
) -> bool:
    """Whether batch ``batch_id`` has committed to the marker store at
    ``d``.  Read through :func:`read_store`: an absent store means not
    committed, and a corrupt one raises."""
    return not markers(spark, d, key).filter(F.col(key) == int(batch_id)).isEmpty()


def commit(
    spark: SparkSession, d: str, batch_id: int, key: str = "batch_id", **extra
) -> None:
    """Append batch ``batch_id``'s one-row marker to ``d``, with
    ``extra`` as BIGINT columns.  It must be the batch's last write."""
    tiny_frame(
        spark, [(int(batch_id), *extra.values())], _marker_schema(key, extra)
    ).coalesce(1).write.mode("append").parquet(d)


def tag_writer(df: DataFrame, writer: int, key: str = "batch_id") -> DataFrame:
    """``df`` with the writing batch's id in column ``key``."""
    return df.withColumn(key, _writer_lit(writer, key))


def without_writer(df: DataFrame, writer: int, key: str = "batch_id") -> DataFrame:
    """``df`` without the rows batch ``writer`` appended — the
    replay-leak filter.  Null-safe: untagged rows stay."""
    return df.filter(~F.col(key).eqNullSafe(_writer_lit(writer, key)))
