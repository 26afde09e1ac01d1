"""One policy for a persisted parquet directory (SCALE.md §27).

Every store the engine keeps on disk — the parquet sink's tables, the
streaming gates' append stores, the batch index artifacts — follows the
same three rules, defined once here:

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
"""

from __future__ import annotations

import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from cdc_data_lake_pyspark_spark.localrel import SchemaLike, empty_frame


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
