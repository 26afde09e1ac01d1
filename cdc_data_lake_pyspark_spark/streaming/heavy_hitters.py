"""Streaming heavy-hitters gate: cross-batch frequency surveillance over
the portable count-min sketch.

The batch CMS (``functions/sketch.py::cms_sketch``) is an additive
integer state — sketches merge by element-wise cell SUM — so the
streaming form is exact by construction: fold each micro-batch's sketch
into the stored cells and the result is bit-identical to one CMS over
the concatenated stream, regardless of slicing (the soak test pins
this).  Per batch, the gate then flags the batch's OWN keys whose CMS
point estimate (min over hash rows) has crossed a threshold — the
"alert on keys that became hot" pattern for abuse detection, hot-key /
skew surveillance, and crawl-frequency caps.

Guarantee inherited from CMS: the estimate only OVERcounts, so a key
whose true cumulative count ≥ threshold is always flagged when it
appears (no false negatives); collisions can flag a key early (bounded
false-positive rate ~ depth-independent n/width per row).

Scale: the stored state is a CONSTANT ``depth × width`` cell grid no
matter the stream's cardinality; each micro-batch shuffles once to
build its own sketch (map-side combined) plus one broadcast-sized join
of the batch's distinct keys against the grid.  The flagged-keys store
appends only newly-hot keys.

Exactly-once: the batch-commit rule of
:mod:`~cdc_data_lake_pyspark_spark.store`, with the ``ledger/`` marker
written last.  The fold argument: cells rows carry their batch id and
:meth:`StreamingHeavyHitters.cells` keeps one copy per ``(batch_id,
cell)``, so a replayed batch's sketch counts once; the newly-hot append
anti-joins the keys already flagged, so a key the dead attempt flagged
is not flagged again.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdc_data_lake_pyspark_spark.functions.sketch import cms_sketch
from cdc_data_lake_pyspark_spark.operators.relational import portable_id_hash
from cdc_data_lake_pyspark_spark.store import (
    commit,
    committed,
    read_store,
    tag_writer,
)

CELLS_SCHEMA = T.StructType(
    [
        T.StructField("hash_row", T.IntegerType(), False),
        T.StructField("bucket", T.LongType(), False),
        T.StructField("n", T.LongType(), False),
        # batch_id MUST stay nullable: pre-migration cells files carry no
        # batch_id column and read back NULL, and cells() substitutes a
        # per-file surrogate via coalesce().  Declared non-nullable,
        # Catalyst is entitled to prune the coalesce (NullPropagation on a
        # non-nullable child) and the legacy-migration path would silently
        # disappear; today the file source forces user schemas nullable,
        # but that is a version-dependent accident, not a contract.
        T.StructField("batch_id", T.LongType(), True),
    ]
)

HOT_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("est", T.LongType(), True),
        T.StructField("batch_id", T.LongType(), True),
    ]
)


class StreamingHeavyHitters:
    """foreachBatch state machine: CMS cell grid + newly-hot key ledger.

    ``cells_dir`` holds the merged grid, ``hot_dir`` the append-only log
    of (key, first estimate at crossing, batch id), ``ledger_dir`` the
    batch-commit markers.
    """

    def __init__(
        self,
        state_dir: str,
        key_col: str = "key",
        threshold: int = 100,
        depth: int = 4,
        width: int = 256,
    ) -> None:
        self.key_col = key_col
        self.threshold = threshold
        self.depth = depth
        self.width = width
        self.cells_dir = os.path.join(state_dir, "cells")
        self.hot_dir = os.path.join(state_dir, "hot")
        self.ledger_dir = os.path.join(state_dir, "ledger")

    # ---------------------------------------------------------- reads
    def cells(self, spark: SparkSession) -> DataFrame:
        """Merged CMS grid: element-wise sum over every appended batch
        sketch — identical to one cms_sketch over the whole history.

        Each appended cells row is stamped with its batch id, and the
        merge first collapses duplicate ``(batch_id, hash_row, bucket)``
        rows to one copy: a crash after the cells append but before the
        commit makes the replay re-append an identical sketch (same
        checkpointed offsets, same rows), which would otherwise
        double-count forever.

        Migration guard: a cells directory written BEFORE the batch_id
        stamp existed reads back with batch_id NULL.  Grouping those rows
        under the literal NULL would collapse EVERY historical batch into
        one (NULL, hash_row, bucket) group where max(n) silently replaces
        the former sum — a permanent undercount.  Instead, NULL stamps
        are substituted with a per-file surrogate id (hash of
        ``input_file_name``): each pre-migration append wrote each cell
        at most once per file, so per-file grouping preserves the exact
        historical sums.  (Only the crash-replay dedup is weaker for
        those legacy rows — exactly the guarantee the old format never
        had anyway.)"""
        raw = read_store(spark, self.cells_dir, CELLS_SCHEMA).withColumn(
            "batch_id",
            F.coalesce(
                F.col("batch_id"),
                # negative surrogate range: cannot collide with real
                # (non-negative) micro-batch ids
                -(F.abs(F.xxhash64(F.input_file_name())) % F.lit(2**62))
                - F.lit(1),
            ),
        )
        return (
            raw.groupBy("batch_id", "hash_row", "bucket")
            .agg(F.max("n").alias("_n1"))
            .groupBy("hash_row", "bucket")
            .agg(F.sum("_n1").alias("n"))
        )

    def hot_keys(self, spark: SparkSession) -> DataFrame:
        return read_store(spark, self.hot_dir, HOT_SCHEMA)

    # ---------------------------------------------------------- write
    def process_batch(self, batch_df: DataFrame, batch_id: int = -1) -> None:
        spark = batch_df.sparkSession
        if committed(spark, self.ledger_dir, batch_id):
            return

        batch = batch_df.select(
            F.col(self.key_col).cast("string").alias("key")
        ).localCheckpoint()

        # 1. fold the batch's sketch into the grid (append-only; the
        #    read side merges by sum, so no read-modify-write race)
        sketch = cms_sketch(batch, "key", depth=self.depth, width=self.width)
        tag_writer(sketch, batch_id).write.mode("append").parquet(self.cells_dir)

        # 2. flag this batch's keys whose cumulative estimate crossed
        #    the threshold and are not already in the hot ledger
        grid = F.broadcast(self.cells(spark))
        keys = batch.distinct()
        rows = []
        for i in range(self.depth):
            rows.append(
                keys.select(
                    "key",
                    F.lit(i).cast("int").alias("hash_row"),
                    F.pmod(
                        portable_id_hash(
                            F.concat_ws("|", F.lit(i), F.col("key"))
                        ),
                        F.lit(self.width),
                    ).alias("bucket"),
                )
            )
        probes = rows[0]
        for r in rows[1:]:
            probes = probes.unionAll(r)
        est = (
            probes.join(grid, ["hash_row", "bucket"], "left")
            .groupBy("key")
            .agg(F.min(F.coalesce(F.col("n"), F.lit(0))).alias("est"))
        )
        newly_hot = (
            est.filter(F.col("est") >= self.threshold)
            .join(self.hot_keys(spark).select("key"), "key", "left_anti")
            .select("key", "est")
        )
        tag_writer(newly_hot, batch_id).write.mode("append").parquet(self.hot_dir)
        commit(spark, self.ledger_dir, batch_id)
