"""Streaming near-duplicate gate: cross-batch incremental dedup.

The batch operator (``queries_phase4.py::incremental_novel_docs``)
anti-joins a new slice against the corpus fingerprint index; this module
runs the same semantics CONTINUOUSLY — ``readStream`` →
``foreachBatch(StreamingNoveltyGate.process_batch)`` — so every
micro-batch of crawled documents is gated against everything ingested
before it.

Exactly-once story: the fingerprint index IS the output store.  A batch
appends only rows whose fingerprint is absent from the index, so a
checkpoint-replayed batch finds its fingerprints already present and
appends nothing — idempotent by construction, no separate output table
to reconcile (same convergence argument as MERGE-on-PK in
``streaming/runner.py``).

Scale: the index carries 32-byte digests + ids, never documents — a
fraction of corpus size.  Each micro-batch shuffles once on the digest
(map-side first-per-fingerprint combine first); the corpus is never
rescanned; the index grows by appending novel fingerprints (union, not
rebuild).  At 100 TB-of-corpus scale, store the index partitioned/
bucketed by a fingerprint prefix so the per-batch anti-join co-locates
without a full-index shuffle, and compact small batch files periodically.

Optional Bloom pre-filter (``bloom_dir``): the gate also maintains a
portable Bloom filter over ingested fingerprints (bounded at
``depth x m_bits`` cells however large the corpus).  Each batch probes it
first — misses are GUARANTEED novel and skip the exact anti-join; only
the maybe-seen sliver (already-ingested fps + false positives) pays the
index join, which also removes the false positives, so results are
EXACTLY the plain path's.  On a mostly-novel crawl this turns the
per-batch index join from O(batch) into O(repeats).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdc_data_lake_pyspark_spark.store import read_store, tag_writer

INDEX_SCHEMA = T.StructType(
    [
        T.StructField("fp", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("batch_id", T.LongType(), True),
    ]
)

BLOOM_SCHEMA = T.StructType(
    [
        T.StructField("hash_row", T.IntegerType(), False),
        T.StructField("bit", T.LongType(), False),
    ]
)


def document_fingerprint(text_col: str = "text", normalize: bool = True):
    """The gate's fingerprint — identical to the batch operator's
    (md5 of lower/trimmed text), so stream and batch results agree."""
    text = F.col(text_col)
    if normalize:
        text = F.lower(F.trim(text))
    return F.md5(text)


class StreamingNoveltyGate:
    """``foreachBatch`` target maintaining the updating fingerprint index.

    Per micro-batch: fingerprint → first-per-fingerprint within the batch
    (min id, the batch self-dedup of ``incremental_novel_docs``) →
    anti-join the stored index → append only the novel rows.
    """

    def __init__(
        self,
        index_dir: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        normalize: bool = True,
        bloom_dir: Optional[str] = None,
        bloom_depth: int = 4,
        bloom_m_bits: int = 1 << 20,
    ) -> None:
        self.index_dir = index_dir
        self.id_col = id_col
        self.text_col = text_col
        self.normalize = normalize
        self.bloom_dir = bloom_dir
        self.bloom_depth = bloom_depth
        self.bloom_m_bits = bloom_m_bits

    def index(self, spark: SparkSession) -> DataFrame:
        """Current index (empty-typed frame before the first batch)."""
        return read_store(spark, self.index_dir, INDEX_SCHEMA)

    def novel_docs(self, spark: SparkSession) -> DataFrame:
        """Gate output so far: one row per novel fingerprint with the
        keeper doc id and the batch that first saw it."""
        return self.index(spark)

    def bloom_cells(self, spark: SparkSession) -> DataFrame:
        """Current Bloom state (distinct cells; appends may duplicate)."""
        return read_store(spark, self.bloom_dir, BLOOM_SCHEMA).distinct()

    def batch_reduce(self, batch_df: DataFrame, index: DataFrame) -> DataFrame:
        """The gate's pure single-batch reduction: fingerprint →
        first-per-fingerprint within the batch → anti-join the given
        index — no state I/O, so the reduction is value-checkable
        against a SQL oracle exactly like every batch operator.
        ``process_batch`` wraps it with state plumbing (and the optional
        Bloom pre-filter, whose results are pinned equal to this plain
        path in the soak tests)."""
        return self._firsts(batch_df).join(index.select("fp"), "fp", "left_anti")

    def _firsts(self, batch_df: DataFrame) -> DataFrame:
        """One ``(fp, doc_id)`` row per fingerprint in the batch, keeping
        the minimum id — the batch self-dedup both paths start from."""
        fp = document_fingerprint(self.text_col, self.normalize)
        return (
            batch_df.select(
                fp.alias("fp"), F.col(self.id_col).cast("long").alias("doc_id")
            )
            .filter(F.col("fp").isNotNull())
            .groupBy("fp")
            .agg(F.min("doc_id").alias("doc_id"))
        )

    def process_batch(self, batch_df: DataFrame, batch_id: int = -1) -> None:
        spark = batch_df.sparkSession
        if self.bloom_dir is None:
            novel = self.batch_reduce(batch_df, self.index(spark))
        else:
            # Bloom pre-filter: a fingerprint MISSING from the filter is
            # guaranteed novel (no false negatives) and skips the exact
            # anti-join entirely; only the maybe-seen remainder — previously
            # ingested fps plus the small false-positive slice — pays the
            # index join.  On a mostly-novel crawl the expensive join's
            # probe side shrinks to a sliver while results stay EXACTLY
            # equal to the plain path (pinned in test_streaming_novelty).
            from cdc_data_lake_pyspark_spark.functions.sketch import (
                bloom_probe,
                bloom_sketch,
            )

            probed = bloom_probe(
                self.bloom_cells(spark),
                self._firsts(batch_df),
                "fp",
                ["fp", "doc_id"],
                depth=self.bloom_depth,
                m_bits=self.bloom_m_bits,
            ).persist()
            try:
                misses = probed.filter(~F.col("maybe_seen")).select(
                    "fp", "doc_id"
                )
                maybe = probed.filter(F.col("maybe_seen")).select(
                    "fp", "doc_id"
                )
                confirmed = maybe.join(
                    self.index(spark).select("fp"), "fp", "left_anti"
                )
                novel = misses.unionByName(confirmed).localCheckpoint()
            finally:
                probed.unpersist()
            # Cells are written BEFORE the index: if the batch dies between
            # the writes, the replay sees fps in the filter but not the
            # index — maybe_seen → exact anti-join recovers them — whereas
            # the reverse order would re-append index rows for fps whose
            # cells were lost.  Duplicate cell rows from replays are folded
            # by the distinct() in bloom_cells().
            bloom_sketch(
                novel.select("fp"),
                "fp",
                depth=self.bloom_depth,
                m_bits=self.bloom_m_bits,
            ).write.mode("append").parquet(self.bloom_dir)
        novel = tag_writer(novel, batch_id)
        # Append commits atomically (FileOutputCommitter); a replayed batch
        # re-derives `novel` as empty because its fps are now present.
        novel.write.mode("append").parquet(self.index_dir)
