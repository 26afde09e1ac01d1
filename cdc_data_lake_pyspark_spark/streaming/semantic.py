"""Streaming SEMANTIC novelty gate: cross-batch embedding near-dup.

Where :mod:`novelty` gates on exact text fingerprints, this gate drops a
new vector when something *semantically equivalent* (cosine >=
``threshold``) was already ingested — the online form of SemDeDup
(``operators/similarity.py::semantic_dedup``) for continuous ingestion.

Mechanics per micro-batch (``foreachBatch``):

1. **Within-batch prune** — banded near-dup pairs over the batch
   (:func:`~cdc_data_lake_pyspark_spark.operators.similarity.cosine_near_dup_pairs_lsh`
   with the gate's FIXED planes/tables/seed); any vector with a
   smaller-id above-threshold partner in the batch drops (the repo's
   min-id convention).
2. **Index probe** — survivors compute the same hyperplane signatures
   and join the stored index on ``(table, bucket)``; candidates are
   exact-rescored and any survivor matching an ingested vector at
   ``>= threshold`` drops.
3. **Append** — remaining novel vectors append to the index, exploded
   one row per ``(table, bucket)`` so the NEXT batch's probe is a
   co-located bucket join, never an all-pairs scan.

Exactly-once story: the index is the output store.  A checkpoint-replayed
batch re-probes and every vector matches ITSELF in the index (identical
vector → identical signature → same bucket, cosine 1.0 >= threshold), so
the replay appends nothing — idempotent by construction, the
:mod:`novelty` convergence argument carried over to approximate matching.

Scale: the index stores ``n_tables`` rows per ingested vector (ids +
vectors keyed by bucket); each batch shuffles once on ``(table, bucket)``
and the rescore touches only same-bucket candidates.  Recall of the gate
is the LSH collision recall at the threshold angle — tune
``n_planes``/``n_tables`` exactly as for
:func:`cosine_near_dup_pairs_lsh` (misses admit a near-duplicate, never
drop a novel vector).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdc_data_lake_pyspark_spark.operators.similarity import (
    cosine_near_dup_pairs_lsh,
    cosine_pandas_udf,
    make_hyperplanes,
)
from cdc_data_lake_pyspark_spark.store import read_store, tag_writer

INDEX_SCHEMA = T.StructType(
    [
        T.StructField("tbl", T.IntegerType(), False),
        T.StructField("bkt", T.LongType(), False),
        T.StructField("vec_id", T.LongType(), True),
        T.StructField("v", T.ArrayType(T.DoubleType()), True),
        T.StructField("batch_id", T.LongType(), True),
    ]
)


class StreamingSemanticGate:
    """``foreachBatch`` target maintaining the bucketed vector index."""

    def __init__(
        self,
        index_dir: str,
        threshold: float = 0.4,
        dim: int = 64,
        n_planes: int = 6,
        n_tables: int = 8,
        seed: int = 42,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> None:
        self.index_dir = index_dir
        self.threshold = threshold
        self.dim = dim
        self.n_planes = n_planes
        self.n_tables = n_tables
        self.seed = seed
        self.id_col = id_col
        self.vec_col = vec_col
        planes = np.array(
            [
                make_hyperplanes(dim, n_planes, seed=seed + 1000 * t)
                for t in range(n_tables)
            ]
        )
        self._H = planes.reshape(n_tables * n_planes, dim)
        self._weights = (1 << np.arange(n_planes)).astype(np.int64)

    # -- state ----------------------------------------------------------
    def index(self, spark: SparkSession) -> DataFrame:
        return read_store(spark, self.index_dir, INDEX_SCHEMA)

    def novel_ids(self, spark: SparkSession) -> DataFrame:
        """Gate output so far: the ingested (kept) vector ids."""
        return self.index(spark).select("vec_id").distinct()

    # -- helpers --------------------------------------------------------
    def _with_buckets(self, df: DataFrame, id_out: str, vec_out: str) -> DataFrame:
        """Explode ``(tbl, bkt)`` signature rows for each vector —
        bit-identical to the banded pair generator's buckets (same
        seeded planes, same packing)."""
        from pyspark.sql.pandas.functions import pandas_udf

        H, weights = self._H, self._weights
        n_tables, n_planes = self.n_tables, self.n_planes

        @pandas_udf("array<long>")
        def _buckets(col: pd.Series) -> pd.Series:
            V = np.vstack(col.to_numpy()).astype(np.float64)
            bits = (V @ H.T) >= 0
            b = (bits.reshape(len(V), n_tables, n_planes) * weights).sum(axis=2)
            return pd.Series(list(b))

        return df.select(
            F.col(self.id_col).alias(id_out),
            F.col(self.vec_col).cast("array<double>").alias(vec_out),
            F.posexplode(_buckets(F.col(self.vec_col))).alias("tbl", "bkt"),
        )

    # -- the gate -------------------------------------------------------
    def batch_reduce(self, batch: DataFrame, index: DataFrame) -> DataFrame:
        """The gate's pure single-batch reduction: ``(batch, index) →
        novel rows`` with no state I/O — steps 1–2 of the micro-batch
        loop (within-batch min-id prune over banded pairs, then
        bucket-probe + exact-rescore against the index).  Exposed so the
        reduction is value-checkable against a SQL oracle exactly like
        every batch operator; ``process_batch`` wraps it with the
        read/append state plumbing."""
        # 1) within-batch min-id prune over banded pairs
        pairs = cosine_near_dup_pairs_lsh(
            batch,
            threshold=self.threshold,
            dim=self.dim,
            n_planes=self.n_planes,
            n_tables=self.n_tables,
            seed=self.seed,
            id_col=self.id_col,
            vec_col=self.vec_col,
        )
        dropped = pairs.select(F.col("b_id").alias(self.id_col)).distinct()
        survivors = batch.join(dropped, self.id_col, "left_anti")

        # 2) probe the index on (table, bucket), exact-rescore candidates.
        # IDS FIRST (r16, guide §2.3 "shuffle keys, not payloads"): the
        # bucket join and the candidate-pair dedup move 16-byte id pairs;
        # both sides' vectors re-attach per DISTINCT candidate afterwards
        # (broadcast under AQE at batch scale, id-keyed hash joins at
        # 100 TB).  The previous shape carried BOTH dim-length double
        # arrays through the join AND the dropDuplicates exchange —
        # measured 36.9 MB shuffled with 16 s of GC across tasks for a
        # ~1k-row batch at sf0.1, vs ~1 MB after this change; the
        # candidate set, scores, and verdicts are byte-identical.
        sig_ids = self._with_buckets(survivors, "_sid", "_sv").select(
            "_sid", "tbl", "bkt"
        )
        cand_ids = (
            sig_ids.join(
                index.select("tbl", "bkt", F.col("vec_id").alias("_iid")),
                ["tbl", "bkt"],
            )
            .select("_sid", "_iid")
            .dropDuplicates(["_sid", "_iid"])
        )
        bvec = survivors.select(
            F.col(self.id_col).alias("_sid"),
            F.col(self.vec_col).cast("array<double>").alias("_sv"),
        )
        # one row per indexed vector: every vector's signature explode
        # carries its table-0 row (construction invariant of
        # _with_buckets, which posexplodes tables 0..n_tables-1).
        # Index rows with a NULL vec_id (INDEX_SCHEMA permits them for
        # parquet-compat) are intentionally unmatched by the inner joins
        # below — the gate's id validation rejects non-integral ids at
        # ingest, so such rows cannot exist in a gate-written store
        # (ADVICE r16).
        ivec = index.filter(F.col("tbl") == 0).select(
            F.col("vec_id").alias("_iid"), F.col("v").alias("_iv")
        )
        _cosine = cosine_pandas_udf()
        matched = (
            cand_ids.join(bvec, "_sid")
            .join(ivec, "_iid")
            .select("_sid", _cosine(F.col("_sv"), F.col("_iv")).alias("_s"))
            .filter(F.col("_s") >= self.threshold)
            .select(F.col("_sid").alias(self.id_col))
            .distinct()
        )
        return survivors.join(matched, self.id_col, "left_anti")

    def process_batch(self, batch_df: DataFrame, batch_id: int = -1) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.select(self.id_col, self.vec_col).localCheckpoint()
        novel = self.batch_reduce(batch, self.index(spark))

        # 3) append novel rows, exploded per (table, bucket)
        out = self._with_buckets(novel, "vec_id", "v").select(
            "tbl", "bkt", F.col("vec_id").cast("long"), "v"
        )
        tag_writer(out, batch_id).write.mode("append").parquet(self.index_dir)
