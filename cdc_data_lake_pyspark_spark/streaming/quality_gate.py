"""Streaming LEARNED-quality gate: score every micro-batch under a
PERSISTED classifier model and route pass/fail rows — the online half
of the train-offline / score-online split the classifier artifact
(:func:`~cdc_data_lake_pyspark_spark.operators.classifier.save_model`)
exists for.

The quarantine wrapper (`streaming/quarantine.py`) routes rows on
map-only Column predicates; the learned gate cannot ride it because a
classifier score is not a row-local expression — it is a token explode
joined against the broadcast weight table and re-aggregated per doc.
This module is that join, run per micro-batch::

    model = load_model(spark, model_path)         # once, at startup
    gate  = StreamingQualityGate(model, out_dir)
    start_foreach_batch_stream(stream, gate.process_batch, checkpoint)

Per micro-batch: ``nb_score`` under the (static, 65-row, broadcast)
model → MAP verdict → kept rows append to ``out_dir/kept`` and
rejected rows to ``out_dir/rejected``, both stamped with
``score_micro`` and ``_batch_id`` for triage/replay.

Exactly-once: scoring is a pure function of (row, model), so a
checkpoint-replayed batch re-derives byte-identical output rows with
the SAME ``_batch_id`` — readers fold replay duplicates with
``.distinct()`` exactly (the `streaming/neardup.py` kept-store
argument; there is no cross-batch state here at all, which is what
makes this gate the simplest of the streaming family).

Scale: the model is kilobytes and broadcast; per batch the only
exchange is the doc-keyed partial-sum (a few bytes per document —
measured ~11 B/doc at the 500k-doc axis, SCALE.md §17); batch text
never shuffles.  Model REFRESH is a deployment action, not stream
state: construct a new gate from the re-trained artifact and restart
the query — the verdict function must be a constant within one run for
replays to converge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_data_lake_pyspark_spark.operators.classifier import nb_score
from cdc_data_lake_pyspark_spark.store import read_store, tag_writer


class StreamingQualityGate:
    """``foreachBatch`` target scoring batches under a fitted model
    (:func:`nb_train`, :func:`lr_train`, or :func:`load_model` — same
    one-frame shape)."""

    def __init__(
        self,
        model: DataFrame,
        out_dir: str,
        n_buckets: int | None = None,
        id_col: str = "doc_id",
        text_col: str = "text",
        binary: bool = False,
    ) -> None:
        # stage the static model ONCE here, not per micro-batch (ADVICE
        # r11: a long-running stream re-checkpointing the 65-row frame
        # every batch accumulates RDD blocks until the ContextCleaner
        # catches up) — and derive/validate the feature width from the
        # model's own spine so the gate can never score with a
        # mismatched bucket function
        self.model = model.localCheckpoint(eager=True)
        spine_n = self.model.filter(F.col("bucket") >= 0).count()
        if n_buckets is not None and n_buckets != spine_n:
            raise ValueError(
                f"StreamingQualityGate configured with n_buckets="
                f"{n_buckets} but the model's spine has {spine_n}"
            )
        self.n_buckets = spine_n
        self.out_dir = out_dir
        self.id_col = id_col
        self.text_col = text_col
        self.binary = binary

    def batch_reduce(self, batch_df: DataFrame) -> DataFrame:
        """The gate's pure reduction: the batch with ``score_micro`` and
        ``keep`` attached — no state I/O, so stream output equals this
        function applied per slice (pinned in the soak test)."""
        scores = nb_score(
            batch_df,
            self.model,
            id_col=self.id_col,
            text_col=self.text_col,
            n_buckets=self.n_buckets,
            binary=self.binary,
            staged=True,
        )
        return batch_df.join(scores, self.id_col)

    def process_batch(self, batch_df: DataFrame, batch_id: int = -1) -> None:
        scored = tag_writer(self.batch_reduce(batch_df), batch_id, "_batch_id")
        # both routes read one staged scoring pass
        scored = scored.localCheckpoint(eager=True)
        scored.filter(F.col("keep") == 1).drop("keep").write.mode(
            "append"
        ).parquet(f"{self.out_dir}/kept")
        scored.filter(F.col("keep") == 0).drop("keep").write.mode(
            "append"
        ).parquet(f"{self.out_dir}/rejected")

    def _read(self, spark: SparkSession, sub: str) -> DataFrame:
        # distinct folds checkpoint-replay duplicates EXACTLY: rows are
        # pure functions of (row, model, batch_id)
        return read_store(
            spark,
            f"{self.out_dir}/{sub}",
            f"{self.id_col} long, {self.text_col} string, "
            "score_micro long, _batch_id long",
            typed=False,
        ).distinct()

    def kept_docs(self, spark: SparkSession) -> DataFrame:
        return self._read(spark, "kept")

    def rejected_docs(self, spark: SparkSession) -> DataFrame:
        return self._read(spark, "rejected")
