"""Streaming learned-quality gate: score micro-batches under a
PERSISTED classifier model — stream output must equal the batch scorer
on the same corpus (the model is static, so verdicts cannot depend on
slicing), survive checkpoint restarts, and fold replay duplicates."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from cdc_data_lake_pyspark_spark.operators.classifier import (
    load_model,
    nb_score,
    nb_train,
    save_model,
)
from cdc_data_lake_pyspark_spark.streaming.quality_gate import StreamingQualityGate
from cdc_data_lake_pyspark_spark.streaming.runner import start_foreach_batch_stream

SF_DIR = "/root/testdata/sf0.01"
BOILER = (
    "click here subscribe now cookie policy accept all rights reserved "
    "privacy terms conditions newsletter signup follow us"
)


def _labeled(spark):
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit(BOILER + " "), F.col("text")),
            )
            .otherwise(F.col("text"))
            .alias("text"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(0))
            .otherwise(F.lit(1))
            .cast("int")
            .alias("label"),
        )
    )
    return docs.localCheckpoint()


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="driver testdata absent")
def test_streamed_gate_equals_batch_scorer(spark, tmp_path):
    docs = _labeled(spark)
    # train OFFLINE, persist, reload — the gate scores from the artifact
    model_path = str(tmp_path / "model")
    save_model(nb_train(docs), model_path)
    gate = StreamingQualityGate(
        load_model(spark, model_path), str(tmp_path / "out")
    )

    src, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)
    stream_docs = docs.select("doc_id", "text")
    sliced = stream_docs.withColumn(
        "_slice", F.ntile(4).over(Window.orderBy("doc_id"))
    ).localCheckpoint()
    for s in range(1, 5):
        sliced.filter(F.col("_slice") == s).select(
            "doc_id", "text"
        ).coalesce(1).write.mode("append").json(src)
        q = start_foreach_batch_stream(
            spark.readStream.schema("doc_id long, text string").json(src),
            gate.process_batch,
            ckpt,
            available_now=True,
        )
        q.awaitTermination(600)

    expected = {
        (r.doc_id, r.score_micro, r.keep)
        for r in nb_score(stream_docs, load_model(spark, model_path))
        .collect()
    }
    kept = {
        (r.doc_id, r.score_micro, 1)
        for r in gate.kept_docs(spark).collect()
    }
    rejected = {
        (r.doc_id, r.score_micro, 0)
        for r in gate.rejected_docs(spark).collect()
    }
    assert kept | rejected == expected
    assert kept and rejected  # the planted fixture exercises both routes
    # verdicts match the plant (the model separates the classes)
    assert all(d % 3 != 0 for d, _, _ in kept)
    assert all(d % 3 == 0 for d, _, _ in rejected)

    # restart with the same checkpoint and no new data: output unchanged
    q = start_foreach_batch_stream(
        spark.readStream.schema("doc_id long, text string").json(src),
        gate.process_batch,
        ckpt,
        available_now=True,
    )
    q.awaitTermination(600)
    assert {
        (r.doc_id, r.score_micro, 1)
        for r in gate.kept_docs(spark).collect()
    } == kept


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="driver testdata absent")
def test_replayed_batch_folds_exactly(spark, tmp_path):
    docs = _labeled(spark)
    gate = StreamingQualityGate(nb_train(docs), str(tmp_path / "out"))
    batch = docs.select("doc_id", "text").filter(F.col("doc_id") < 100)
    gate.process_batch(batch, batch_id=0)
    first = sorted(
        (r.doc_id, r.score_micro, r._batch_id)
        for r in gate.kept_docs(spark).collect()
    )
    gate.process_batch(batch, batch_id=0)  # checkpoint replay
    assert (
        sorted(
            (r.doc_id, r.score_micro, r._batch_id)
            for r in gate.kept_docs(spark).collect()
        )
        == first
    )
