"""The persisted-store read rule (``store.read_store``) at every streaming
gate reader: an absent store reads as an empty frame of the declared
schema, and a corrupt store raises — it must never read as "no state",
or the gate would silently re-admit everything."""

from __future__ import annotations

import pytest
from pyspark.errors import PySparkException
from py4j.protocol import Py4JJavaError
from pyspark.sql import types as T

from cdc_data_lake_pyspark_spark.streaming import (
    heavy_hitters,
    neardup,
    novelty,
    semantic,
    vector_gate,
)
from cdc_data_lake_pyspark_spark.streaming.quality_gate import StreamingQualityGate
from cdc_data_lake_pyspark_spark.streaming.quarantine import read_quarantine


def _quality_kept(spark, root):
    # the reader never touches the model; a one-bucket spine constructs
    model = spark.createDataFrame([(0,)], "bucket int")
    return StreamingQualityGate(model, root).kept_docs(spark)


# reader name -> (store directory under the state root, reader(spark, root),
# schema of the absent store's empty frame)
READERS = {
    "heavy_hitters": (
        "hot",
        lambda spark, root: heavy_hitters.StreamingHeavyHitters(root).hot_keys(spark),
        heavy_hitters.HOT_SCHEMA,
    ),
    "neardup": (
        "kept",
        lambda spark, root: neardup.StreamingNearDupGate(root).kept_docs(spark),
        neardup.KEPT_SCHEMA,
    ),
    "vector_gate": (
        "kept",
        lambda spark, root: vector_gate.StreamingVectorDedupGate(root).kept_vectors(
            spark
        ),
        vector_gate.KEPT_SCHEMA,
    ),
    "novelty_index": (
        "index",
        lambda spark, root: novelty.StreamingNoveltyGate(f"{root}/index").index(spark),
        novelty.INDEX_SCHEMA,
    ),
    "novelty_bloom": (
        "bloom",
        lambda spark, root: novelty.StreamingNoveltyGate(
            f"{root}/index", bloom_dir=f"{root}/bloom"
        ).bloom_cells(spark),
        novelty.BLOOM_SCHEMA,
    ),
    "semantic": (
        "index",
        lambda spark, root: semantic.StreamingSemanticGate(f"{root}/index").index(
            spark
        ),
        semantic.INDEX_SCHEMA,
    ),
    "quality_gate": (
        "kept",
        _quality_kept,
        "doc_id long, text string, score_micro long, _batch_id long",
    ),
    "quarantine": (
        "quarantine",
        lambda spark, root: read_quarantine(spark, f"{root}/quarantine"),
        "_violations string, _batch_id long",
    ),
}


def _fields(schema):
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    return [(f.name, f.dataType) for f in schema.fields]


@pytest.mark.parametrize("name", sorted(READERS))
def test_corrupt_store_raises(spark, tmp_path, name):
    sub, read, _ = READERS[name]
    store = tmp_path / sub
    store.mkdir()
    (store / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises((PySparkException, Py4JJavaError)):
        read(spark, str(tmp_path)).count()


@pytest.mark.parametrize("name", sorted(READERS))
def test_absent_store_reads_empty(spark, tmp_path, name):
    _, read, schema = READERS[name]
    df = read(spark, str(tmp_path))
    assert _fields(df.schema) == _fields(schema)
    assert df.count() == 0


# -- the batch-commit rule ----------------------------------------------------


def test_commit_marks_only_its_batch(spark, tmp_path):
    from cdc_data_lake_pyspark_spark.store import commit, committed, markers

    d = str(tmp_path / "batches")
    assert not committed(spark, d, 0)  # absent store: nothing committed
    commit(spark, d, 3)
    assert committed(spark, d, 3)
    assert not committed(spark, d, 0)
    # the daily loop's day marker: an INT key plus BIGINT extras
    days = str(tmp_path / "days")
    commit(spark, days, 1, "_day", _fp=-7, _rows=40)
    assert committed(spark, days, 1, "_day")
    rows = markers(spark, days, "_day", ("_fp", "_rows")).collect()
    assert [tuple(r) for r in rows] == [(1, -7, 40)]
    assert dict(spark.read.parquet(days).dtypes) == {
        "_day": "int",
        "_fp": "bigint",
        "_rows": "bigint",
    }


def test_corrupt_marker_store_raises(spark, tmp_path):
    from cdc_data_lake_pyspark_spark.store import committed

    store = tmp_path / "batches"
    store.mkdir()
    (store / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises((PySparkException, Py4JJavaError)):
        committed(spark, str(store), 0)


def test_writer_filter_keeps_untagged_rows(spark):
    from cdc_data_lake_pyspark_spark.localrel import tiny_frame
    from cdc_data_lake_pyspark_spark.store import tag_writer, without_writer

    history = tiny_frame(spark, [(1, None), (2, None)], "doc_id long, batch_id long")
    rows = history.unionByName(
        tag_writer(tiny_frame(spark, [(3,)], "doc_id long"), 5)
    ).unionByName(tag_writer(tiny_frame(spark, [(4,)], "doc_id long"), 6))
    kept = {r.doc_id for r in without_writer(rows, 5).collect()}
    assert kept == {1, 2, 4}
    days = tag_writer(tiny_frame(spark, [(1,)], "doc_id long"), 2, "_day")
    assert dict(days.dtypes)["_day"] == "int"
    assert without_writer(days, 2, "_day").count() == 0
