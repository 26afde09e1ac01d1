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
