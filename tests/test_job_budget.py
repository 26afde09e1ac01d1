"""Spark job counts of CdcPipeline batches, pinned per sink.

Wall time on a shared host is noise-bound; the number of Spark jobs a
batch launches is not, and it moves whenever a sink call starts doing
extra work (a second footer read, an empty table written and read back).
Three small batches over three tables run through each sink, and each
batch's jobs are counted exactly: the first batch only inserts (every
table is created by its first append), the next two insert, update and
delete.

Exchange reuse is off while counting.  With it on, whether AQE reuses a
shuffle stage that appears twice in one plan depends on the order the
plan's stages finish, so a count could move between identical runs.
"""

import json

import pytest

from cdc_data_lake_pyspark_spark.apply import MemoryTableSink, ParquetTableSink
from cdc_data_lake_pyspark_spark.localrel import tiny_frame
from cdc_data_lake_pyspark_spark.pipeline import CdcPipeline

TABLES = ["t0", "t1", "t2"]
CONFIG = [{"db": "d", "table": t, "primary_key": "k"} for t in TABLES]

#: jobs per batch; a change here is a change in the apply path's work
BUDGET = {
    "memory": [9, 24, 24],
    "parquet": [9, 24, 24],
}


def _envelope(table, op, k, v, ts):
    payload = json.dumps({"k": k, "v": v})
    return json.dumps(
        {
            "before": payload if op == "d" else None,
            "after": None if op == "d" else payload,
            "source": json.dumps({"db": "d", "table": table}),
            "op": op,
            "ts_ms": ts,
            "transaction": None,
        }
    )


def _batches():
    first = [("c", k, k) for k in range(4)]
    later = [
        [("c", 4, 40), ("u", 1, 11), ("u", 2, 12), ("d", 3, 0)],
        [("c", 5, 50), ("u", 4, 14), ("u", 1, 21), ("d", 0, 0)],
    ]
    return [
        [
            _envelope(t, op, k, v, ts)
            for t in TABLES
            for ts, (op, k, v) in enumerate(events)
        ]
        for events in [first, *later]
    ]


def _no_group_jobs(sc) -> set:
    # job starts reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(None))


@pytest.fixture
def no_exchange_reuse(spark):
    key = "spark.sql.exchange.reuse"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield
    spark.conf.set(key, before)


@pytest.mark.parametrize("kind", sorted(BUDGET))
def test_pipeline_jobs_per_batch(spark, tmp_path, no_exchange_reuse, kind):
    sc = spark.sparkContext
    # the count covers jobs outside any job group: clear a group an
    # earlier test may have left on this thread
    sc.setLocalProperty("spark.jobGroup.id", None)
    sink = MemoryTableSink() if kind == "memory" else ParquetTableSink(str(tmp_path))
    pipe = CdcPipeline(config=CONFIG, sink=sink)
    frames = [tiny_frame(spark, [(e,) for e in b], "value string") for b in _batches()]
    counts = []
    for batch_id, frame in enumerate(frames):
        before = _no_group_jobs(sc)
        pipe.process_batch(frame, batch_id)
        counts.append(len(_no_group_jobs(sc) - before))
    assert counts == BUDGET[kind], f"{kind} sink jobs per batch: {counts}"


# -- streaming gates ---------------------------------------------------------

#: jobs of two consecutive ``process_batch`` calls per gate: the first on
#: a fresh store, the second against the state the first left
GATE_BUDGET = {
    "heavy_hitters": [12, 14],
    "multimodal": [46, 30],
    "neardup": [25, 27],
    "novelty": [3, 3],
    "quality": [10, 10],
    "semantic": [22, 32],
    "vector": [19, 17],
}

_TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "a stitch in time saves nine said the old tailor",
    "spark runs jobs across a cluster of executors",
    "the quick brown fox jumps over the lazy cat",
    "streaming gates keep their state in parquet stores",
    "a stitch in time saves nine said the old tailor",
]


def _vec(i):
    return [float((i * 7 + j * 3) % 5) + 0.1 * j for j in range(8)]


def _gate_batches(spark):
    def frame(ids):
        rows = [(i, _TEXTS[i % len(_TEXTS)], _vec(i % 4), i % 2) for i in ids]
        return tiny_frame(
            spark,
            rows,
            "doc_id long, text string, embedding array<double>, label int",
        ).localCheckpoint()

    return frame(range(0, 6)), frame(range(6, 12))


def _gate(spark, root, kind):
    from cdc_data_lake_pyspark_spark.operators.classifier import nb_train
    from cdc_data_lake_pyspark_spark.operators.similarity import (
        fit_ivf_pq,
        save_ivf_pq_prefit,
    )
    from cdc_data_lake_pyspark_spark.streaming.heavy_hitters import (
        StreamingHeavyHitters,
    )
    from cdc_data_lake_pyspark_spark.streaming.multimodal_gate import (
        StreamingMultimodalGate,
    )
    from cdc_data_lake_pyspark_spark.streaming.neardup import StreamingNearDupGate
    from cdc_data_lake_pyspark_spark.streaming.novelty import StreamingNoveltyGate
    from cdc_data_lake_pyspark_spark.streaming.quality_gate import (
        StreamingQualityGate,
    )
    from cdc_data_lake_pyspark_spark.streaming.semantic import StreamingSemanticGate
    from cdc_data_lake_pyspark_spark.streaming.vector_gate import (
        StreamingVectorDedupGate,
    )

    def prefit_dir():
        vecs = tiny_frame(
            spark, [(i, _vec(i)) for i in range(8)], "vec_id long, embedding array<double>"
        )
        d = f"{root}/vec"
        save_ivf_pq_prefit(spark, fit_ivf_pq(vecs, n_clusters=2, m_sub=2, k=2), d)
        return d

    if kind == "heavy_hitters":
        return StreamingHeavyHitters(root, key_col="text", threshold=2, width=16)
    if kind == "multimodal":
        return StreamingMultimodalGate(f"{root}/text", prefit_dir(), n_probe=2)
    if kind == "neardup":
        return StreamingNearDupGate(root)
    if kind == "novelty":
        return StreamingNoveltyGate(root)
    if kind == "quality":
        first, _ = _gate_batches(spark)
        return StreamingQualityGate(nb_train(first, n_buckets=16), root)
    if kind == "semantic":
        return StreamingSemanticGate(root, dim=8, id_col="doc_id")
    return StreamingVectorDedupGate(prefit_dir(), n_probe=2, id_col="doc_id")


@pytest.mark.parametrize("kind", sorted(GATE_BUDGET))
def test_gate_jobs_per_batch(spark, tmp_path, no_exchange_reuse, kind):
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", None)
    gate = _gate(spark, str(tmp_path), kind)
    counts = []
    for batch_id, frame in enumerate(_gate_batches(spark)):
        before = _no_group_jobs(sc)
        gate.process_batch(frame, batch_id)
        counts.append(len(_no_group_jobs(sc) - before))
    assert counts == GATE_BUDGET[kind], f"{kind} gate jobs per batch: {counts}"
