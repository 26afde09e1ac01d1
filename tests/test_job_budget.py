"""Spark job counts of CdcPipeline batches, pinned per sink.

Wall time on a shared host is noise-bound; the number of Spark jobs a
batch launches is not, and it moves whenever a sink call starts doing
extra work (a second footer read, an empty table written and read back).
Three small batches over three tables run through each sink, and each
batch's jobs are counted exactly: the first batch only inserts (every
table is created by its first append), the next two insert, update and
delete.

Exchange reuse is off while counting.  With it on, whether AQE reuses a
shuffle stage that appears twice in one plan (the deduped update set
feeds both sides of the merge) depends on the order the plan's stages
finish, and the in-memory sink's counts moved by one or two jobs between
identical runs.
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
    "memory": [9, 60, 60],
    "parquet": [9, 51, 51],
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
