"""Property-based CDC semantics: random event batches must match the pure
reduction model (SURVEY §5.2 — duplicate keys, delete-then-insert,
multi-op interleavings).

Batch semantics under test (reference transaction_log_util.py:78-168):
routes apply in insert → upsert → delete order within a batch; the upsert
route dedups to the latest change per key by ts_ms; merge replaces every
existing row of a matched key with the single update row; delete drops
every row whose key appears on the delete route.

Each example's events are split into two batches, so the second batch
merges into and deletes from the table the first one created; the same
assertion runs over the in-memory and the parquet sink.
"""

import json
import tempfile

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from cdc_data_lake_pyspark_spark.apply import MemoryTableSink, ParquetTableSink
from cdc_data_lake_pyspark_spark.pipeline import CdcPipeline

CONFIG = [{"db": "testdb", "table": "t", "primary_key": "k"}]

events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),        # key
        st.sampled_from(["r", "c", "u", "d"]),        # op
        st.integers(min_value=0, max_value=99),       # value
    ),
    max_size=25,
)


def _envelope(key: int, op: str, val: int, ts: int) -> str:
    payload = json.dumps({"k": key, "v": val})
    return json.dumps(
        {
            "before": payload if op == "d" else None,
            "after": None if op == "d" else payload,
            "source": json.dumps({"db": "testdb", "table": "t"}),
            "op": op,
            "ts_ms": ts,
            "transaction": None,
        }
    )


def _expected(batches) -> list[tuple[int, int]]:
    """The reduction model, folded batch by batch over the (k, v) multiset
    of the table's rows; returns the sorted final state."""
    rows: list[tuple[int, int]] = []
    for events in batches:
        rows += [(k, v) for (k, op, v) in events if op in ("r", "c")]
        ups: dict[int, tuple[int, int]] = {}
        for k, op, v in events:
            if op == "u":
                ups[k] = (k, v)  # later event (higher ts) wins
        dels = {k for (k, op, v) in events if op == "d"}
        rows = [p for p in rows if p[0] not in ups] + list(ups.values())
        rows = [p for p in rows if p[0] not in dels]
    return sorted(rows)


SINKS = {"memory": lambda root: MemoryTableSink(), "parquet": ParquetTableSink}


@pytest.mark.parametrize("kind", sorted(SINKS))
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=events_strategy, data=st.data())
def test_random_batches_match_reduction_model(spark, tmp_path, kind, events, data):
    cut = data.draw(st.integers(min_value=0, max_value=len(events)), label="cut")
    sink = SINKS[kind](tempfile.mkdtemp(dir=tmp_path))
    pipe = CdcPipeline(config=CONFIG, sink=sink)
    values = [(_envelope(k, op, v, ts),) for ts, (k, op, v) in enumerate(events)]
    for batch_id, batch in enumerate([values[:cut], values[cut:]]):
        if batch:
            pipe.process_batch(spark.createDataFrame(batch, "value string"), batch_id)
    got = []
    if sink.exists("testdb", "t"):
        got = sorted((r.k, r.v) for r in sink.read(spark, "testdb", "t").collect())
    assert got == _expected([events[:cut], events[cut:]])
