"""End-to-end CDC pipeline tests against a pure reduction oracle
(FIXTURES.md §B4): final state = latest surviving image per PK."""

import json

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from cdc_data_lake_pyspark_spark.apply import MemoryTableSink
from cdc_data_lake_pyspark_spark.fixtures import (
    ORDERS_TABLE_CONFIG,
    debezium_orders_envelopes,
    dms_orders_envelopes,
)
from cdc_data_lake_pyspark_spark.pipeline import CdcPipeline


def _expected_orders_state(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    key = F.col("o_orderkey")
    price = (
        F.when(key % 20 == 7, F.col("o_totalprice") * 1.2)
        .when((key % 10).isin(7, 8), F.col("o_totalprice") * 1.1)
        .otherwise(F.col("o_totalprice"))
    )
    return (
        orders.filter(key % 10 != 9)
        .withColumn("o_totalprice", price)
        .select(
            "o_custkey",
            "o_orderdate",
            "o_orderkey",
            "o_orderpriority",
            "o_orderstatus",
            "o_totalprice",
        )
    )


def _run_pipeline(spark, sf_dir, fmt):
    env = (
        debezium_orders_envelopes(spark, sf_dir)
        if fmt == "debezium"
        else dms_orders_envelopes(spark, sf_dir)
    )
    sink = MemoryTableSink()
    pipe = CdcPipeline(config=ORDERS_TABLE_CONFIG, sink=sink, cdc_format=fmt)
    pipe.process_batch(env, batch_id=0)
    return sink.read(spark, "testdb", "orders")


def _assert_state_matches(got, expected):
    assert sorted(got.columns) == sorted(expected.columns)
    g = got.select(*sorted(got.columns))
    e = expected.select(*sorted(expected.columns))
    assert g.count() == e.count()
    assert g.exceptAll(e).isEmpty()
    assert e.exceptAll(g).isEmpty()


def test_debezium_end_to_end(spark, sf_dir):
    got = _run_pipeline(spark, sf_dir, "debezium")
    _assert_state_matches(got, _expected_orders_state(spark, sf_dir))


def test_dms_end_to_end(spark, sf_dir):
    got = _run_pipeline(spark, sf_dir, "dms")
    _assert_state_matches(got, _expected_orders_state(spark, sf_dir))


def test_orderdate_is_timestamp_typed(spark, sf_dir):
    got = _run_pipeline(spark, sf_dir, "debezium")
    assert dict(got.dtypes)["o_orderdate"] == "timestamp"


def _env(op, data, ts, table="t", before=None):
    return Row(
        value=json.dumps(
            {
                "before": json.dumps(before) if before else None,
                "after": json.dumps(data) if data else None,
                "source": json.dumps({"db": "d", "table": table}),
                "op": op,
                "ts_ms": ts,
                "transaction": None,
            }
        )
    )


_CFG = [{"db": "d", "table": "t", "primary_key": "id"}]


def test_schema_evolution_new_column_mid_stream(spark):
    sink = MemoryTableSink()
    pipe = CdcPipeline(config=_CFG, sink=sink)
    pipe.process_batch(spark.createDataFrame([_env("c", {"id": 1, "v": "a"}, 1)]))
    # second batch carries a brand-new column
    pipe.process_batch(
        spark.createDataFrame([_env("c", {"id": 2, "v": "b", "extra": 7}, 2)])
    )
    out = sink.read(spark, "d", "t")
    rows = {r.id: r for r in out.collect()}
    assert rows[1].extra is None and rows[2].extra == 7


def test_upsert_creates_missing_table(spark):
    sink = MemoryTableSink()
    pipe = CdcPipeline(config=_CFG, sink=sink)
    pipe.process_batch(spark.createDataFrame([_env("u", {"id": 1, "v": "x"}, 1)]))
    assert sink.read(spark, "d", "t").collect()[0].v == "x"


def test_delete_then_reinsert_within_batch_order(spark):
    # reference applies insert→upsert→delete per batch: a delete in the
    # same batch as an insert of the same key removes it.
    sink = MemoryTableSink()
    pipe = CdcPipeline(config=_CFG, sink=sink)
    batch = spark.createDataFrame(
        [
            _env("c", {"id": 1, "v": "a"}, 1),
            _env("d", None, 2, before={"id": 1, "v": "a"}),
            _env("c", {"id": 2, "v": "keep"}, 3),
        ]
    )
    pipe.process_batch(batch)
    out = {r.id for r in sink.read(spark, "d", "t").collect()}
    assert out == {2}


def test_multi_table_fanout(spark):
    sink = MemoryTableSink()
    cfg = [
        {"db": "d", "table": "a", "primary_key": "id"},
        {"db": "d", "table": "b", "primary_key": "id"},
    ]
    pipe = CdcPipeline(config=cfg, sink=sink)
    batch = spark.createDataFrame(
        [
            _env("c", {"id": 1}, 1, table="a"),
            _env("c", {"id": 2}, 2, table="b"),
            _env("u", {"id": 2, "v": 1}, 3, table="b"),
        ]
    )
    pipe.process_batch(batch)
    assert sink.read(spark, "d", "a").count() == 1
    b = {r.id: r for r in sink.read(spark, "d", "b").collect()}
    assert b[2].v == 1


def test_parallel_apply_failure_is_contained(spark, caplog):
    """Overlapped per-table apply, failure path (ADVICE r4): the first
    worker failure fails the batch (fail-fast like the serial path),
    not-yet-started tables are cancelled, in-flight tables are joined
    before the batch cache is released, and secondary failures are
    surfaced in the log instead of silently dropped."""
    import logging

    class FailingSink(MemoryTableSink):
        def __init__(self, fail_tables):
            super().__init__()
            self.fail_tables = set(fail_tables)

        def merge(self, cfg, df, ts_guard=None):
            if cfg.table in self.fail_tables:
                raise RuntimeError(f"boom:{cfg.table}")
            return super().merge(cfg, df, ts_guard=ts_guard)

    tables = list("abcdef")
    cfg = [{"db": "d", "table": t, "primary_key": "id"} for t in tables]
    batch = spark.createDataFrame(
        [_env("u", {"id": i, "v": i}, i, table=t) for i, t in enumerate(tables)]
    )

    # one failing table: its error propagates; the run terminates cleanly
    sink = FailingSink(["c"])
    pipe = CdcPipeline(config=cfg, sink=sink, max_parallel_tables=3)
    with pytest.raises(RuntimeError, match="boom:c"):
        pipe.process_batch(batch)

    # two failing tables: first failure raises, the other is LOGGED when
    # it was already in flight (not silently dropped)
    sink2 = FailingSink(["a", "f"])
    pipe2 = CdcPipeline(config=cfg, sink=sink2, max_parallel_tables=6)
    logger = "cdc_data_lake_pyspark_spark.concurrency"
    with caplog.at_level(logging.WARNING, logger):
        with pytest.raises(RuntimeError, match="boom:"):
            pipe2.process_batch(batch)
    assert any(
        r.name == logger and "also failed" in r.getMessage() for r in caplog.records
    )


def test_empty_batch_short_circuit(spark):
    sink = MemoryTableSink()
    pipe = CdcPipeline(config=_CFG, sink=sink)
    empty = spark.createDataFrame([], "value string")
    pipe.process_batch(empty)  # must not raise
    assert not sink.tables


def test_precombine_key_overrides_ts_order(spark):
    """With precombine_key='ver', the higher-version row must win even when
    its envelope ts_ms is older (the reference's precombine semantics)."""

    def env(op, ts, key, ver, val):
        payload = json.dumps({"k": key, "ver": ver, "val": val})
        return json.dumps(
            {
                "before": None,
                "after": payload,
                "source": json.dumps({"db": "testdb", "table": "t"}),
                "op": op,
                "ts_ms": ts,
                "transaction": None,
            }
        )

    rows = [
        (env("r", 100, 1, 1, "base"),),
        (env("u", 300, 1, 2, "low-ver-late-ts"),),
        (env("u", 200, 1, 5, "high-ver-early-ts"),),
    ]
    batch = spark.createDataFrame(rows, "value string")
    sink = MemoryTableSink()
    cfg = [{"db": "testdb", "table": "t", "primary_key": "k",
            "precombine_key": "ver"}]
    CdcPipeline(config=cfg, sink=sink).process_batch(batch)
    out = {r.k: (r.ver, r.val) for r in sink.read(spark, "testdb", "t").collect()}
    assert out[1] == (5, "high-ver-early-ts")


def test_ts_guard_stale_delete_within_batch(spark):
    """With the guard on, a delete whose ts precedes a same-batch upsert of
    the same key must NOT remove the newer image (without the guard the
    reference's insert→upsert→delete order lets it — covered by
    test_delete_then_reinsert_within_batch_order)."""
    sink = MemoryTableSink()
    pipe = CdcPipeline(config=_CFG, sink=sink, ts_guard="_cdc_ts_ms")
    batch = spark.createDataFrame(
        [
            _env("d", None, 5, before={"id": 1, "v": "x"}),
            _env("u", {"id": 1, "v": "newer"}, 10),
        ]
    )
    pipe.process_batch(batch)
    out = {r.id: r.v for r in sink.read(spark, "d", "t").collect()}
    assert out == {1: "newer"}


def test_ts_guard_stale_delete_cross_batch(spark):
    sink = MemoryTableSink()
    pipe = CdcPipeline(config=_CFG, sink=sink, ts_guard="_cdc_ts_ms")
    pipe.process_batch(spark.createDataFrame([_env("u", {"id": 1, "v": "a"}, 100)]))
    # stale delete from before the upsert: inert
    pipe.process_batch(
        spark.createDataFrame([_env("d", None, 50, before={"id": 1, "v": "a"})])
    )
    assert sink.read(spark, "d", "t").count() == 1
    # genuinely newer delete: applies
    pipe.process_batch(
        spark.createDataFrame([_env("d", None, 150, before={"id": 1, "v": "a"})])
    )
    assert sink.read(spark, "d", "t").count() == 0


def test_ts_guard_cross_batch_out_of_order(spark):
    # batch 2 carries an OLDER update than batch 1 → guarded merge keeps new
    sink = MemoryTableSink()
    pipe = CdcPipeline(config=_CFG, sink=sink, ts_guard="_cdc_ts_ms")
    pipe.process_batch(spark.createDataFrame([_env("u", {"id": 1, "v": "new"}, 100)]))
    pipe.process_batch(spark.createDataFrame([_env("u", {"id": 1, "v": "old"}, 50)]))
    out = sink.read(spark, "d", "t").collect()
    assert out[0].v == "new"
