"""Streaming heavy-hitters soak: the event stream sliced into
micro-batches through ``StreamingHeavyHitters`` must leave a CMS cell
grid BIT-IDENTICAL to one batch sketch over the whole history (cell sums
are additive), flag every truly-hot key (CMS overcounts only — no false
negatives), and stay idempotent when a batch replays."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from cdc_data_lake_pyspark_spark.functions.sketch import cms_sketch
from cdc_data_lake_pyspark_spark.streaming.heavy_hitters import StreamingHeavyHitters
from cdc_data_lake_pyspark_spark.streaming.runner import start_foreach_batch_stream

SF_DIR = "/root/testdata/sf0.01"


def _cells_map(df):
    return {(r.hash_row, r.bucket): r.n for r in df.collect()}


def test_sliced_cms_state_equals_batch_sketch(spark, tmp_path):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        F.col("user_id").cast("string").alias("key"), "event_id"
    )
    gate = StreamingHeavyHitters(
        str(tmp_path / "hh"), threshold=40, depth=4, width=64
    )
    for s in range(4):
        gate.process_batch(
            ev.filter(F.col("event_id") % 4 == s), batch_id=s
        )
    merged = _cells_map(gate.cells(spark))
    oneshot = _cells_map(cms_sketch(ev, "key", depth=4, width=64))
    assert merged == oneshot


def test_truly_hot_keys_always_flagged_and_idempotent(spark, tmp_path):
    # key "hot" appears 120x spread over batches; "cold" 3x
    rows = [Row(key="hot", _i=i) for i in range(120)] + [
        Row(key="cold", _i=120 + i) for i in range(3)
    ]
    df = spark.createDataFrame(rows)
    gate = StreamingHeavyHitters(
        str(tmp_path / "hh2"), threshold=100, depth=4, width=256
    )
    third = 41
    for s in range(3):
        gate.process_batch(
            df.filter(
                (F.col("_i") >= s * third) & (F.col("_i") < (s + 1) * third)
            ).select("key"),
            batch_id=s,
        )
    hot = {r.key: (r.est, r.batch_id) for r in gate.hot_keys(spark).collect()}
    assert "hot" in hot and hot["hot"][0] >= 120  # CMS never undercounts
    assert "cold" not in hot  # 3 « threshold and width is ample
    # the key is logged ONCE, at the batch where it crossed
    assert gate.hot_keys(spark).count() == 1

    # checkpoint replay: re-running a processed batch mutates nothing
    before = _cells_map(gate.cells(spark))
    gate.process_batch(df.select("key"), batch_id=1)
    assert _cells_map(gate.cells(spark)) == before
    assert gate.hot_keys(spark).count() == 1


def test_stream_wiring_end_to_end(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    spark.createDataFrame(
        [Row(key=f"k{i % 5}") for i in range(200)]
    ).coalesce(1).write.mode("append").json(src)
    stream = spark.readStream.schema("key string").json(src)
    gate = StreamingHeavyHitters(
        str(tmp_path / "state"), threshold=30, width=128
    )
    q = start_foreach_batch_stream(
        stream, gate.process_batch, str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    flagged = {r.key for r in gate.hot_keys(spark).collect()}
    assert flagged == {f"k{i}" for i in range(5)}  # each key count 40 >= 30


def test_partial_batch_replay_does_not_double_count(spark, tmp_path):
    """Crash AFTER the cells append but BEFORE the ledger append: the
    replayed batch re-appends an identical batch sketch.  The batch_id
    stamp + per-(batch_id, cell) dedupe must collapse the two copies, so
    the merged grid equals the one-shot sketch (no permanent
    double-count)."""
    rows = [Row(key=f"k{i % 7}") for i in range(140)]
    df = spark.createDataFrame(rows)
    gate = StreamingHeavyHitters(
        str(tmp_path / "hh3"), threshold=15, depth=4, width=64
    )
    b0 = df.filter(F.col("key") != "k6").select("key")
    b1 = df.filter(F.col("key") == "k6").select("key")
    gate.process_batch(b0, batch_id=0)

    # simulate the partially-applied batch 1: cells landed, ledger did not
    sketch = cms_sketch(b1, "key", depth=4, width=64).withColumn(
        "batch_id", F.lit(1).cast("long")
    )
    sketch.write.mode("append").parquet(gate.cells_dir)

    # checkpoint replay of batch 1 runs the full process_batch
    gate.process_batch(b1, batch_id=1)

    merged = _cells_map(gate.cells(spark))
    oneshot = _cells_map(
        cms_sketch(df.select("key"), "key", depth=4, width=64)
    )
    assert merged == oneshot
    # every key truly >= threshold is flagged exactly once
    assert gate.hot_keys(spark).groupBy("key").count().filter(
        F.col("count") > 1
    ).count() == 0


def test_legacy_cells_without_batch_id_still_sum(spark, tmp_path):
    """Migration guard (ADVICE r6): a cells directory written BEFORE the
    batch_id stamp reads back with batch_id NULL.  Those rows must be
    grouped per source FILE (surrogate id), not collapsed into one NULL
    group where max(n) replaces the historical sum."""
    rows = [Row(key=f"k{i % 5}") for i in range(60)]
    df = spark.createDataFrame(rows)
    gate = StreamingHeavyHitters(
        str(tmp_path / "hh4"), threshold=1000, depth=4, width=64
    )
    # two legacy appends (pre-migration format: no batch_id column),
    # each a one-shot sketch over half the stream
    b0 = df.limit(30)
    b1 = df.subtract(df.limit(30)) if False else df.exceptAll(df.limit(30))
    for part in (b0, b1):
        cms_sketch(part, "key", depth=4, width=64).coalesce(1).write.mode(
            "append"
        ).parquet(gate.cells_dir)
    merged = _cells_map(gate.cells(spark))
    oneshot = _cells_map(cms_sketch(df, "key", depth=4, width=64))
    assert merged == oneshot

    # and a post-migration stamped batch folds in on top of legacy state
    extra = spark.createDataFrame([Row(key="k0")] * 10)
    gate.process_batch(extra, batch_id=5)
    merged2 = _cells_map(gate.cells(spark))
    oneshot2 = _cells_map(
        cms_sketch(df.unionByName(extra), "key", depth=4, width=64)
    )
    assert merged2 == oneshot2


def test_crash_before_commit_after_both_appends_replays_clean(
    spark, tmp_path, monkeypatch
):
    """Both the cells and the hot appends of batch 1 land, then the
    batch dies before its commit marker.  The replay must leave a grid
    equal to the one-shot sketch and flag no hot key twice."""
    from cdc_data_lake_pyspark_spark.streaming import heavy_hitters

    df = spark.createDataFrame([Row(key=f"k{i % 7}") for i in range(140)])
    gate = StreamingHeavyHitters(
        str(tmp_path / "hh5"), threshold=15, depth=4, width=64
    )
    b0 = df.filter(F.col("key") != "k6").select("key")
    b1 = df.filter(F.col("key") == "k6").select("key")
    gate.process_batch(b0, batch_id=0)

    def crash(*args, **kwargs):
        raise RuntimeError("injected crash before the commit")

    monkeypatch.setattr(heavy_hitters, "commit", crash)
    with pytest.raises(RuntimeError, match="injected"):
        gate.process_batch(b1, batch_id=1)
    monkeypatch.undo()
    # non-vacuous: batch 1 really flagged k6 before it died
    assert gate.hot_keys(spark).filter(F.col("key") == "k6").count() == 1

    gate.process_batch(b1, batch_id=1)  # the replay
    oneshot = _cells_map(cms_sketch(df.select("key"), "key", depth=4, width=64))
    assert _cells_map(gate.cells(spark)) == oneshot
    keys = [r.key for r in gate.hot_keys(spark).collect()]
    assert sorted(keys) == sorted(set(keys)) == [f"k{i}" for i in range(7)]
